package graft

/** Plan-audit utility: time one named [[SparkEntry.queries]] entry at a
  * given SF dir and print its formatted physical plan. Usage:
  *
  *   sbt "runMain graft.Explain q_decontaminate /root/testdata/sf0.1 3"
  *
  * The per-iteration wall times bracket the plan dump so a slow query can
  * be attributed (exchange? UDF? broadcast wait?) without re-running the
  * whole bench. Uses Bench's session (local[32] unless `SPARK_GRAFT_CPUS`
  * is set) so timings are comparable to the bench artifact.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 2
    val spark = Harness.session(32)
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).explain("formatted")
    (0 until iters).foreach { i =>
      var n = 0L
      val outcome = Harness.run(spark, name, fn, sfDir)(df => n = df.count())
      println(outcome.seconds.fold(s"iter $i: failed: ${outcome.errorLine.get}")(
        s => f"iter $i%d: $s%.3f s ($n%d rows)"))
    }
    spark.stop()
  }
}
