package graft

/** Bench-drift attribution probe: separates JIT/session noise from real
  * plan regressions for any registered query set.
  *
  * Usage: `runMain graft.DriftProbe <sfDir> <q1,q2,...> [reps]`
  *
  * For each query it runs `reps` same-JVM repetitions from a cold start
  * and prints the full descent curve plus min/median/max. Run the main
  * TWICE (two sbt invocations = two fresh JVMs) to separate same-JVM
  * JIT descent from cross-JVM machine noise:
  *   - descending curve, stable floor across JVMs → JIT depth;
  *   - flat curve, floors differing across JVMs → machine/session
  *     noise (CPU contention, page cache) — annotate, don't chase;
  *   - flat curve at a HIGHER level than the previous round in both
  *     JVMs → a real regression; bisect the plan.
  */
object DriftProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1) args(1).split(",").toSeq
      else Seq("q_bam_fetch_sharded", "q_bam_dist", "q_heaps_fit", "q_lr_quality")
    val reps = if (args.length > 2) args(2).toInt else 8
    val spark = Harness.session(32)
    names.foreach { name =>
      val fn = SparkEntry.rawQueries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val runs = SubTimings.withRun(s"drift-${System.nanoTime()}") {
        (1 to reps).map(_ => Harness.run(spark, name, fn, dir)(Bench.timed))
      }
      runs.flatMap(_.errorLine).headOption match {
        case Some(e) => println(s"DRIFT $name ERR $e")
        case None => report(name, runs.map(r => (r.seconds.get, r.stages)))
      }
    }
    spark.stop()
  }

  private def report(name: String, runs: Seq[(Double, Map[String, Double])]): Unit = {
    val reps = runs.size
    val times = runs.map(_._1)
    val sorted = times.sorted
    println(s"DRIFT $name " + times.map(t => f"$t%.2f").mkString(" "))
    println(f"DRIFT $name min ${sorted.head}%.2f " +
      f"median ${sorted(reps / 2)}%.2f max ${sorted.last}%.2f " +
      f"tail_mean ${times.drop(reps / 2).sum / (reps - reps / 2)}%.2f")
    // fixture-writing queries: per-stage bands (write vs plan), so the
    // drift attribution lands on the stage that actually moved
    val stages = runs.flatMap(_._2.keys).distinct.sorted
    stages.foreach { st =>
      val vals = runs.map(r => r._2.getOrElse(st, 0.0))
      println(f"DRIFT $name stage $st min ${vals.min}%.2f max ${vals.max}%.2f " +
        vals.map(v => f"$v%.2f").mkString(" "))
    }
    if (stages.nonEmpty) {
      val rest = runs.map(r => math.max(0.0, r._1 - r._2.values.sum))
      println(f"DRIFT $name stage rest min ${rest.min}%.2f max ${rest.max}%.2f " +
        rest.map(v => f"$v%.2f").mkString(" "))
    }
  }
}
