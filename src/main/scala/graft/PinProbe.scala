package graft

/** Dev utility behind every [[graft.queries.GoldenGate]] pin: prints the
  * BIT_XOR(xxhash64(row)) fold of each named query's output so a pin can
  * be DERIVED instead of hand-typed, and so determinism can be checked
  * the only way that means anything — two separate JVMs at two different
  * parallelism settings (`SPARK_GRAFT_CPUS` changes the shuffle partition
  * count, which changes partition merge order and exposes any
  * tie-breaking or float-accumulation instability the output may hide).
  * The pins were derived at 4 and 16 cores; 4 is the default.
  *
  * Usage: runMain graft.PinProbe <sfDir> <q1,q2,...>
  * Emits one `PIN <sf> <query> <hash>` line per query; a query that
  * throws emits `ERR <sf> <query> <message>` instead.
  */
object PinProbe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args.take(2)
    val spark = Harness.session(4)
    val sf = sfDir.replaceAll("/+$", "").split('/').last
    names.split(',').foreach { name =>
      var hash = 0L
      // rawQueries: pin derivation must bypass the gate, or a stale pin
      // would block computing its own replacement
      val outcome = Harness.run(spark, name,
        (s, d) => SparkEntry.rawQueries(name)(s, d), sfDir)(df => hash = queries.GoldenGate.hashOf(df))
      println(outcome.errorLine.fold(s"PIN $sf $name $hash")(e => s"ERR $sf $name $e"))
    }
    spark.stop()
  }
}
