package perfbench

/** Plan-retention check: runs one pass of every workload and asserts that
  * the executed plan of each call's `noop` write still holds the operator
  * under test. Every call with a DataFrame result is covered; the two
  * calls that return written files (`io.Bam.writeSharded`,
  * `io.Bai.buildAll`) have no plan to check. Markers such as the entropy,
  * Hamming, consensus-window and quality-percentile ones are operators a
  * `count()` lets the optimizer prune.
  *
  * Usage: perfbench.PlanCheck --work DIR   (exit 1 on any missing operator)
  */
object PlanCheck {
  val required: Seq[(String, Seq[String])] = Seq(
    "io.Fastq.read" -> Seq("SerializeFromObject"),
    "core.SeqTable.fromReadsDf" -> Seq("rpad("),
    "core.SeqTable.long" -> Seq("posexplode(arrays_zip"),
    "ops.Distributions.seqDist" -> Seq("HashAggregate", "posexplode"),
    "ops.Distributions.consensus" -> Seq("Window [", "row_number()"),
    "ops.Distributions.entropy" -> Seq("ln(freq"),
    "ops.Compare.hammingDistance" -> Seq("BroadcastHashJoin", "cast(matched"),
    "ops.Compare.mutationProfile" -> Seq("BroadcastHashJoin", "NOT (ref_base", "sum(cnt"),
    "ops.QualityDist.apply" -> Seq("BroadcastNestedLoopJoin", "percentile"),
    "core.SeqTable.qualityFilter" -> Seq("Filter", "size(filter("),
    "ops.Kmers.contiguous" -> Seq("HashAggregate", "kmer", "slice("),
    "io.Bam.read" -> Seq("SerializeFromObject"),
    "core.SeqTable.fromSam" -> Seq("align_read"),
    "ops.InsertionStats.seqDist" -> Seq("align_read", "HashAggregate"),
    "io.Bam.fetchSharded" -> Seq("SerializeFromObject"))

  def main(argv: Array[String]): Unit = {
    val work = argv.grouped(2).collect { case Array("--work", v) => v }.toSeq.headOption
      .getOrElse(throw new IllegalArgumentException("missing --work"))
    val spark = Main.session(work)
    val log = new PlanLog
    spark.listenerManager.register(log)
    val plans = Workloads.all.flatMap { w =>
      val dir = Main.fresh(s"$work/inputs-${w.name}")
      val facts = w.generate(spark, dir, 1L, Main.cores)
      val p = new Pass(spark, None, Some(log))
      w.pass(p, dir, facts)
      p.ops.filter(_.error.nonEmpty).foreach(o => println(s"ERROR ${o.name}: ${o.error.get}"))
      p.plans
    }.toMap
    val failures = required.flatMap { case (call, markers) =>
      val plan = plans.getOrElse(call, "")
      val missing = markers.filterNot(plan.contains)
      println(s"${if (missing.isEmpty) "OK  " else "FAIL"} $call" +
        (if (missing.isEmpty) "" else s": noop plan lacks ${missing.mkString(", ")}"))
      missing
    }
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
