package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.SeqTable

/** The literal position lookups that replaced the joins against driver-held
  * tables (quality bins, reference letters). Each operator is checked
  * against its former join formulation, kept here as the reference, and
  * its noop write is pinned to the jobs it runs.
  */
class PositionIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private val W = 20
  // 60 reads over window [1, 20], some bases and qualities off-alphabet:
  // 'N' for ignoreChars, '!' (phred 0) for the null-quality filter
  private val rows = (0 until 60).map { i =>
    (s"r$i",
      Array.fill(W)("ACGTN"(rnd.nextInt(5))).mkString,
      Array.fill(W)((33 + (if (rnd.nextInt(6) == 0) 0 else rnd.nextInt(41))).toChar).mkString)
  }
  private val st = SeqTable.fromReadsDf(spark.sparkContext.parallelize(rows, 3)
    .toDF("read_id", "seq", "qual"))
  private val long = st.long

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def sameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    val g = sorted(got)
    assert(g.nonEmpty, "the comparison must not be vacuous")
    assert(g == sorted(want))
  }

  test("lookup: the values at a position in entry order; empty in a gap, NULL outside") {
    val entries = Seq((3, "a"), (5, "b"), (3, "c"))
    val got = (1 to 6).toDF("position")
      .select(col("position"), PositionIndex.lookup(entries, col("position")).as("v"))
      .collect().map(r => r.getInt(0) -> Option(r.getSeq[String](1)).map(_.toList)).toMap
    assert(got == Map(1 -> None, 2 -> None, 3 -> Some(List("a", "c")), 4 -> Some(Nil),
      5 -> Some(List("b")), 6 -> None))
    val none = Seq(1).toDF("position")
      .select(PositionIndex.lookup(Seq.empty[(Int, String)], col("position"))).head()
    assert(none.isNullAt(0))
  }

  // ---- QualityDist against the range join over a broadcast bin frame

  private def qualityDistJoin(
      long: DataFrame, bins: Seq[(Int, Int)], excludeNullQuality: Boolean = true,
      percentiles: Seq[Double] = Nil): DataFrame = {
    val binsDf = broadcast(bins.map { case (a, b) => (s"$a-$b", a, b) }
      .toDF("bin_label", "bin_start", "bin_end"))
    val base = if (excludeNullQuality) long.filter(col("qual") > 0) else long
    val per = (percentiles.map(math.rint) ++ QualityDist.ProgramRequired).distinct.sorted
    base
      .join(binsDf, col("position").between(col("bin_start"), col("bin_end")))
      .groupBy(col("bin_label"), col("bin_start"), col("bin_end"))
      .agg(count(lit(1)).as("n"),
        Seq(avg(col("qual")).as("mean"), percentile(col("qual"), lit(0.5)).as("median"),
          min(col("qual")).as("min"), max(col("qual")).as("max")) ++
          per.map(p => percentile(col("qual"), lit(p / 100.0)).as(s"p${p.toInt}")): _*)
      .orderBy(col("bin_start"))
  }

  private def sameQualityDist(bins: Seq[(Int, Int)], excludeNullQuality: Boolean = true,
      percentiles: Seq[Double] = Nil): Unit = {
    val got = QualityDist(long, bins, excludeNullQuality, percentiles)
    sameRows(got, qualityDistJoin(long, bins, excludeNullQuality, percentiles))
    val starts = got.collect().map(_.getInt(1)).toSeq
    assert(starts == starts.sorted, "rows come sorted by bin_start")
  }

  test("QualityDist equals the range join: fastqc and even presets") {
    sameQualityDist(QualityDist.fastqcBins(W))
    sameQualityDist(QualityDist.evenBins(1, W, 3), percentiles = Seq(5, 12.5, 99))
  }

  test("QualityDist equals the range join: overlapping and repeated bins") {
    sameQualityDist(Seq((1, 8), (4, 12), (4, 12), (8, 8), (2, 20)))
  }

  test("QualityDist equals the range join: bins partly or wholly outside the window") {
    sameQualityDist(Seq((-3, 2), (18, 25), (30, 40), (7, 6)))
  }

  test("QualityDist equals the range join without the null-quality filter") {
    sameQualityDist(Seq((1, 5), (6, 20)), excludeNullQuality = false)
  }

  test("QualityDist of an empty bin list is empty, as the join was") {
    val got = QualityDist(long, Nil)
    assert(got.isEmpty)
    assert(got.columns.toSeq == qualityDistJoin(long, Nil).columns.toSeq)
  }

  // ---- Compare against the hash join over broadcast reference letters

  private def refLetters(refs: Seq[RefSeq]): DataFrame =
    refs.flatMap { r =>
      r.seq.zipWithIndex.map { case (c, i) => (r.name, r.pos + i, c.toString) }
    }.toDF("ref_name", "position", "ref_base")

  private def compareJoin(long: DataFrame, refs: Seq[RefSeq], treatAsMatch: Seq[Char],
      flip: Boolean, ignoreChars: Seq[Char]): DataFrame = {
    val tam = treatAsMatch.map(_.toString)
    val ign = ignoreChars.map(_.toString)
    val eq0 = col("base") === col("ref_base")
    val eq1 = if (tam.isEmpty) eq0
      else eq0 || col("base").isin(tam: _*) || col("ref_base").isin(tam: _*)
    val eq2 = if (flip) !eq1 else eq1
    val matched = if (ign.isEmpty) eq2
      else when(col("base").isin(ign: _*) || col("ref_base").isin(ign: _*), lit(null))
        .otherwise(eq2)
    long.join(broadcast(refLetters(refs)), Seq("position"))
      .select(col("read_id"), col("ref_name"), col("position"), matched.as("matched"))
  }

  private def hammingJoin(long: DataFrame, refs: Seq[RefSeq], normalized: Boolean,
      treatAsMatch: Seq[Char], ignoreChars: Seq[Char]): DataFrame = {
    val mism = sum(col("matched").cast("int"))
    compareJoin(long, refs, treatAsMatch, flip = true, ignoreChars)
      .groupBy(col("read_id"), col("ref_name"))
      .agg((if (normalized) mism / count(col("matched")) else mism.cast("double")).as("dist"))
  }

  private def mutationProfileJoin(long: DataFrame, refs: Seq[RefSeq],
      aggregatePositions: Boolean, normalized: Boolean, treatAsMatch: Seq[Char],
      ignoreChars: Seq[Char]): DataFrame = {
    val joined = Distributions.seqDist(long, ignoreChars).withColumnRenamed("base", "read_base")
      .join(broadcast(refLetters(refs)), Seq("position"))
    val events = joined.filter(col("ref_base") =!= col("read_base") &&
      (if (treatAsMatch.isEmpty) lit(true)
       else !col("read_base").isin(treatAsMatch.map(_.toString): _*)))
    val keys =
      if (aggregatePositions) Seq(col("ref_name"), col("ref_base"), col("read_base"))
      else Seq(col("ref_name"), col("position"), col("ref_base"), col("read_base"))
    val counts = events.groupBy(keys: _*).agg(sum(col("cnt")).as("cnt"))
    if (!normalized) counts
    else counts
      .join(joined.groupBy(col("ref_name")).agg(sum(col("cnt")).as("grand_total")),
        Seq("ref_name"))
      .withColumn("freq", col("cnt") / col("grand_total"))
      .drop("cnt", "grand_total")
  }

  // two refs at different offsets; "late" runs past the window's end
  private val refs = Seq(
    RefSeq("early", rows.head._2.take(12), 1),
    RefSeq("late", rows(1)._2.drop(8) + "ACGTA", 9))

  private val variants: Seq[(Seq[Char], Boolean, Seq[Char])] = Seq(
    (Nil, false, Nil),
    (Seq('A'), false, Nil),
    (Nil, true, Nil),
    (Nil, false, Seq('N', 'C')),
    (Seq('A', 'T'), true, Seq('C', 'G')))

  test("compareToReferences equals the hash join: treatAsMatch, flip and ignoreChars") {
    for ((tam, flip, ign) <- variants)
      sameRows(Compare.compareToReferences(long, refs, tam, flip, ign),
        compareJoin(long, refs, tam, flip, ign))
  }

  test("hammingDistance equals the hash join, plain and normalized") {
    for ((tam, _, ign) <- variants; normalized <- Seq(false, true))
      sameRows(Compare.hammingDistance(long, refs, normalized, tam, ign),
        hammingJoin(long, refs, normalized, tam, ign))
  }

  test("mutationProfile equals the hash join, per position and normalized") {
    for ((tam, _, ign) <- variants; agg <- Seq(true, false); normalized <- Seq(false, true))
      sameRows(Compare.mutationProfile(long, refs, agg, normalized, tam, ign),
        mutationProfileJoin(long, refs, agg, normalized, tam, ign))
  }

  // ---- jobs: no job builds or broadcasts a driver-held table

  private def noopJobs(df: => DataFrame): Int =
    TestSpark.jobsRun(df.write.format("noop").mode("overwrite").save())

  test("noop writes: QualityDist 2 jobs, hammingDistance 2, mutationProfile 3") {
    // one map stage per shuffle plus the result stage; the join
    // formulations also ran a broadcast job each, and QualityDist a range
    // sample and a range shuffle for its sort
    val bins = QualityDist.fastqcBins(W)
    assert(noopJobs(QualityDist(long, bins)) == 2)
    assert(noopJobs(Compare.hammingDistance(long, refs)) == 2)
    assert(noopJobs(Compare.mutationProfile(long, refs)) == 3)
    assert(noopJobs(qualityDistJoin(long, bins)) > 2)
  }
}
