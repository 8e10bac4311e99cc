package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A2 `get_quality_dist` (ref: seqtables.py:1328-1377,
  * numpy_ops.py:137-371): FASTQC-style per-position-bin quality statistics.
  *
  * Bin presets mirror the reference: `fastqc` = positions 1..9 singly then
  * width-5 ranges (and width-10 past 300); `even` = 10 equal-width bins over
  * the window. Phred 0 (null quality / uncovered) is excluded when
  * `excludeNullQuality`, like the reference default.
  *
  * Percentile contract (ref: numpy_ops.py:243-250): the user's percentile
  * list is always unioned with the program-required {0, 10, 25, 50, 75, 90,
  * 100}, so the p0/p10/p25/p50/p75/p90/p100 columns are always present.
  * Percentiles are Spark's exact `percentile` aggregate (linear
  * interpolation — numpy.percentile semantics); bin cardinality is dozens,
  * so exactness costs nothing. The box-plot sample frame
  * (numpy_ops.py:311-325) is reproduced by [[boxPlotSample]]: a
  * `sampleSize`-point synthetic sample whose 5%-stratum layout matches the
  * reference's — [p10 ×3, p25 ×4, p50 ×6, p75 ×4, p90 ×3] at the default
  * size 20 — useful for feeding box-plot renderers without shipping the
  * raw data.
  *
  * One map stage and one aggregate keyed by bin (cardinality ≈ dozens):
  * each position finds its bins in a literal [[PositionIndex]] (no join
  * against the bin list), one array `percentile` gives every percentile
  * column, and the dozens of result rows are sorted in one partition (no
  * range shuffle). Overlapping bins count a position once per bin.
  *
  * Output: (bin_label, bin_start, bin_end, n, mean, median, min, max,
  * p0, p10, p25, p50, p75, p90, p100, <extra user percentiles>).
  */
object QualityDist {

  /** Percentiles the reference always computes (numpy_ops.py:246). */
  val ProgramRequired: Seq[Double] = Seq(0, 10, 25, 50, 75, 90, 100)

  def fastqcBins(maxPos: Int): Seq[(Int, Int)] =
    (1 to 9).map(i => (i, i)) ++
      (10 to math.min(299, maxPos) by 5).map(p => (p, p + 4)) ++
      (300 to maxPos by 10).map(p => (p, p + 9))

  def evenBins(minPos: Int, maxPos: Int, n: Int = 10): Seq[(Int, Int)] = {
    val width = math.max(1, (maxPos - minPos + 1) / n)
    (minPos to maxPos by width).map(p => (p, math.min(p + width - 1, maxPos)))
  }

  /** @param long long form (read_id, position, base, qual)
    * @param bins inclusive position ranges
    * @param percentiles extra percentiles beyond [[ProgramRequired]]
    */
  def apply(
      long: DataFrame,
      bins: Seq[(Int, Int)],
      excludeNullQuality: Boolean = true,
      percentiles: Seq[Double] = Nil): DataFrame = {
    // one group per distinct bin; a listed duplicate covers its positions
    // twice, as a join against the bin list would
    val distinct = bins.distinct
    val covering = PositionIndex.lookup(
      bins.flatMap { b => val i = distinct.indexOf(b); (b._1 to b._2).map((_, i)) },
      col("position"))
    val base = if (excludeNullQuality) long.filter(col("qual") > 0) else long
    // user percentiles round to integers BY THE REFERENCE'S CONTRACT
    // (numpy_ops.py:243 `[round(p, 0) for p in percentiles]`); Python
    // round() is half-to-even — round(12.5) = 12 — so math.rint, not
    // math.round (half-up), keeps half-integer requests reference-equal
    val per = (percentiles.map(math.rint) ++ ProgramRequired)
      .distinct.sorted
    val pct = (p: Double) => col("pct").getItem(per.indexOf(p))
    base
      .select(explode(covering).as("bin"), col("qual"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n"),
        avg(col("qual")).as("mean"),
        min(col("qual")).as("min"),
        max(col("qual")).as("max"),
        percentile(col("qual"), array(per.map(p => lit(p / 100.0)): _*)).as("pct"))
      .select(Seq(
        get(typedLit(distinct.map { case (a, e) => s"$a-$e" }), col("bin")).as("bin_label"),
        get(typedLit(distinct.map(_._1)), col("bin")).as("bin_start"),
        get(typedLit(distinct.map(_._2)), col("bin")).as("bin_end"),
        col("n"), col("mean"), pct(50).as("median"), col("min"), col("max")) ++
        per.map(p => pct(p).as(s"p${p.toInt}")): _*)
      // dozens of rows: one partition sorts them without a range shuffle
      .coalesce(1)
      .sortWithinPartitions(col("bin_start"))
  }

  /** The reference's synthetic box-plot sample (numpy_ops.py:311-325): a
    * `sampleSize`-point array per bin whose descriptive statistics match
    * the bin's percentiles, built purely from the p10/p25/p50/p75/p90
    * columns of [[apply]]'s output. Stratum boundaries are the reference's
    * 5% index grid; sizes below 10 are raised to 10 like the reference.
    */
  def boxPlotSample(dist: DataFrame, sampleSize: Int = 20): DataFrame = {
    val n = math.max(sampleSize, 10)
    val cuts = (0 until 20).map(k => (k * 0.05 * n).toInt)
    val strata: Seq[(String, Int)] = Seq(
      "p10" -> cuts(3),
      "p25" -> (cuts(7) - cuts(3)),
      "p50" -> (cuts(13) - cuts(7)),
      "p75" -> (cuts(17) - cuts(13)),
      "p90" -> (n - cuts(17)))
    val sample: Column = concat(strata.map { case (c, cnt) =>
      array_repeat(col(c), cnt)
    }: _*)
    dist.withColumn("box_sample", sample)
  }
}
