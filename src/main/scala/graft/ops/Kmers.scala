package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A4 `get_substrings` (ref: seqtables.py:936-1034): k-mer counting, both
  * contiguous and gapped (arbitrary position combinations).
  *
  * The C(P,k) combination space is generated driver-side and exploded as a
  * literal array (it must be bounded anyway — the reference's docs warn
  * about the blow-up; `combinations` enforces a cap and reports what was
  * dropped so callers can log it, SURVEY §7.4.5). Per read the work is a
  * pure projection; the aggregate is keyed by (combo, kmer) — partial
  * map-side combine keeps the shuffle proportional to distinct k-mers, not
  * reads.
  */
object Kmers {

  /** Contiguous k-mers at every start position of the window.
    * Output: (start_position, kmer, cnt). One code-point `substring` per
    * exploded start index, in whole-stage codegen: per read, window × k
    * characters are copied (the walk to each start allocates nothing).
    */
  def contiguous(reads: DataFrame, k: Int, minPos: Int): DataFrame =
    reads
      .filter(length(col("seq")) >= k)
      .select(col("seq"), explode(sequence(lit(1), length(col("seq")) - lit(k) + lit(1))).as("i"))
      .groupBy(
        (col("i") + lit(minPos - 1)).as("start_position"),
        col("seq").substr(col("i"), lit(k)).as("kmer"))
      .agg(count(lit(1)).as("cnt"))

  /** Gapped k-mers over explicit position combinations (reference
    * coordinates, ascending). Output: (combo "p1,p2,..", kmer, cnt) — cnt is
    * DOUBLE when weighted, matching A1's weighting contract.
    */
  def gapped(
      reads: DataFrame,
      combos: Seq[Seq[Int]],
      minPos: Int,
      weights: Option[DataFrame] = None): DataFrame = {
    require(combos.nonEmpty, "no position combinations given")
    val exploded = reads.select(
      col("read_id"),
      split(col("seq"), "").as("chars"),
      explode(lit(combos.map(_.toArray).toArray)).as("combo"))
    val kmer = concat_ws("",
      transform(col("combo"), p => element_at(col("chars"), (p - lit(minPos) + lit(1)).cast("int"))))
    val projected = exploded.select(
      col("read_id"),
      array_join(col("combo"), ",").as("combo"),
      kmer.as("kmer"))
    weights match {
      case None =>
        projected.groupBy(col("combo"), col("kmer")).agg(count(lit(1)).as("cnt"))
      case Some(w) =>
        projected.join(broadcast(w), Seq("read_id"))
          .groupBy(col("combo"), col("kmer")).agg(sum(col("weight")).as("cnt"))
    }
  }

  /** Insertion-aware + subsampled substrings — the reference's
    * `include_insertions=True` branch (seqtables.py:999-1004 routes
    * through `view_with_ins`; `subsample_seqs` at :1006 subsamples before
    * counting). The combination alphabet interleaves insertion slots
    * between reference positions in (position, loc) order; slot labels
    * follow the reference's `col_to_str` ("p5", "p5_ins_1",
    * seqtables.py:1000-1006), insertion bases render lowercase and absent
    * slots '-' exactly like the wide view. Subsampling uses the
    * deterministic, partition-invariant hash order of
    * [[graft.core.SeqTable.subsampleExact]] rather than the reference's
    * `np.random.choice`.
    *
    * Output: ((combo "p1,p2_ins_1,..", kmer, cnt), droppedCombos).
    * Scale note: inherits the wide view's driver-collected slot list
    * (bounded: window length + observed insertion slots); the count
    * itself is the same (combo, kmer)-keyed partial aggregate as
    * [[gapped]].
    */
  def gappedWithInsertions(
      st: graft.core.SeqTable,
      k: Int,
      minInsCount: Long = 0,
      lowercaseInsertions: Boolean = true,
      subsampleSeqs: Option[Int] = None,
      maxCombos: Int = 5000,
      seed: Long = 42L): (DataFrame, Long) = {
    val base = subsampleSeqs.fold(st)(n => st.subsampleExact(n, seed = seed))
    // the wide view's column axis — SeqTable.insertionSlots is the shared
    // source of truth, so label order can't drift from the view's columns
    // (the wide view re-derives the same small distinct internally; one
    // extra driver-side job, bounded by the slot cardinality)
    val slots = base.insertionSlots(minInsCount)
    require(slots.length >= k,
      s"word_length $k exceeds the ${slots.length} available slots")
    val labels = slots.map { case (p, l) =>
      if (l == 0) s"p$p" else s"p${p}_ins_${-l}"
    }.toSeq
    val combos = slots.indices.combinations(k).take(maxCombos)
      .map(_.toArray).toArray
    val dropped = math.max(0L, binomial(slots.length, k) - combos.length)
    val labelsLit = typedLit(labels)
    val counted = base.viewWithInsertionsWide(minInsCount, lowercaseInsertions)
      .select(
        split(col("expanded_seq"), "").as("chars"),
        explode(lit(combos)).as("idx"))
      .select(
        array_join(
          transform(col("idx"), i => element_at(labelsLit, i + lit(1))),
          ",").as("combo"),
        concat_ws("",
          transform(col("idx"), i => element_at(col("chars"), i + lit(1)))).as("kmer"))
      .groupBy(col("combo"), col("kmer"))
      .agg(count(lit(1)).as("cnt"))
    (counted, dropped)
  }

  /** All C(positions, k) combinations with a hard cap; returns (kept,
    * droppedCount) so callers can log dropped coverage.
    */
  def combinations(positions: Seq[Int], k: Int, maxCombos: Int = 5000): (Seq[Seq[Int]], Long) = {
    val kept = positions.combinations(k).take(maxCombos).toSeq
    val total = binomial(positions.size, k)
    (kept, math.max(0L, total - kept.size))
  }

  private def binomial(n: Int, k: Int): Long = {
    if (k < 0 || k > n) return 0L
    var r = 1L
    for (i <- 1 to k) r = r * (n - k + i) / i
    r
  }
}
