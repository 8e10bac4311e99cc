package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A reference sequence to compare reads against; `pos` is the reference
  * coordinate of its first character.
  */
final case class RefSeq(name: String, seq: String, pos: Int = 1)

/** Read × reference comparison products (SURVEY §2.4, J1-J7).
  *
  * The reference implements these as numpy broadcasts of an N×P matrix
  * against an M×P matrix (numpy_ops.py:21-104). Spark-first shape: the
  * (small, driver-held) reference set becomes a literal position →
  * (ref_name, ref_base) [[PositionIndex]], and each row of the long read
  * frame looks up the letters of the refs covering its position — no
  * join, no broadcast job, no shuffle on the read side; downstream
  * reductions group by (read_id, ref_name).
  */
object Compare {

  /** Each row of `df` (which has `position`) once per ref covering its
    * position, with that ref's `ref_name` and `ref_base` added: the rows of
    * an inner join on `position` against the refs' letters.
    */
  private def withRefBases(df: DataFrame, refs: Seq[RefSeq]): DataFrame = {
    val letters = refs.flatMap { r =>
      r.seq.zipWithIndex.map { case (c, i) => (r.pos + i, (r.name, c.toString)) }
    }
    // named fields: the generator's outputs are the ref_name and ref_base
    // columns themselves, so filters on them stay above it as written
    df.select(col("*"), inline(PositionIndex.lookup(letters, col("position"))
      .cast("array<struct<ref_name:string,ref_base:string>>")))
  }

  /** J1/J2 `compare_sequence_matrices` / `compare_to_references`
    * (ref: numpy_ops.py:21-104, seqtables.py:757-833).
    *
    * Order of operations preserved exactly: equality → OR treat_as_match
    * (on either side) → flip → NULL-out ignore_characters. Under
    * flip=true a treat-as-match char therefore becomes a forced MISMATCH —
    * the reference documents this quirk (numpy_ops.py:40-43). NaN in the
    * reference maps to SQL NULL here.
    *
    * Output: (read_id, ref_name, position, matched BOOLEAN nullable).
    * Positions compared = intersection of read and ref coverage (the
    * position lookup's inner-join rows), matching `_get_positions`
    * (seqtables.py:711-727).
    */
  def compareToReferences(
      long: DataFrame,
      refs: Seq[RefSeq],
      treatAsMatch: Seq[Char] = Nil,
      flip: Boolean = false,
      ignoreChars: Seq[Char] = Nil): DataFrame = {
    val tam = treatAsMatch.map(_.toString)
    val ign = ignoreChars.map(_.toString)
    val eq0 = col("base") === col("ref_base")
    val eq1 = if (tam.isEmpty) eq0 else eq0 || col("base").isin(tam: _*) || col("ref_base").isin(tam: _*)
    val eq2 = if (flip) !eq1 else eq1
    val matched =
      if (ign.isEmpty) eq2
      else when(col("base").isin(ign: _*) || col("ref_base").isin(ign: _*), lit(null)).otherwise(eq2)
    withRefBases(long, refs)
      .select(col("read_id"), col("ref_name"), col("position"), matched.as("matched"))
  }

  /** J3 `hamming_distance` (ref: seqtables.py:835-872): mismatch count per
    * (read, ref); NULL (ignored) positions are skipped by the sum, exactly
    * like the reference's NaN-skipping sum. `normalized` divides by the
    * number of compared (non-ignored) positions.
    * Output: (read_id, ref_name, dist DOUBLE).
    */
  def hammingDistance(
      long: DataFrame,
      refs: Seq[RefSeq],
      normalized: Boolean = false,
      treatAsMatch: Seq[Char] = Nil,
      ignoreChars: Seq[Char] = Nil): DataFrame = {
    val cmp = compareToReferences(long, refs, treatAsMatch, flip = true, ignoreChars)
    val mism = sum(col("matched").cast("int"))
    val denom = count(col("matched"))
    val dist = if (normalized) mism / denom else mism.cast("double")
    cmp.groupBy(col("read_id"), col("ref_name"))
      .agg(dist.as("dist"))
  }

  /** J5 `mutation_profile` (ref: seqtables.py:1055-1118): counts of each
    * (ref base → read base) substitution vs the reference(s). `normalized`
    * divides by the grand total of the letter distribution BEFORE matches
    * are removed, matching the reference's normalize-then-filter order.
    * Output: (ref_name, [position,] ref_base, read_base, cnt|freq).
    */
  def mutationProfile(
      long: DataFrame,
      refs: Seq[RefSeq],
      aggregatePositions: Boolean = true,
      normalized: Boolean = false,
      treatAsMatch: Seq[Char] = Nil,
      ignoreChars: Seq[Char] = Nil): DataFrame = {
    val dist = Distributions.seqDist(long, ignoreChars)
      .withColumnRenamed("base", "read_base")
    val joined = withRefBases(dist, refs)
    val total = if (normalized)
      joined.groupBy(col("ref_name")).agg(sum(col("cnt")).as("grand_total"))
    else null
    val events = joined
      .filter(col("ref_base") =!= col("read_base") &&
        (if (treatAsMatch.isEmpty) lit(true)
         else !col("read_base").isin(treatAsMatch.map(_.toString): _*)))
    val keys =
      if (aggregatePositions) Seq(col("ref_name"), col("ref_base"), col("read_base"))
      else Seq(col("ref_name"), col("position"), col("ref_base"), col("read_base"))
    val counts = events.groupBy(keys: _*).agg(sum(col("cnt")).as("cnt"))
    if (!normalized) counts
    else counts.join(broadcast(total), Seq("ref_name"))
      .withColumn("freq", col("cnt") / col("grand_total"))
      .drop("cnt", "grand_total")
  }

  /** J6 transition/transversion profile (ref: seqtables.py:1170-1221).
    * Note: the reference's set-difference at :1192-1196 inverts the TS/TV
    * membership test (a bug — it sums the complement); we implement the
    * documented intent: TS = A↔G, C↔T fraction, TV = the other
    * substitutions, ratio = TS/TV.
    * Output: one row (ts_freq, tv_freq, ratio).
    */
  def tsTvProfile(
      long: DataFrame,
      refs: Seq[RefSeq],
      ignoreChars: Seq[Char] = Nil): DataFrame = {
    val transitions = Seq("AG", "GA", "CT", "TC")
    val prof = mutationProfile(long, refs, aggregatePositions = true,
      normalized = false, ignoreChars = ignoreChars)
    prof
      .withColumn("cls",
        when(concat(col("ref_base"), col("read_base")).isin(transitions: _*), lit("TS"))
          .otherwise(lit("TV")))
      .agg(
        (sum(when(col("cls") === "TS", col("cnt")).otherwise(lit(0))) / sum(col("cnt"))).as("ts_freq"),
        (sum(when(col("cls") === "TV", col("cnt")).otherwise(lit(0))) / sum(col("cnt"))).as("tv_freq"))
      .withColumn("ratio", col("ts_freq") / col("tv_freq"))
  }

  /** J7 PWM scoring (ref: seqtables.py:874-880, numpy_ops.py:462-516):
    * per-read Σ log w(position, base) (or exp of it). The PWM is tiny —
    * broadcast-joined on (position, base).
    * @param pwm rows (position, base, weight)
    * Output: (read_id, score DOUBLE).
    */
  def pwmScore(
      long: DataFrame,
      pwm: DataFrame,
      logScale: Boolean = true): DataFrame = {
    val scored = long.join(broadcast(pwm), Seq("position", "base"))
      .groupBy(col("read_id"))
      .agg(sum(log(col("weight"))).as("log_score"))
    if (logScale) scored.withColumnRenamed("log_score", "score")
    else scored.select(col("read_id"), exp(col("log_score")).as("score"))
  }

  /** J4 all-pairs hamming distance (ref: numpy_ops.py:408-459's four dense
    * kernels collapse into one logical op). Exact mode: self cross-join of
    * the wide form with an array mismatch count — quadratic, only for small
    * N (the reference's einsum has the same blow-up). The 100 TB-safe
    * variant is Similarity.lshNearDuplicates.
    * Output: (read_id_a, read_id_b, dist INT), a < b.
    */
  def pairwiseHamming(reads: DataFrame): DataFrame = {
    val a = reads.select(col("read_id").as("read_id_a"), col("seq").as("seq_a"))
    val b = reads.select(col("read_id").as("read_id_b"), col("seq").as("seq_b"))
    a.join(b, col("read_id_a") < col("read_id_b"))
      .select(col("read_id_a"), col("read_id_b"),
        aggregate(
          zip_with(split(col("seq_a"), ""), split(col("seq_b"), ""),
            (x, y) => (x =!= y).cast("int")),
          lit(0), (acc, v) => acc + v).as("dist"))
  }
}
