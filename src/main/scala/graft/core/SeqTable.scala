package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.align.{AlignRead, Cigar}
import graft.model.{Alphabets, SeqTableMeta}

/** Spark-native SeqTable: the reference's (reads × positions × {seq,quality})
  * tensor (/root/reference/seqtables/core/seqtables.py:121-129) re-expressed
  * as two DataFrames plus metadata.
  *
  *  - `reads` (wide, one row per read): read_id STRING, seq STRING, qual
  *    STRING — both strings span the window [minPos, maxPos], column i of
  *    the string is reference position minPos+i; sentinels per Alphabets.
  *  - `insertions` (long): read_id, position INT, loc INT (negative,
  *    left-of-anchor; ref sam_to_arr.pyx:333-349), base STRING, qual INT
  *    (phred-adjusted; ref constructor_ops.py:323-329).
  *
  * Composition instead of the reference's DataArray subclassing: Spark
  * Datasets aren't extensible the way xarray is, and a wrapper keeps every
  * operator DataFrame-in/DataFrame-out so Catalyst can optimize end-to-end.
  */
final case class SeqTable(
    reads: DataFrame,
    insertions: DataFrame,
    meta: SeqTableMeta,
    minPos: Int,
    maxPos: Int) {

  def spark: SparkSession = reads.sparkSession
  def positions: Seq[Int] = minPos to maxPos

  /** Long/exploded analytic form: (read_id, position, base, qual).
    * qual is phred-adjusted (0 = null quality / uncovered).
    * This is the canonical input of the per-position operators — one shuffle
    * keyed by `position` covers all of them.
    */
  def long: DataFrame = {
    val zipped = arrays_zip(split(col("seq"), ""), split(col("qual"), ""))
    reads.select(col("read_id"), posexplode(zipped))
      .select(
        col("read_id"),
        (col("pos") + lit(minPos)).as("position"),
        col("col").getField("0").as("base"),
        (ascii(col("col").getField("1")) - lit(meta.phredAdjust)).as("qual"))
  }

  /** Project the sequence plane (ref: seqtables.py:380-393 get_sequences). */
  def sequences: DataFrame = reads.select(col("read_id"), col("seq"))

  /** Project the quality plane as phred ints (ref: seqtables.py:395-406).
    * Output: read_id, qual_arr ARRAY<INT>.
    */
  def qualities: DataFrame =
    reads.select(
      col("read_id"),
      transform(split(col("qual"), ""), c => ascii(c) - lit(meta.phredAdjust))
        .as("qual_arr"))

  /** Positional slice [from, to] (ref: seqtables.py:320-340 sel/isel).
    * Pure substring on the wide form — no shuffle.
    */
  def slicePositions(from: Int, to: Int): SeqTable = {
    val f = math.max(from, minPos); val t = math.min(to, maxPos)
    require(f <= t, s"slice [$from,$to] outside window [$minPos,$maxPos]")
    val start = f - minPos + 1; val len = t - f + 1
    copy(
      reads = reads.withColumn("seq", substring(col("seq"), start, len))
        .withColumn("qual", substring(col("qual"), start, len)),
      insertions = insertions.filter(col("position").between(f, t)),
      minPos = f, maxPos = t)
  }

  /** Uniform random subsample of reads (ref: seqtables.py:675-686). For an
    * exact count the reference draws without replacement; at scale we use
    * Bernoulli sampling (distributed, no global sort).
    */
  def subsample(fraction: Double, seed: Long = 42L): SeqTable = {
    val picked = reads.sample(withReplacement = false, fraction, seed)
    copy(
      reads = picked,
      insertions = insertions.join(picked.select("read_id"), Seq("read_id"), "left_semi"))
  }

  /** Exactly-n subsample (ref: seqtables.py:675-686 draws `numseqs` with
    * `random.choice`, replace optional). Ordering by a seeded hash of the
    * read id is deterministic AND partition-invariant — unlike `rand(seed)`,
    * whose stream depends on the partition layout. Without replacement this
    * is a top-n (distributed partial sort, then n rows to one task — n is
    * fixture-scale by the reference's own contract; the 100 TB path is the
    * fraction-based [[subsample]]). With replacement, draw multiplicities
    * are computed driver-side from the seeded RNG (bounded by n, not the
    * corpus) and applied by joining a broadcast multiplicity table against
    * a hash-ranked read index. Rank units are DISTINCT PHYSICAL ROWS —
    * ordered by (xxhash64(seed, read_id), read_id, full-row fingerprint)
    * — so rows sharing a read_id but differing elsewhere (paired-end
    * mates under one qname) sit adjacent in rank order yet are
    * SEPARATELY drawable, while bit-identical copies collapse to one
    * interval of their copy-count width. On tables whose rows are unique
    * per read_id the fingerprint tiebreak is inert and the draw is the
    * same seeded order a driver-side (hash, read_id) replay produces
    * (SeqTableSpec pins that). The rank is the
    * two-phase pattern from [[graft.ops.Packing.runningTotal]]:
    * range-repartition the distinct keys, cumsum of copy counts WITHIN each partition
    * (partition-local window — no single-task exchange; a spec pins it),
    * plus each partition's broadcast prefix total; the sorted draw list
    * is mapped onto the resulting rank intervals by binary search. Range
    * boundaries may vary run-to-run, but the global rank is
    * boundary-invariant, so the drawn multiset is deterministic. Like
    * the reference, drawn-twice reads appear twice (same read_id), while
    * the insertion table keeps one copy per distinct read.
    */
  def subsampleExact(
      n: Int,
      withReplacement: Boolean = false,
      seed: Long = 42L): SeqTable = {
    val ordered = Seq(xxhash64(lit(seed), col("read_id")), col("read_id"))
    if (!withReplacement) {
      val picked = reads.orderBy(ordered: _*).limit(n)
      copy(
        reads = picked,
        insertions = insertions.join(picked.select("read_id"), Seq("read_id"), "left_semi"))
    } else {
      val spark = reads.sparkSession
      import spark.implicits._
      // Narrow projection: one row per DISTINCT PHYSICAL ROW — keyed by
      // (read_id, full-row fingerprint), not read_id alone, so two rows
      // that share a read_id but differ in any other column (e.g.
      // paired-end mates sharing a qname) each own their own rank
      // interval and stay separately drawable. Truly identical copies
      // (a prior with-replacement sample) still collapse to one entry
      // with copy count __k — a width-k rank interval, exactly as if the
      // copies held adjacent ranks. Range-partitioned on the hash order;
      // localCheckpoint pins ONE partition layout across the totals job
      // and the cumsum job (a re-planned range exchange could resample
      // its boundaries between them).
      val nPart = spark.sessionState.conf.numShufflePartitions
      val rowFp = xxhash64(reads.columns.map(col): _*)
      val narrow = reads.select(col("read_id"), rowFp.as("__fp"))
        .withColumn("__h", xxhash64(lit(seed), col("read_id")))
        .groupBy(col("__h"), col("read_id"), col("__fp")).agg(count(lit(1)).as("__k"))
        .repartitionByRange(nPart, col("__h"), col("read_id"), col("__fp"))
        .withColumn("__pid", spark_partition_id())
        .localCheckpoint()
      val perPid = narrow.groupBy(col("__pid"))
        .agg(sum(col("__k")).cast("long").as("t"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val total = perPid.values.sum
      require(total > 0, "subsampleExact on an empty table")
      // exclusive prefix totals, one long per partition, shipped as a
      // single array literal indexed by pid
      val offsets: Seq[Long] = (0 until nPart)
        .map(p => perPid.getOrElse(p, 0L))
        .scanLeft(0L)(_ + _).dropRight(1)
      // driver-side seeded draws (bounded by n), sorted once; each read's
      // multiplicity is the number of draws inside its rank interval,
      // found by binary search over the broadcast-captured array — O(log n)
      // per distinct read, never a range join
      val rnd = new scala.util.Random(seed)
      val draws: Array[Long] = Array.fill(n)((rnd.nextLong() % total + total) % total).sorted
      val multOf = udf((lo: Long, hi: Long) => {
        def lb(x: Long): Int = {
          var l = 0; var r = draws.length
          while (l < r) { val m = (l + r) >>> 1; if (draws(m) < x) l = m + 1 else r = m }
          l
        }
        lb(hi) - lb(lo)
      })
      val localWin = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__pid")).orderBy(col("__h"), col("read_id"), col("__fp"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val pickedMult = narrow
        .withColumn("__cum", sum(col("__k")).over(localWin) +
          element_at(typedLit(offsets), col("__pid") + 1))
        .withColumn("__mult", multOf(col("__cum") - col("__k"), col("__cum")))
        .filter(col("__mult") > 0)
        .select(col("read_id"), col("__fp"), col("__mult"))
      // ≤ n picked rows → broadcast; one representative per DISTINCT
      // physical row (the fingerprint join makes collapsing safe — only
      // bit-identical copies share a (read_id, __fp) key), then explode
      // multiplicity
      val repWin = org.apache.spark.sql.expressions.Window
        .partitionBy(col("read_id"), col("__fp")).orderBy(col("read_id"))
      val picked = reads.withColumn("__fp", rowFp)
        .join(broadcast(pickedMult), Seq("read_id", "__fp"))
        .withColumn("__rep", row_number().over(repWin))
        .filter(col("__rep") === 1)
        .withColumn("__copy", explode(sequence(lit(1), col("__mult"))))
        .select(reads.columns.map(col): _*)
      copy(
        reads = picked,
        insertions = insertions.join(
          picked.select("read_id").distinct(), Seq("read_id"), "left_semi"))
    }
  }

  /** Keep reads where ≥ p% of non-null-quality bases have phred ≥ q
    * (ref: seqtables.py:1223-1258 quality_filter). Wide-form array math —
    * map-side only, plus a semi-join to prune the insertion table.
    */
  def qualityFilter(q: Int, p: Double, ignoreNullQual: Boolean = true): SeqTable = {
    val adj = lit(meta.phredAdjust)
    val quals = transform(split(col("qual"), ""), c => ascii(c) - adj)
    val denom = if (ignoreNullQual)
      size(filter(quals, v => v > 0)) else size(quals)
    val good = size(filter(quals, v => v >= lit(q)))
    val kept = reads.filter(good * lit(100.0) >= lit(p) * denom)
    copy(
      reads = kept,
      insertions = insertions.join(kept.select("read_id"), Seq("read_id"), "left_semi"))
  }

  /** Replace bases whose quality is in (0, q) with the fill letter
    * (ref: seqtables.py:1260-1303 convert_low_bases_to_null).
    */
  def convertLowBasesToNull(
      q: Int,
      replaceWith: Option[Char] = None,
      removeFromInsertions: Boolean = true): SeqTable = {
    val fill = lit(replaceWith.getOrElse(meta.fillNa).toString)
    val adj = lit(meta.phredAdjust)
    val masked = concat_ws("",
      zip_with(split(col("seq"), ""), split(col("qual"), ""),
        (b, qc) => when(ascii(qc) - adj < lit(q) && ascii(qc) - adj > 0, fill).otherwise(b)))
    copy(
      reads = reads.withColumn("seq", masked),
      insertions =
        if (removeFromInsertions) insertions.filter(col("qual") >= lit(q) || col("qual") <= 0)
        else insertions)
  }

  /** V1 `view_with_ins` (ref: seqtables.py:408-564) in the long-form shape
    * SURVEY §2.7 recommends over the reference's wide pivot: base cells
    * (loc=0) unioned with insertion cells (loc<0), ordered by the composite
    * (position, loc) key; insertion slots rarer than `minInsCount` reads
    * are dropped, like the reference's filter. Reads without a base at an
    * included insertion slot simply have no row — the dense-matrix
    * presentation (fill '-') is `viewWithInsertionsWide`.
    *
    * Output: (read_id, position, loc, base, qual).
    */
  def viewWithInsertions(
      minInsCount: Long = 0,
      lowercaseInsertions: Boolean = false): DataFrame = {
    val keptSlots =
      if (minInsCount <= 0) insertions
      else {
        val keep = insertions.groupBy(col("position"), col("loc"))
          .agg(countDistinct(col("read_id")).as("nr"))
          .filter(col("nr") >= minInsCount)
          .select("position", "loc")
        insertions.join(broadcast(keep), Seq("position", "loc"), "left_semi")
      }
    // lowercase = the reference's ascii+32 insertion rendering
    // (seqtables.py:479) so insertions are visually distinct in the view
    val insBase = if (lowercaseInsertions) lower(col("base")) else col("base")
    long.withColumn("loc", lit(0))
      .select("read_id", "position", "loc", "base", "qual")
      .unionByName(keptSlots.select(col("read_id"), col("position"), col("loc"),
        insBase.as("base"), col("qual")))
  }

  /** Wide presentation of V1: per read, the (position, loc)-sorted
    * concatenation of bases including insertion slots, '-' where a read has
    * no base at an included slot; `lowercaseInsertions` renders insertion
    * bases lowercase like the reference (seqtables.py:479, ascii+32).
    * Output: (read_id, expanded_seq).
    *
    * The dense matrix is inherently reads × slots, but it's assembled with
    * ONE groupBy(read_id) against a driver-collected slot list (slot
    * cardinality = window length + observed insertion slots — bounded and
    * small by nature), not a reads×slots crossJoin: each read's cells
    * aggregate into a slot-key→base map, and a literal slot array is
    * mapped over it, filling '-' for absent slots.
    */
  /** The (position, loc) slot axis of the insertion views, (p, l)-sorted —
    * the ONE source of truth for slot ordering, shared by
    * [[viewWithInsertionsWide]] and the insertion-aware substring counter
    * (`Kmers.gappedWithInsertions`) so column order and labels can never
    * drift apart. Driver-side by design: slot cardinality = window length
    * + observed insertion slots, bounded and small.
    */
  def insertionSlots(minInsCount: Long = 0): Seq[(Int, Int)] =
    viewWithInsertions(minInsCount)
      .select("position", "loc").distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1)))
      .sortBy(identity).toSeq

  def viewWithInsertionsWide(
      minInsCount: Long = 0,
      lowercaseInsertions: Boolean = false): DataFrame = {
    val longIns = viewWithInsertions(minInsCount, lowercaseInsertions)
    // slot key packs (position, loc) into one long; keyed in the
    // insertionSlots order ((p, l) lexicographic == key order)
    def slotKey(position: Long, loc: Long): Long = (position << 20) + (loc + (1L << 19))
    val slotKeys: Seq[Long] = insertionSlots(minInsCount)
      .map { case (p, l) => slotKey(p.toLong, l.toLong) }
    val keyCol = (col("position").cast("long") * lit(1L << 20)) +
      (col("loc").cast("long") + lit(1L << 19))
    longIns
      // duplicate read_ids (stackReads collisions, with-replacement draws)
      // would abort map_from_entries under the default EXCEPTION dedup
      // policy — merge their cells first, min(base) for determinism
      .groupBy(col("read_id"), keyCol.as("k"))
      .agg(min(col("base")).as("v"))
      .groupBy(col("read_id"))
      .agg(map_from_entries(
        collect_list(struct(col("k"), col("v")))).as("m"))
      .select(col("read_id"),
        array_join(
          transform(typedLit(slotKeys),
            k => coalesce(element_at(col("m"), k), lit(Alphabets.Deletion.toString))),
          "").as("expanded_seq"))
  }

  /** Re-stringify a position range, padding uncovered flanks with the fill
    * letter (ref: seqtables.py:566-673 slice_sequences). Output:
    * (read_id, subseq, subqual).
    */
  def sliceSequences(from: Int, to: Int): DataFrame = {
    val leftPad = math.max(0, minPos - from)
    val rightPad = math.max(0, to - maxPos)
    val f = math.max(from, minPos); val t = math.min(to, maxPos)
    val core =
      if (f > t) lit("")
      else substring(col("seq"), f - minPos + 1, t - f + 1)
    val coreQ =
      if (f > t) lit("")
      else substring(col("qual"), f - minPos + 1, t - f + 1)
    val fill = meta.fillNa.toString
    reads.select(
      col("read_id"),
      concat(lit(fill * leftPad), core, lit(fill * rightPad)).as("subseq"),
      concat(lit(Alphabets.NullQual.toString * leftPad), coreQ,
        lit(Alphabets.NullQual.toString * rightPad)).as("subqual"))
  }
}

object SeqTable {

  /** T2 `trim_str` (ref: constructor_ops.py:13-26): pad/trim a pre-aligned
    * string starting at `pos` into the window [minP, maxP] with `fill`.
    */
  def trimStr(seq: String, pos: Int, minP: Int, maxP: Int, fill: Char): String = {
    val sb = new StringBuilder
    var p = minP
    while (p <= maxP) {
      val i = p - pos
      sb += (if (i >= 0 && i < seq.length) seq.charAt(i) else fill)
      p += 1
    }
    sb.toString
  }

  /** S6 with per-read start positions (the reference accepts pos as scalar
    * or list, constructor_ops.py:430-439): window = [min pos, max pos+len-1],
    * each read trimmed/padded into it via T2 semantics.
    */
  def fromReadsPositioned(
      spark: SparkSession,
      rows: Seq[(String, String, String, Int)], // (read_id, seq, qual, pos)
      seqType: Option[String] = None,
      phredAdjust: Int = Alphabets.PhredAdjust): SeqTable = {
    import spark.implicits._
    require(rows.nonEmpty, "no reads")
    val st = seqType.getOrElse(
      Alphabets.guessSeqType(rows.view.take(1000).map(_._2)))
    val fill = Alphabets.fillFor(st)
    val minP = rows.map(_._4).min
    val maxP = rows.map(r => r._4 + r._2.length - 1).max
    val hasQ = rows.exists(r => r._3 != null && r._3.nonEmpty)
    val padded = rows.map { case (id, s, q, p) =>
      val q0 = if (q == null || q.isEmpty) Alphabets.NullQual.toString * s.length else q
      (id,
        trimStr(s, p, minP, maxP, fill),
        trimStr(q0, p, minP, maxP, Alphabets.NullQual))
    }
    SeqTable(padded.toDF("read_id", "seq", "qual"), emptyInsertions(spark),
      SeqTableMeta(st, phredAdjust, hasQuality = hasQ), minP, maxP)
  }

  /** P8 `_check_positions` (ref: seqtables.py:744-755): split requested
    * positions into (valid ∩ window, unknown); `setDiff = true` analyzes
    * the complement of the request instead, like the reference.
    */
  def checkPositions(
      requested: Seq[Int], minPos: Int, maxPos: Int,
      setDiff: Boolean = false): (Seq[Int], Seq[Int]) = {
    val window = minPos to maxPos
    val (in, out) = requested.partition(p => p >= minPos && p <= maxPos)
    if (setDiff) (window.diff(in), out) else (in, out)
  }

  /** Build from pre-aligned strings (ref: seqtables.py:285-293 ctor +
    * constructor_ops.py:377-516 seqs_to_datarray). Shorter reads are
    * right-padded with the fill letter; the window is [pos, pos+maxLen-1].
    */
  def fromReads(
      spark: SparkSession,
      rows: Seq[(String, String, String)], // (read_id, seq, qual-or-null)
      pos: Int = 1,
      seqType: Option[String] = None,
      phredAdjust: Int = Alphabets.PhredAdjust): SeqTable = {
    import spark.implicits._
    val st = seqType.getOrElse(
      Alphabets.guessSeqType(rows.view.take(1000).map(_._2)))
    val fill = Alphabets.fillFor(st)
    val maxLen = rows.map(_._2.length).max
    val hasQ = rows.exists(r => r._3 != null && r._3.nonEmpty)
    val padded = rows.map { case (id, s, q) =>
      val q0 = if (q == null || q.isEmpty) Alphabets.NullQual.toString * s.length else q
      (id,
        s + fill.toString * (maxLen - s.length),
        q0 + Alphabets.NullQual.toString * (maxLen - q0.length))
    }
    val reads = padded.toDF("read_id", "seq", "qual")
    SeqTable(reads, emptyInsertions(spark),
      SeqTableMeta(st, phredAdjust, hasQuality = hasQ),
      pos, pos + maxLen - 1)
  }

  /** Reads whose letters [[fromReadsDf]] guesses the sequence type from:
    * the first 1000 in partition order, the rows `limit(1000)` collects.
    */
  private val GuessRows = 1000

  /** Distributed S6: build from a DataFrame of pre-aligned reads
    * (read_id, seq[, qual]) without collecting — the window length and the
    * type guess come from one per-partition scan and padding is a column
    * expression. This is the constructor FASTQ/FASTA scans feed at scale;
    * the Seq overload exists for fixture-sized inputs.
    */
  def fromReadsDf(
      df: DataFrame,
      pos: Int = 1,
      seqType: Option[String] = None,
      phredAdjust: Int = Alphabets.PhredAdjust): SeqTable = {
    val spark = df.sparkSession
    import spark.implicits._
    val hasQ = df.columns.contains("qual")
    // one scan, one job: each partition returns its row count, its longest
    // seq (in code points, as `length`) and, over its first GuessRows rows,
    // the letters each row adds to the partition's letter set with the
    // row's index. The type guess depends only on the letter set, so
    // O(partitions × alphabet) reaches the driver, not the reads.
    val partials = df.select(col("seq"))
      .mapPartitions { it =>
        var n = 0L; var maxLen = -1
        val seen = scala.collection.mutable.Set.empty[Char]
        val grows = Seq.newBuilder[(Long, String)]
        it.foreach { r =>
          if (!r.isNullAt(0)) {
            val s = r.getString(0)
            maxLen = math.max(maxLen, s.codePointCount(0, s.length))
            if (n < GuessRows) {
              val added = s.distinct.filterNot(seen)
              if (added.nonEmpty) { seen ++= added; grows += ((n, added)) }
            }
          }
          n += 1
        }
        Iterator.single((n, maxLen, grows.result()))
      }.collect()
    require(partials.exists(_._2 >= 0), "fromReadsDf: no reads")
    val maxLen = partials.map(_._2).max
    val st = seqType.getOrElse {
      // `b` rows precede a partition; its growth within the prefix counts
      val before = partials.scanLeft(0L)(_ + _._1)
      Alphabets.guessSeqType(partials.zip(before).flatMap { case ((_, _, grows), b) =>
        grows.collect { case (i, added) if b + i < GuessRows => added }
      })
    }
    val fill = Alphabets.fillFor(st)
    val reads = df.select(
      col("read_id"),
      rpad(col("seq"), maxLen, fill.toString).as("seq"),
      (if (hasQ) rpad(coalesce(col("qual"), lit("")), maxLen, Alphabets.NullQual.toString)
       else lit(Alphabets.NullQual.toString * maxLen)).as("qual"))
    SeqTable(reads, emptyInsertions(spark),
      SeqTableMeta(st, phredAdjust, hasQuality = hasQ),
      pos, pos + maxLen - 1)
  }

  /** Most reference names [[fromSam]] records in `meta.references`. */
  private val MaxRefs = 100

  /** Build from a SAM-shaped DataFrame with columns
    * (header, rname, pos, cigar, seq, qual) — the T1 realignment
    * (ref: constructor_ops.py:189-205 + sam_to_arr.pyx df_to_algn_arr).
    *
    * Two-pass plan: (1) one per-partition scan for the window (unless
    * supplied) and the reference names — `meta.references` holds the
    * sorted distinct rnames, at most the 100 smallest; (2) a map-only
    * application of the pure AlignRead kernel (as a UDF so non-core
    * columns ride along untouched).
    * The insertion table is derived from the same plan by exploding the
    * per-read insertion array — no shuffle anywhere.
    *
    * `keepReadInfo` mirrors the reference's read_info carry-through
    * (constructor_ops.py:184-187, :362; from_pysam's
    * store_additional_features): every input column beyond the six core
    * SAM fields — e.g. `flag`, `mapq`, `opt` from [[graft.io.Sam.read]] /
    * [[graft.io.Bam.read]] — lands on `reads` alongside (read_id, seq,
    * qual) and is pruned with reads by every filter (filters copy the
    * whole row; projections like `long` drop extras by selection).
    */
  def fromSam(
      df: DataFrame,
      window: Option[(Int, Int)] = None,
      seqType: String = "NT",
      phredAdjust: Int = Alphabets.PhredAdjust,
      keepReadInfo: Boolean = true): SeqTable = {
    val spark = df.sparkSession
    import spark.implicits._

    val coreCols = Set("header", "rname", "pos", "cigar", "seq", "qual")
    val extras =
      if (keepReadInfo) df.columns.toSeq.filterNot(coreCols.contains)
      else Nil

    val clean = df
      .filter(col("rname").isNotNull && col("rname") =!= "*" &&
        col("cigar").isNotNull && col("cigar") =!= "*")
      .select(Seq(
        col("header").cast(StringType), col("seq").cast(StringType),
        col("qual").cast(StringType), col("pos").cast(IntegerType),
        col("cigar").cast(StringType)) ++ extras.map(col): _*)

    // one scan, one job, no shuffle: each partition returns its window
    // bounds over the `clean` rows (unless `window` is given) and its
    // reference names over every placed read (rname <> '*', cigar or
    // not), keeping the 100 smallest; collect() merges and sorts them
    val findWindow = window.isEmpty
    val scanned =
      if (findWindow) df.select(col("rname").cast(StringType), col("pos").cast(IntegerType),
        col("seq").cast(StringType), col("cigar").cast(StringType))
      else df.select(col("rname").cast(StringType))
    val partials = scanned
      .mapPartitions { it =>
        var lo = Int.MaxValue; var hi = Int.MinValue; var any = false
        val names = new java.util.TreeSet[String]()
        it.foreach { r =>
          if (!r.isNullAt(0) && r.getString(0) != "*") {
            names.add(r.getString(0))
            if (names.size > MaxRefs) names.pollLast()
            if (findWindow && !r.isNullAt(3) && r.getString(3) != "*") {
              any = true
              val p = r.getInt(1)
              if (p < lo) lo = p
              val e = Cigar.endPos(p, r.getString(2).length, r.getString(3))
              if (e > hi) hi = e
            }
          }
        }
        Iterator.single((any, lo, hi, names.toArray(Array.empty[String]).toSeq))
      }.collect()
    val refs = partials.flatMap(_._4).distinct.sorted.take(MaxRefs).toSeq
    val (mn, mx) = window.getOrElse {
      val found = partials.filter(_._1)
      require(found.nonEmpty, "no aligned reads")
      (found.map(_._2).min, found.map(_._3).max)
    }

    // native codegen realignment (plans.AlignReadExpr) — delegates to the
    // same AlignRead.align kernel the old UDF wrapped (bit-identical), but
    // builds the output InternalRow directly: no Catalyst↔Scala converters,
    // no encoder round-trip, and the ingest projection stays inside
    // whole-stage codegen
    graft.plans.GraftExtensions.register(spark)
    val aligned = clean
      .withColumn("__ar", call_function("align_read",
        col("seq"), col("qual"), col("pos"), col("cigar"),
        lit(mn), lit(mx), lit(phredAdjust)))
      .filter(col("__ar").isNotNull)

    val reads = aligned.select(Seq(
      col("header").as("read_id"),
      col("__ar.seq").as("seq"),
      col("__ar.qual").as("qual")) ++ extras.map(col): _*)
    val insertions = aligned
      .select(col("header").as("read_id"), explode(col("__ar.ins")).as("i"))
      .select(col("read_id"), col("i.position").as("position"), col("i.loc").as("loc"),
        col("i.base").as("base"), col("i.qual").as("qual"))

    SeqTable(reads, insertions,
      SeqTableMeta(seqType, phredAdjust, hasQuality = true, references = refs),
      mn, mx)
  }

  /** S4 `from_pysam` as a one-call constructor (ref: seqtables.py:227-283
    * — `from_pysam(alignment_file, fetch_args, …, min_mapping_quality)`):
    * BAM → realigned SeqTable. `region` mirrors `fetch_args`
    * ((contig, start, stop), 1-based inclusive like the frame's `pos`) and
    * routes through the .bai index ([[graft.io.Bam.fetch]] — only
    * overlapping BGZF blocks are read, for a file, a glob or a sharded
    * directory alike); without it the whole corpus streams through the
    * byte-range split reader. `minMapq` is the reference's ingest-time
    * `min_mapping_quality` filter.
    */
  def fromBam(
      spark: SparkSession,
      path: String,
      region: Option[(String, Int, Int)] = None,
      minMapq: Int = -1,
      window: Option[(Int, Int)] = None,
      seqType: String = "NT",
      phredAdjust: Int = Alphabets.PhredAdjust): SeqTable = {
    val frame = region match {
      case Some((rname, beg, end)) =>
        val fetched = graft.io.Bam.fetch(spark, path, rname, beg, end)
        if (minMapq >= 0) fetched.filter(col("mapq") >= minMapq) else fetched
      case None => graft.io.Bam.read(spark, path, minMapq)
    }
    fromSam(frame, window, seqType, phredAdjust)
  }

  def emptyInsertions(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("read_id", StringType),
        StructField("position", IntegerType),
        StructField("loc", IntegerType),
        StructField("base", StringType),
        StructField("qual", IntegerType))))
}
