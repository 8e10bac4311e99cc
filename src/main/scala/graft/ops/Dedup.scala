package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators — A10 `filter_by_count`
  * (ref: numpy_ops.py:374-405) generalized to the dataset-dedup family a
  * large-scale training-data pipeline needs: exact, MinHash+LSH, SimHash,
  * and n-gram Jaccard.
  *
  * Scale notes baked into each shape:
  *  - exact: one hash aggregate on a 64-bit content hash (not the full
  *    text) — the shuffle carries 8-byte keys.
  *  - MinHash/LSH: candidate generation is a self-join on (band, bandHash)
  *    buckets, never an all-pairs product; verification re-checks real
  *    Jaccard only inside buckets.
  *  - SimHash: signature is one 64-bit long per doc; candidates via 4×16-bit
  *    chunk blocking (any near-dup within hamming≤3 shares ≥1 chunk).
  */
object Dedup {

  /** A10 `filter_by_count`: keep rows whose duplicate count on `key`
    * exceeds `cutoff`. Map-side-combined count of the (few) heavy keys +
    * a semi-join — NOT a `count().over(partitionBy(key))` window, which
    * buffers each key's rows in one task and makes a hot key (a
    * boilerplate document duplicated millions of times) a single-task
    * spill; the semi-join's build side is only the above-cutoff keys
    * (usually tiny → AQE broadcasts it), and skewed probes split under
    * AQE skew-join.
    */
  def filterByCount(df: DataFrame, key: String, cutoff: Long): DataFrame = {
    val heavy = df.groupBy(col(key))
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > cutoff)
      .select(col(key).as("__heavy_key"))
    // null-safe equality: NULL keys form a duplicate group like any other
    // (the window this replaces counted them together)
    df.join(heavy, col(key) <=> col("__heavy_key"), "left_semi")
  }

  /** Exact dedup: keep one representative row per distinct `key` value
    * (the minimum `idCol`, NULL ids first — matching the ascending
    * nulls-first order of the `row_number` window this replaces;
    * deterministic when ids are unique, as any ordering tie-break would
    * be). Output replaces any pre-existing `dup_count` column. One
    * map-side-combined aggregate: `min_by` carries the whole
    * representative row, so no window ever buffers a hot key's
    * duplicates in one task.
    */
  def exact(df: DataFrame, key: String, idCol: String): DataFrame = {
    val cols = df.columns.filterNot(_ == "dup_count").toSeq
    // the ordering key wraps idCol in a never-null struct: bare min_by
    // would SKIP null-id rows (null ordering key), yielding an all-null
    // representative for an all-null-id group
    val ord = struct(col(idCol).isNotNull, col(idCol))
    df.groupBy(col(key).as("__k"))
      .agg(
        min_by(struct(cols.map(col): _*), ord).as("__rep"),
        count(lit(1)).as("dup_count"))
      .select(cols.map(c => col(s"__rep.`$c`")) :+ col("dup_count"): _*)
  }

  /** Distinct k-char shingles, one `substring` per start (text shorter
    * than k yields one shingle, the whole text).
    */
  def shinglesOf(text: Column, k: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), greatest(length(text) - lit(k) + lit(1), lit(1))),
        i => text.substr(i, lit(k))))

  /** Pick (bands, rowsPerBand) for a hash budget so the LSH S-curve
    * 1-(1-s^r)^b best separates at `threshold`: among every divisor
    * split b·r = numHashes, minimize the total error mass
    * ∫₀ᵗ p(s)ds + ∫ₜ¹ (1-p(s))ds (false-candidate area below the
    * threshold plus missed-pair area above it), evaluated by a fixed
    * 1e-3 midpoint rule — deterministic, driver-only, O(divisors·1000).
    * The usual rule of thumb (threshold ≈ (1/b)^(1/r)) falls out: higher
    * thresholds select more rows per band.
    */
  def lshPlan(threshold: Double, numHashes: Int): (Int, Int) = {
    require(threshold > 0 && threshold < 1 && numHashes >= 1)
    val splits = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
    def err(b: Int, r: Int): Double = {
      var e = 0.0
      var i = 0
      while (i < 1000) {
        val s = (i + 0.5) / 1000.0
        val p = 1.0 - math.pow(1.0 - math.pow(s, r), b)
        e += (if (s < threshold) p else 1.0 - p) / 1000.0
        i += 1
      }
      e
    }
    splits.minBy { case (b, r) => (err(b, r), b) }
  }

  /** MinHash+LSH near-duplicate pairs.
    * shingle→minhash→band→bucket-join→exact-Jaccard verify.
    *
    * Recall math: a band of r rows collides with probability j^r, so with
    * B bands P(candidate) = 1 − (1−j^r)^B. Requiring ≥m band collisions
    * (minBandMatches > 1) changes that to the binomial tail
    * P(X≥m), X~Bin(B, j^r) — at m=2, B=12, r=5 recall at the j=0.7
    * boundary drops from 0.89 to ~0.62 (though it stays ≥0.99 at j≥0.85).
    * The default is therefore m=1 (the plain S-curve, recall as
    * advertised); pass minBandMatches=2 as an explicit precision/cost
    * trade on corpora with pervasive mid-range similarity, where the
    * band-collision count is a free Jaccard estimate that keeps exact
    * verifies proportional to true near-matches.
    *
    * @param df        input with (idCol, textCol)
    * @param k         shingle length
    * @param numHashes signature length
    * @param bands     LSH bands (rows per band = numHashes/bands)
    * @param threshold Jaccard threshold for verified pairs
    * @param maxBucketSize drop band buckets holding more than this many
    *        documents before the self-join (0 = uncapped). A bucket of B
    *        docs contributes B(B−1)/2 candidate pairs, so one degenerate
    *        bucket (boilerplate text, near-empty docs, an adversarial
    *        collision) turns LSH quadratic — the cap is the standard
    *        large-corpus guard, and the pairs it drops are exactly the
    *        ones found through a band that stopped discriminating. A true
    *        near-duplicate pair is missed only if EVERY band it collides
    *        in is over-cap: at j ≥ 0.85 a pair collides in most of the
    *        B bands (E[X] = B·j^r), so unless the pair is itself
    *        boilerplate all bands would have to degenerate at once.
    * Output: (id_a, id_b, jaccard DOUBLE), id_a < id_b.
    */
  def minhashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.7,
      minBandMatches: Int = 1,
      maxBucketSize: Int = 0): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    graft.plans.GraftExtensions.register(df.sparkSession)
    // The shingle frame feeds THREE consumers (banding, and both sides of
    // the verify join) and is otherwise map-only: every consumer would
    // re-run the scan+shingle kernel at the INPUT split parallelism (a
    // single-row-group parquet file = one task). repartition(id) puts an
    // Exchange here, which (a) spreads all downstream work over the
    // shuffle partitions regardless of input splits, (b) makes the three
    // identical subtrees stage-reuse-ELIGIBLE for AQE (canonically equal
    // exchanges; whether the scheduler reuses is runtime-dependent), and
    // (c) lands the verify joins co-partitioned on id. Measured at sf0.1:
    // 3.2s -> 1.2s same-session for the minhash query.
    // `n` is computed AFTER the exchange: the verify branches don't read
    // it, and if it sat below the repartition, column pruning would strip
    // it from their subtrees and the three exchanges would no longer be
    // canonically identical (= never stage-reused).
    // The explicit isNotNulls mirror the constraints the optimizer infers
    // for SOME consumers but not others — `sh` from the null-intolerant
    // jaccard filter in the verify branches, `id` from the equi-joins on
    // id_a/id_b (the bucket-cap aggregate joins on (band, band_hash)
    // only, so its subtree would lack the id constraint) — without them
    // the subtrees carry different pushed-down filters and the exchanges
    // stop being canonically identical (= never stage-reused). Both
    // filters are runtime no-ops: the kernel never returns null, and a
    // null id can't reach a verified pair anyway.
    val withSh = df.select(
      col(idCol).as("id"),
      HashKernels.hashedShinglesUdf(k)(col(textCol)).as("sh"))
      .filter(col("sh").isNotNull && col("id").isNotNull)
      .repartition(col("id"))
      .withColumn("n", size(col("sh")))

    // The banded frame carries ONLY (band, band_hash, id, n): the candidate
    // self-join shuffles ~20-byte rows, never arrays. Signatures are the
    // classic k-permutation MinHash: one-permutation hashing (see
    // HashKernels.minhashSigOPH) was measured on this corpus (median ~150
    // shingles, 40 bins → ~4/bin) to inflate candidates 2× raw / 4× at the
    // ≥2-band prune because sparse bins + rotation densification correlate
    // adjacent bins; OPH only pays when |shingles| ≫ numHashes.
    val banded = withSh
      .select(col("id"), col("n"),
        posexplode(
          HashKernels.minhashBandBucketsUdf(numHashes, bands)(col("sh"))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")

    // Optional bucket-size cap (see scaladoc): one small aggregate over
    // the ~20-byte banded rows decides which buckets survive; singleton
    // buckets are pruned in the same pass (they can't produce a pair, so
    // dropping them before the shuffle is free). The semi-join stays on
    // the narrow frame — no shingle array is in flight yet.
    val bucketed = if (maxBucketSize > 0) {
      val keep = banded.groupBy(col("band"), col("band_hash"))
        .agg(count(lit(1)).as("bucket_n"))
        .filter(col("bucket_n") >= 2 && col("bucket_n") <= maxBucketSize)
        .select("band", "band_hash")
      banded.join(keep, Seq("band", "band_hash"), "left_semi")
    } else banded

    // Candidate pruning before any array travels:
    //  - size bound (LOSSLESS): j >= t implies min(|A|,|B|)/max >= t;
    //  - band-collision count (opt-in, minBandMatches > 1 — see the recall
    //    math in the scaladoc): pairs colliding in < minBandMatches bands
    //    are dropped.
    val candidates = bucketed
      .select(col("band"), col("band_hash"), col("id").as("id_a"), col("n").as("n_a"))
      .join(bucketed.select(col("band"), col("band_hash"),
        col("id").as("id_b"), col("n").as("n_b")),
        Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")) >= lit(threshold) * greatest(col("n_a"), col("n_b")))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_band_matches"))
      .filter(col("n_band_matches") >= lit(math.min(minBandMatches, bands)))
      .select("id_a", "id_b")

    candidates
      .join(withSh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(withSh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      // native codegen merge with a lossless threshold early-exit
      // (plans.JaccardSortedMinLong): no per-pair array copy, and
      // pairs that cannot reach `threshold` stop merging early —
      // identical rows and jaccard values past the >= filter
      .withColumn("jaccard",
        call_function("jaccard_sorted_min", col("sh_a"), col("sh_b"), lit(threshold)))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** A reusable MinHash LSH index of an existing corpus — the
    * incremental-ingest counterpart of [[minhashNearDuplicates]]: build
    * once over the accumulated corpus, probe every new batch against it
    * without ever self-joining the corpus again. In a real pipeline both
    * frames persist as parquet keyed by (band, band_hash) / id, so a
    * daily increment reads only the bucket partitions it collides with.
    *
    * `banded` carries ONLY (band, band_hash, id, n) — ~20-byte rows;
    * `shingled` (id, sh, n) feeds the exact-verify join.
    */
  final case class MinhashIndex(
      banded: DataFrame,
      shingled: DataFrame,
      k: Int,
      numHashes: Int,
      bands: Int)

  /** Build the LSH index (same shingle/signature/banding pipeline as
    * [[minhashNearDuplicates]], minus the self-join). `maxBucketSize > 0`
    * drops over-cap band buckets from the index at build time — the same
    * degenerate-bucket guard as the batch operator (a boilerplate bucket
    * of B index docs costs every future probe B joins per colliding row;
    * singleton buckets stay, since a probe row can pair with one doc).
    */
  def minhashBuildIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      numHashes: Int = 32,
      bands: Int = 8,
      maxBucketSize: Int = 0): MinhashIndex = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    graft.plans.GraftExtensions.register(df.sparkSession)
    val withSh = df.select(
      col(idCol).as("id"),
      HashKernels.hashedShinglesUdf(k)(col(textCol)).as("sh"))
      .filter(col("sh").isNotNull)
      .repartition(col("id"))
      .withColumn("n", size(col("sh")))
    val banded = withSh
      .select(col("id"), col("n"),
        posexplode(
          HashKernels.minhashBandBucketsUdf(numHashes, bands)(col("sh"))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
      .select("band", "band_hash", "id", "n")
    val capped = if (maxBucketSize > 0) {
      val keep = banded.groupBy(col("band"), col("band_hash"))
        .agg(count(lit(1)).as("bucket_n"))
        .filter(col("bucket_n") <= maxBucketSize)
        .select("band", "band_hash")
      banded.join(keep, Seq("band", "band_hash"), "left_semi")
    } else banded
    MinhashIndex(capped, withSh.select("id", "sh", "n"), k, numHashes, bands)
  }

  /** Near-duplicate pairs between a NEW batch and an indexed corpus:
    * `(id_new, id_old, jaccard)` for every new document whose Jaccard
    * with an indexed document reaches `threshold` (LSH candidates,
    * exact-verified — same recall S-curve as [[minhashNearDuplicates]]).
    *
    * Scale shape: the new batch's banded frame joins the index on
    * (band, band_hash) — a daily increment is orders of magnitude
    * smaller than the corpus, so AQE turns this into a broadcast of the
    * new side against the bucket-partitioned index; the corpus is never
    * re-shuffled and never self-joined. The same size-lossless bound as
    * the batch operator prunes candidates before any shingle array
    * travels.
    */
  def minhashProbe(
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      index: MinhashIndex,
      threshold: Double = 0.7,
      minBandMatches: Int = 1): DataFrame = {
    graft.plans.GraftExtensions.register(newDf.sparkSession)
    val withSh = newDf.select(
      col(idCol).as("id"),
      HashKernels.hashedShinglesUdf(index.k)(col(textCol)).as("sh"))
      .filter(col("sh").isNotNull)
      .repartition(col("id"))
      .withColumn("n", size(col("sh")))
    val banded = withSh
      .select(col("id"), col("n"),
        posexplode(HashKernels.minhashBandBucketsUdf(
          index.numHashes, index.bands)(col("sh"))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
    val candidates = banded
      .select(col("band"), col("band_hash"),
        col("id").as("id_new"), col("n").as("n_new"))
      .join(index.banded.select(col("band"), col("band_hash"),
        col("id").as("id_old"), col("n").as("n_old")),
        Seq("band", "band_hash"))
      .filter(least(col("n_new"), col("n_old")) >=
        lit(threshold) * greatest(col("n_new"), col("n_old")))
      .groupBy(col("id_new"), col("id_old"))
      .agg(count(lit(1)).as("n_band_matches"))
      .filter(col("n_band_matches") >=
        lit(math.min(minBandMatches, index.bands)))
      .select("id_new", "id_old")
    candidates
      .join(withSh.select(col("id").as("id_new"), col("sh").as("sh_new")),
        Seq("id_new"))
      .join(index.shingled.select(col("id").as("id_old"), col("sh").as("sh_old")),
        Seq("id_old"))
      .withColumn("jaccard", call_function("jaccard_sorted_min",
        col("sh_new"), col("sh_old"), lit(threshold)))
      .filter(col("jaccard") >= threshold)
      .select("id_new", "id_old", "jaccard")
  }

  /** Handle to a MinHash index persisted on disk ([[minhashWriteIndex]]):
    * the banded frame lives as parquet PARTITIONED BY (band, pbucket =
    * pmod(band_hash, hashBuckets)), so a probe plans its scan by
    * partition-pruning to only the (band, bucket) directories its own
    * band hashes land in — the corpus index is never fully read, let
    * alone shuffled. The parameters ride in a meta file written LAST
    * (write-temp + rename, the [[Layout]] commit discipline) so a
    * half-written index is never openable.
    */
  final case class PersistedMinhashIndex(
      path: String, k: Int, numHashes: Int, bands: Int, hashBuckets: Int)

  private def indexMetaPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "_index_meta.txt")

  /** Persist `index` under `path` (banded/ partitioned by (band,
    * pbucket), shingled/ keyed by id). `append = true` adds a delta
    * batch to an EXISTING index (same parameters required — they are
    * re-read from the meta file): the union-on-disk maintenance step a
    * nightly crawl runs instead of rebuilding the corpus index.
    */
  def minhashWriteIndex(index: MinhashIndex, path: String,
      hashBuckets: Int = 16, append: Boolean = false): PersistedMinhashIndex = {
    require(hashBuckets >= 1)
    val spark = index.banded.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val mode = if (append) "append" else "overwrite"
    val buckets =
      if (append) {
        val existing = minhashOpenIndex(spark, path)
        require(existing.k == index.k && existing.numHashes == index.numHashes &&
          existing.bands == index.bands,
          s"minhashWriteIndex append: parameter mismatch with $path " +
          s"(existing k=${existing.k}/h=${existing.numHashes}/b=${existing.bands})")
        existing.hashBuckets
      } else hashBuckets
    index.banded
      .withColumn("pbucket", pmod(col("band_hash"), lit(buckets.toLong)))
      .write.mode(mode).partitionBy("band", "pbucket")
      .parquet(s"$path/banded")
    index.shingled.write.mode(mode).parquet(s"$path/shingled")
    if (!append) {
      // meta LAST = the commit marker; write-temp + rename. A full
      // rewrite REPLACES the index: the stale marker is dropped first
      // (rename refuses to clobber), mirroring the overwrite that just
      // replaced the data underneath it.
      val tmp = new org.apache.hadoop.fs.Path(
        path, s"._meta-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, false)
      try out.write(s"${index.k}\t${index.numHashes}\t${index.bands}\t$buckets\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val meta = indexMetaPath(path)
      if (fs.exists(meta)) fs.delete(meta, false)
      if (!fs.rename(tmp, meta))
        throw new java.io.IOException(s"index meta commit failed under $path")
    }
    PersistedMinhashIndex(path, index.k, index.numHashes, index.bands, buckets)
  }

  private def readIndexMeta(spark: SparkSession, path: String): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val mp = indexMetaPath(path)
    require(fs.exists(mp), s"no committed minhash index under $path")
    val in = fs.open(mp)
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    txt.split("\n").filter(_.nonEmpty).toIndexedSeq
  }

  /** Open a persisted index (meta must exist — the commit marker). The
    * first meta line carries the parameters; later `txn=writer:batchId`
    * lines (the [[graft.ops.Layout]] txn discipline) carry the ingest
    * high-water marks and are read by [[minhashIndexTxns]].
    */
  def minhashOpenIndex(spark: SparkSession, path: String): PersistedMinhashIndex = {
    val f = readIndexMeta(spark, path).head.trim.split("\t")
    PersistedMinhashIndex(path, f(0).toInt, f(1).toInt, f(2).toInt, f(3).toInt)
  }

  /** Per-writer batch high-water marks recorded in the index meta —
    * what makes [[minhashExtendIndexIdempotent]] replay-proof across
    * process restarts (the guard lives on disk, not in a session var).
    */
  def minhashIndexTxns(spark: SparkSession, path: String): Map[String, Long] =
    readIndexMeta(spark, path).drop(1).collect {
      case l if l.startsWith("txn=") =>
        val v = l.stripPrefix("txn=")
        val c = v.lastIndexOf(':')
        v.substring(0, c) -> v.substring(c + 1).toLong
    }.toMap

  /** Extend a persisted index with one ingest batch, EXACTLY ONCE per
    * (writer, batchId): a replayed id (foreachBatch retry, or a restart
    * re-offering an already-merged batch) returns false and touches
    * nothing. The delta append lands BEFORE the meta high-water mark
    * advances, so the one crash window (delta on disk, marker behind)
    * errs toward a re-appended delta on the retry — recoverable by an
    * index rebuild — never toward a batch silently marked done but
    * missing. Writers are single-threaded per writerId (the Structured
    * Streaming foreachBatch contract), so the meta rewrite needs no
    * commit arbiter.
    */
  def minhashExtendIndexIdempotent(newDf: DataFrame, idCol: String,
      textCol: String, pidx: PersistedMinhashIndex,
      writerId: String, batchId: Long): Boolean = {
    val spark = newDf.sparkSession
    val txns = minhashIndexTxns(spark, pidx.path)
    if (txns.get(writerId).exists(_ >= batchId)) return false
    minhashExtendIndex(newDf, idCol, textCol, pidx)
    val fs = new org.apache.hadoop.fs.Path(pidx.path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val merged = txns + (writerId -> batchId)
    val body = (s"${pidx.k}\t${pidx.numHashes}\t${pidx.bands}\t${pidx.hashBuckets}" +:
      merged.toSeq.sortBy(_._1).map { case (w, id) => s"txn=$w:$id" })
      .mkString("", "\n", "\n")
    val tmp = new org.apache.hadoop.fs.Path(
      pidx.path, s"._meta-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val meta = indexMetaPath(pidx.path)
    if (fs.exists(meta)) fs.delete(meta, false)
    if (!fs.rename(tmp, meta))
      throw new java.io.IOException(s"index meta commit failed under ${pidx.path}")
    true
  }

  /** Append a new batch to a persisted index: the same shingle/band
    * pipeline over the delta only, written in append mode — the
    * existing corpus partitions are untouched (a delta writes only into
    * the (band, bucket) directories its rows land in).
    */
  def minhashExtendIndex(newDf: DataFrame, idCol: String, textCol: String,
      pidx: PersistedMinhashIndex): Unit = {
    val delta = minhashBuildIndex(newDf, idCol, textCol,
      pidx.k, pidx.numHashes, pidx.bands)
    minhashWriteIndex(delta, pidx.path, pidx.hashBuckets, append = true): Unit
  }

  /** The (band, pbucket) partitions a probe batch can possibly collide
    * with — bounded by bands × hashBuckets (128 at the defaults), a
    * planning-time list of the same class as a pruned file listing.
    */
  private[graft] def probeBandBuckets(newDf: DataFrame, idCol: String,
      textCol: String, pidx: PersistedMinhashIndex): Seq[(Int, Long)] = {
    graft.plans.GraftExtensions.register(newDf.sparkSession)
    newDf.select(
      posexplode(HashKernels.minhashBandBucketsUdf(
        pidx.numHashes, pidx.bands)(
        HashKernels.hashedShinglesUdf(pidx.k)(col(textCol)))))
      .select(col("pos").as("band"),
        pmod(col("col"), lit(pidx.hashBuckets.toLong)).as("pbucket"))
      .distinct().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
  }

  /** The banded frame of a persisted index restricted to the probe's
    * possible partitions — the predicate is on the PARTITION COLUMNS,
    * so Spark prunes directories at scan planning (DedupSpec measures
    * the skipped files).
    */
  private[graft] def prunedBandedRead(spark: SparkSession,
      pidx: PersistedMinhashIndex, buckets: Seq[(Int, Long)]): DataFrame = {
    val full = spark.read.parquet(s"${pidx.path}/banded")
    if (buckets.isEmpty) full.filter(lit(false))
    else full.filter(
      buckets.map { case (b, p) =>
        col("band") === lit(b) && col("pbucket") === lit(p)
      }.reduce(_ || _))
  }

  /** [[minhashProbe]] against an ON-DISK index: plan the banded scan
    * over only the probe's matching (band, bucket) partitions, then run
    * the identical candidate/verify pipeline — row-for-row equal to the
    * in-memory probe by construction (pruned partitions cannot satisfy
    * the (band, band_hash) equi-join, so pruning loses nothing).
    */
  def minhashProbePersisted(newDf: DataFrame, idCol: String, textCol: String,
      pidx: PersistedMinhashIndex,
      threshold: Double = 0.7, minBandMatches: Int = 1): DataFrame = {
    val spark = newDf.sparkSession
    val banded = prunedBandedRead(spark, pidx,
      probeBandBuckets(newDf, idCol, textCol, pidx))
      .select(col("band"), col("band_hash"), col("id"), col("n"))
    val shingled = spark.read.parquet(s"${pidx.path}/shingled")
    minhashProbe(newDf, idCol, textCol,
      MinhashIndex(banded, shingled, pidx.k, pidx.numHashes, pidx.bands),
      threshold, minBandMatches)
  }

  /** Incremental ingest filter: the rows of `newDf` that are NOT
    * near-duplicates of any indexed document (left-anti on the probe) —
    * compose with [[minhashNearDuplicates]] + [[dropNearDuplicates]] on
    * the batch itself to also collapse within-batch duplicates.
    */
  def minhashIncrementalFilter(
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      index: MinhashIndex,
      threshold: Double = 0.7,
      minBandMatches: Int = 1): DataFrame = {
    val dups = minhashProbe(newDf, idCol, textCol, index, threshold, minBandMatches)
      .select(col("id_new"))
    newDf.join(dups, newDf(idCol) === dups("id_new"), "left_anti")
  }

  /** 64-bit SimHash over whitespace tokens: per bit, sign of the sum of
    * ±1 contributions from each token's xxhash64. Expression-only; tokens
    * are hashed ONCE and the 64 per-bit votes run over the long array
    * (shift+mask), not 64 re-hashes of every token.
    */
  def simhash(text: Column): Column = {
    val hashes = transform(split(trim(text), "\\s+"), t => xxhash64(t))
    val packed = (0 until 64).map { bit =>
      val votes = aggregate(
        hashes,
        lit(0L),
        (acc, h) => acc + when(shiftright(h, bit).bitwiseAND(lit(1L)) === 1L, lit(1L))
          .otherwise(lit(-1L)))
      when(votes > 0, shiftleft(lit(1L), bit)).otherwise(lit(0L))
    }
    packed.reduce(_ bitwiseOR _)
  }

  /** SimHash near-duplicate pairs with ≤ maxHamming differing bits.
    * Blocking on maxHamming+1 signature chunks guarantees recall at any
    * radius (4 16-bit chunks at the default 3).
    * Output: (id_a, id_b, hamming_bits INT).
    */
  def simhashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingNearDuplicates64(
      df.select(col(idCol).as("id"),
        HashKernels.simhashUdf(col(textCol)).as("sig")),
      maxHamming)

  /** The banded-Hamming core shared by SimHash (text) and dHash
    * (perceptual media, [[graft.ops.Multimodal.phashNearDuplicates]]):
    * takes (id, sig LONG) rows, blocks on `maxHamming + 1` near-equal
    * chunks of the 64-bit signature (pigeonhole: ≤ maxHamming differing
    * bits leave ≥1 chunk clean, so recall is GUARANTEED for every
    * maxHamming — at the default 3 this is exactly the classic 4×16-bit
    * split), self-joins per chunk bucket, and verifies candidates with
    * exact bit_count(xor). Raising maxHamming buys recall with more,
    * narrower chunks — i.e. bigger buckets and more candidate pairs —
    * never with silently-probabilistic recall.
    * Output: (id_a, id_b, hamming_bits INT).
    */
  /** Pigeonhole blocking rows for a 64-bit signature frame (id, sig):
    * one row per (chunk index, chunk value) — the shared core of the
    * self-join detector, the in-memory probe, and the persisted index.
    */
  private def hammingChunked(withSig: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"hamming blocking: need 0 <= maxHamming < 64, got $maxHamming")
    val nChunks = maxHamming + 1
    val baseW = 64 / nChunks
    val rem = 64 % nChunks
    val widths = (0 until nChunks).map(c => baseW + (if (c < rem) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _).init
    val chunkCols = (0 until nChunks).map { c =>
      val mask = if (widths(c) == 64) -1L else (1L << widths(c)) - 1L
      shiftright(col("sig"), offsets(c)).bitwiseAND(lit(mask))
    }
    withSig.select(
      col("id"), col("sig"),
      posexplode(array(chunkCols: _*)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")
  }

  def hammingNearDuplicates64(withSig: DataFrame, maxHamming: Int): DataFrame = {
    // The signature frame feeds BOTH sides of the banded self-join;
    // with nothing between the scan and the join, each side re-runs
    // the signature kernel (simhash tokenization / dHash resample —
    // the dominant map cost) over the full corpus. repartition(id)
    // inserts one narrow 16-byte/row exchange whose two consumers are
    // canonically identical subtrees, so the planner reuses it
    // (ReusedExchange) and the kernel runs ONCE — the
    // minhashNearDuplicates discipline applied to the Hamming family
    // (before: q_dedup_simhash's plan scanned the corpus 4x).
    val sig = withSig.select(col("id"), col("sig")).repartition(col("id"))
    val chunked = hammingChunked(sig, maxHamming)
    val a = chunked.select(col("chunk"), col("chunk_val"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = chunked.select(col("chunk"), col("chunk_val"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming_bits", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming_bits") <= maxHamming)
      .select("id_a", "id_b", "hamming_bits")
  }

  // ---- persisted 64-bit Hamming band index -------------------------------
  //
  // The [[PersistedMinhashIndex]] layout applied verbatim to the
  // SimHash/dHash/DCT-pHash family: the pigeonhole chunk rows live as
  // parquet PARTITIONED BY (chunk, pbucket = pmod(chunk_val, buckets)),
  // so a probe batch plans its scan by partition-pruning to only the
  // ≤ (maxHamming+1) × buckets directories its own chunk values land in
  // — the corpus index is never fully read. Deltas append into only
  // their own partitions ([[hammingExtendIndex]]); the meta marker is
  // written LAST so a half-written index is never openable.

  /** Handle to a persisted Hamming band index ([[hammingWriteIndex]]). */
  final case class PersistedHammingIndex(
      path: String, maxHamming: Int, hashBuckets: Int)

  /** Persist the blocking rows of `withSig` (id, sig LONG) under `path`.
    * `append = true` adds a delta batch to an EXISTING index (parameters
    * re-read from the meta marker, which stays untouched).
    */
  def hammingWriteIndex(withSig: DataFrame, path: String,
      maxHamming: Int = 3, hashBuckets: Int = 16,
      append: Boolean = false): PersistedHammingIndex = {
    require(hashBuckets >= 1)
    val spark = withSig.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val (mh, buckets) =
      if (append) {
        val ex = hammingOpenIndex(spark, path)
        (ex.maxHamming, ex.hashBuckets)
      } else (maxHamming, hashBuckets)
    hammingChunked(withSig, mh)
      .withColumn("pbucket", pmod(col("chunk_val"), lit(buckets.toLong)))
      .write.mode(if (append) "append" else "overwrite")
      .partitionBy("chunk", "pbucket")
      .parquet(s"$path/chunked")
    if (!append) {
      val tmp = new org.apache.hadoop.fs.Path(
        path, s"._meta-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, false)
      try out.write(s"$mh\t$buckets\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val meta = indexMetaPath(path)
      if (fs.exists(meta)) fs.delete(meta, false)
      if (!fs.rename(tmp, meta))
        throw new java.io.IOException(s"hamming index meta commit failed under $path")
    }
    PersistedHammingIndex(path, mh, buckets)
  }

  /** Open a persisted Hamming index (meta marker must exist). */
  def hammingOpenIndex(spark: SparkSession, path: String): PersistedHammingIndex = {
    val f = readIndexMeta(spark, path).head.trim.split("\t")
    PersistedHammingIndex(path, f(0).toInt, f(1).toInt)
  }

  /** Append a delta batch — writes only into its own (chunk, bucket)
    * partitions, the existing corpus partitions are untouched.
    */
  def hammingExtendIndex(withSig: DataFrame, pidx: PersistedHammingIndex): Unit =
    hammingWriteIndex(withSig, pidx.path, append = true): Unit

  /** The (chunk, pbucket) partitions a probe batch can possibly collide
    * with — a bounded planning list, ≤ (maxHamming+1) × hashBuckets
    * entries (64 at the defaults) regardless of probe size.
    */
  private[graft] def hammingProbeBuckets(newSig: DataFrame,
      pidx: PersistedHammingIndex): Seq[(Int, Long)] =
    hammingChunked(newSig, pidx.maxHamming)
      .select(col("chunk"),
        pmod(col("chunk_val"), lit(pidx.hashBuckets.toLong)).as("pbucket"))
      .distinct().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted

  /** The persisted chunk rows restricted to the probe's possible
    * partitions — predicate on the PARTITION COLUMNS only, so Spark
    * prunes directories at scan planning (DedupSpec measures it).
    */
  private[graft] def prunedHammingRead(spark: SparkSession,
      pidx: PersistedHammingIndex, buckets: Seq[(Int, Long)]): DataFrame = {
    val full = spark.read.parquet(s"${pidx.path}/chunked")
    if (buckets.isEmpty) full.filter(lit(false))
    else full.filter(
      buckets.map { case (c, p) =>
        col("chunk") === lit(c) && col("pbucket") === lit(p)
      }.reduce(_ || _))
  }

  /** In-memory probe: (id_new, id_old, hamming_bits) pairs between a
    * probe batch and an index frame — the pigeonhole guarantee of
    * [[hammingNearDuplicates64]] across two sets instead of within one.
    */
  def hammingProbe(newSig: DataFrame, indexSig: DataFrame,
      maxHamming: Int): DataFrame = {
    val p = hammingChunked(newSig, maxHamming)
      .select(col("chunk"), col("chunk_val"),
        col("id").as("id_new"), col("sig").as("sig_new"))
    val ix = hammingChunked(indexSig, maxHamming)
      .select(col("chunk"), col("chunk_val"),
        col("id").as("id_old"), col("sig").as("sig_old"))
    p.join(ix, Seq("chunk", "chunk_val"))
      .dropDuplicates("id_new", "id_old")
      .withColumn("hamming_bits",
        bit_count(col("sig_new").bitwiseXOR(col("sig_old"))))
      .filter(col("hamming_bits") <= maxHamming)
      .select("id_new", "id_old", "hamming_bits")
  }

  /** [[hammingProbe]] against the ON-DISK index: plan the chunked scan
    * over only the probe's matching partitions, then the identical
    * join/verify — row-for-row equal to the in-memory probe by
    * construction (pruned partitions cannot satisfy the
    * (chunk, chunk_val) equi-join, so pruning loses nothing).
    */
  def hammingProbePersisted(newSig: DataFrame,
      pidx: PersistedHammingIndex): DataFrame = {
    val spark = newSig.sparkSession
    val ix = prunedHammingRead(spark, pidx,
      hammingProbeBuckets(newSig, pidx))
      .select(col("chunk"), col("chunk_val"),
        col("id").as("id_old"), col("sig").as("sig_old"))
    hammingChunked(newSig, pidx.maxHamming)
      .select(col("chunk"), col("chunk_val"),
        col("id").as("id_new"), col("sig").as("sig_new"))
      .join(ix, Seq("chunk", "chunk_val"))
      .dropDuplicates("id_new", "id_old")
      .withColumn("hamming_bits",
        bit_count(col("sig_new").bitwiseXOR(col("sig_old"))))
      .filter(col("hamming_bits") <= pidx.maxHamming)
      .select("id_new", "id_old", "hamming_bits")
  }

  /** Near-duplicate pairs → connected components, by iterative min-label
    * propagation: every id starts as its own label; each round joins the
    * (undirected) edge list and takes the minimum neighbor label; stops at
    * the fixpoint. Near-dup graphs have tiny components (chains of pairs),
    * so the fixpoint arrives in a handful of rounds — each round is one
    * join + one aggregate on (id, label) pairs, no driver-side graph.
    *
    * Output: (id, component) where component = min id in the component.
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIter: Int = 10,
      driverSideMaxEdges: Long = 4000000L): DataFrame = {
    // Materialize the edge list ONCE: the iterative loop would otherwise
    // lazily recompute the (expensive) pair-detection lineage on every
    // join of every round.
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(eager = true)

    // Near-dup edge lists are tiny relative to the corpus (LSH + exact
    // verification has already filtered them); below the threshold the
    // iterative loop's per-round job overhead dominates actual work, so
    // solve exactly with union-find on the driver instead — same min-id
    // labels, one job. The distributed loop remains the >threshold path.
    val longIds = Seq("src", "dst").forall(f =>
      edges.schema(f).dataType == org.apache.spark.sql.types.LongType)
    if (longIds && edges.count() <= driverSideMaxEdges) {
      val es = edges.select(col("src"), col("dst")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val idx = scala.collection.mutable.HashMap.empty[Long, Int]
      es.foreach { case (a, b) =>
        idx.getOrElseUpdate(a, idx.size); idx.getOrElseUpdate(b, idx.size)
      }
      val ids = new Array[Long](idx.size)
      idx.foreach { case (id, i) => ids(i) = id }
      val parent = Array.tabulate(idx.size)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        val ra = find(idx(a)); val rb = find(idx(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val minId = scala.collection.mutable.HashMap.empty[Int, Long]
      ids.indices.foreach { i =>
        val r = find(i)
        minId.updateWith(r)(m => Some(math.min(m.getOrElse(Long.MaxValue), ids(i))))
      }
      val spark = pairs.sparkSession
      import spark.implicits._
      return ids.indices.map(i => (ids(i), minId(find(i)))).toDF("id", "component")
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(eager = true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("component", "nc"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("nc")).as("nmin"))
      val propagated = labels.join(neighborMin, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("component"), coalesce(col("nmin"), col("component"))).as("component"))
      // Pointer jumping: follow the component pointer one hop (component
      // values are themselves ids with label rows). Composing the halved
      // paths each round turns linear-diameter convergence into
      // O(log diameter) — a 1000-link chain converges in ~10 rounds, not
      // 1000, so maxIter is a genuine safety valve, not a silent truncation.
      // checkpoint BEFORE the convergence probe so the probe and the next
      // round both read materialized data, not the lineage
      val updated = propagated.as("a")
        .join(propagated.select(col("id").as("pid"), col("component").as("pc")),
          col("a.component") === col("pid"), "left_outer")
        .select(col("a.id").as("id"),
          least(col("a.component"), coalesce(col("pc"), col("a.component"))).as("component"))
        .localCheckpoint(eager = true)
      val changed = updated.join(labels.withColumnRenamed("component", "old"), Seq("id"))
        .filter(col("component") =!= col("old")).limit(1).count()
      labels = updated
      converged = changed == 0
      iter += 1
    }
    // A non-converged exit would silently split components (and a
    // downstream dropNearDuplicates would RETAIN duplicates) — fail loudly
    // instead; with pointer jumping this needs diameter > 2^maxIter.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds; raise maxIter")
    labels
  }

  /** End-to-end near-duplicate REMOVAL: detect pairs with MinHash+LSH,
    * cluster them, keep the minimum-id representative of each cluster (plus
    * every document that paired with nothing). This is the operator a
    * training-data pipeline actually runs; the pair/cluster forms are
    * exposed for inspection.
    *
    * Output: the input rows minus non-representative near-duplicates.
    */
  def dropNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.7,
      minBandMatches: Int = 1,
      maxBucketSize: Int = 0): DataFrame = {
    val pairs = minhashNearDuplicates(df, idCol, textCol, k, numHashes, bands,
      threshold, minBandMatches, maxBucketSize)
    val comps = connectedComponents(pairs)
    val losers = comps.filter(col("id") =!= col("component")).select(col("id"))
    df.join(losers.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** Cross-document shared-substring detection via winnowed fingerprints
    * (the MOSS scheme — HashKernels.winnowedFingerprints): documents
    * sharing ANY substring of length ≥ window + k − 1 share at least one
    * fingerprint, so grouping by fingerprint finds exact long-overlap
    * pairs (the "repeated passage" dedup of LLM training corpora) without
    * suffix arrays or all-pairs work.
    *
    * Scale shape: explode each doc's ~len/window fingerprints, self-join
    * on the 8-byte fingerprint, count shared prints per pair. Fingerprints
    * occurring in more than `maxDocFreq` documents are boilerplate (common
    * headers, licenses) and would create quadratic hot groups — they are
    * dropped (standard document-frequency pruning; the pairs they would
    * contribute are, by definition, pairs sharing only ubiquitous text).
    *
    * Output: (id_a, id_b, n_shared), id_a < id_b, n_shared ≥ minShared.
    */
  def sharedSubstringPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      window: Int = 16,
      minShared: Int = 1,
      maxDocFreq: Int = 1000): DataFrame = {
    val fps = df.select(col(idCol).as("id"),
      explode(HashKernels.winnowedFingerprintsUdf(k, window)(col(textCol))).as("fp"))
    val rare = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("df_count"))
      .filter(col("df_count") <= maxDocFreq && col("df_count") >= 2)
      .select("fp")
    val pruned = fps.join(rare, Seq("fp"), "left_semi")
    pruned.select(col("fp"), col("id").as("id_a"))
      .join(pruned.select(col("fp"), col("id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Exact n-gram Jaccard similarity for candidate pairs produced by a
    * blocking key (never all-pairs). Output: (id_a, id_b, jaccard).
    *
    * Skew guard: within-block pair generation is quadratic by contract, and
    * without intervention the quadratic work of one hot block (e.g. a single
    * dominant (lang, source)) lands in ONE task. Blocks larger than
    * `maxBlockRows` are grid-split: rows are salted into g =
    * ceil(size/maxBlockRows) sub-blocks and each of the g(g+1)/2 sub-block
    * *cells* (lo, hi) becomes its own join task — every pair lands in
    * exactly one cell, so the result is EXACT (no dropped coverage), while
    * the hot block's work spreads over ~g²/2 tasks at a g× replication of
    * its rows. Small blocks take g=1 and are untouched.
    */
  def ngramJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      n: Int = 3,
      threshold: Double = 0.0,
      maxBlockRows: Int = 100000): DataFrame = {
    require(maxBlockRows > 0, "maxBlockRows must be positive")
    graft.plans.GraftExtensions.register(df.sparkSession)
    // block sizing as a map-side-combined count joined back — a
    // `count().over(partitionBy(blk))` window would shuffle every row to
    // its block AND buffer the hot block in one task, precisely the skew
    // this operator guards against. The sizes frame is tiny (one row per
    // block) so AQE broadcasts the join; shingles are computed AFTER the
    // join so even a non-broadcast fallback shuffles text rows, not
    // 8-bytes-per-shingle arrays.
    val sizes = df.groupBy(col(blockCol).as("blk"))
      .agg(ceil(count(lit(1)).cast("double") / maxBlockRows).cast("int").as("g"))
    val withSh = df.withColumn("blk", col(blockCol))
      .join(sizes, Seq("blk"))
      .select(col("blk"), col(idCol).as("id"),
        HashKernels.hashedShinglesUdf(n)(col(textCol)).as("sh"), col("g"))
      .withColumn("sz", size(col("sh")))
      .withColumn("sub", pmod(xxhash64(col("id")), col("g")).cast("int"))
      // row membership: one cell (least(sub,t), greatest(sub,t)) per t —
      // a pair (sub_a, sub_b) shares exactly the cell (min, max) when
      // sub_a != sub_b; equal subs share all g cells and are filtered to
      // the diagonal cell below.
      .withColumn("t", explode(sequence(lit(0), col("g") - 1)))
      .withColumn("lo", least(col("sub"), col("t")))
      .withColumn("hi", greatest(col("sub"), col("t")))
    val a = withSh.select(col("blk"), col("lo"), col("hi"), col("sub").as("sub_a"),
      col("id").as("id_a"), col("sh").as("sh_a"), col("sz").as("sz_a"))
    val b = withSh.select(col("blk"), col("lo"), col("hi"), col("sub").as("sub_b"),
      col("id").as("id_b"), col("sh").as("sh_b"), col("sz").as("sz_b"))
    a.join(b, Seq("blk", "lo", "hi"))
      .filter(col("id_a") < col("id_b") &&
        // same-sub pairs co-occur in every cell of the row's probe set:
        // count them only in their diagonal cell
        (col("sub_a") =!= col("sub_b") ||
          (col("lo") === col("sub_a") && col("hi") === col("sub_a"))) &&
        // lossless size bound: j >= t implies min/max >= t — skip the set
        // intersection entirely for pairs that cannot qualify
        least(col("sz_a"), col("sz_b")) >= lit(threshold) * greatest(col("sz_a"), col("sz_b")))
      .select(col("id_a"), col("id_b"),
        call_function("jaccard_sorted_min",
          col("sh_a"), col("sh_b"), lit(threshold)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}
