package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.Materialize.MatOps
import graft.ops.{Chunking, Classifier, Decontaminate, Dedup, Embeddings, ProductQuantizer, Sampling, Search, SegmentDedup, SemDedup, Similarity, TextAnalysis, TextCleanse, Vocabulary}

/** Training-data-pipeline operators over `documents` / `embeddings` /
  * `events`: dedup family, text analysis, similarity search, sessionization.
  * Oracle-backed where exactly SQL-expressible; probabilistic variants
  * (MinHash/SimHash/LSH/IVF) are declared without oracles (driver records a
  * rows-only check) and are pinned by unit tests instead.
  */
object Pipeline {

  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,4)")).cast("double")


  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- dedup family -------------------------------------------------
    // Exact representative-per-group dedup (A10 generalized): one row per
    // source, the min doc_id, with the group size.
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables(s, dir, "documents"), "source", "doc_id")
        .select(col("source"), col("doc_id"), col("dup_count"))
        .orderBy(col("source"))),

    // Content-defined chunking, per-doc view: chunk counts plus the
    // cover invariant (chunks concatenate back to the full text) as an
    // oracle-checked column. Map-only: the chunker is one compiled
    // kernel pass per row; the kernel column is materialized in its own
    // projection so the stat expressions reference a cheap attribute
    // (CollapseProject won't inline a multiply-referenced non-cheap
    // expr, so the kernel runs exactly once per row).
    "q_cdc_chunks" -> ((s, dir) => {
      val base = Tables(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("n"),
          graft.ops.Cdc.chunks(col("text")).as("ch"))
      val lens = transform(col("ch"), c => length(c))
      base.select(col("doc_id"),
          size(col("ch")).as("n_chunks"),
          aggregate(lens, lit(0), (a, l) => a + l).as("total_chunk_chars"),
          array_max(lens).as("max_chunk_len"),
          (aggregate(lens, lit(0), (a, l) => a + l) === col("n"))
            .as("covered_ok"))
        .orderBy(col("doc_id"))
    }),

    // Content-defined chunking, corpus dedup view: one row per distinct
    // chunk with occurrence count, doc spread, and the chars a
    // single-instance chunk store saves. ONE chunk-keyed aggregate.
    "q_cdc_dedup" -> ((s, dir) =>
      graft.ops.Cdc.chunkDedup(Tables(s, dir, "documents"), "doc_id", "text")
        .select(col("chunk"), col("chunk_len").cast("int").as("chunk_len"),
          col("n_occ"), col("n_docs"), col("chars_saved"))
        .orderBy(col("chunk"))),

    // CDC containment pairs: docs sharing >= 20% of the smaller doc's
    // chars through common distinct chunks (asymmetric quote/mirror
    // detection — MinHash's symmetric Jaccard misses these). Hot chunks
    // (df > 20) pruned before the self-join, the MOSS discipline. Runs
    // the SCALE path (hashKey = true: the shuffle and self-join carry
    // 8-byte xxhash64 keys, never chunk strings) against the
    // string-exact DuckDB oracle — the q_boilerplate_matrix discipline:
    // a green row is direct evidence the 64-bit keys are collision-free
    // on this corpus, on top of CdcSpec's hashed==string pin.
    "q_cdc_containment" -> ((s, dir) =>
      graft.ops.Cdc.containmentPairs(Tables(s, dir, "documents"),
        "doc_id", "text", threshold = 0.2, hashKey = true)
        .orderBy(col("id_a"), col("id_b"))),

    // CDC on genuinely non-ASCII text: inject a 2-codepoint sequence
    // (é + an astral clef, 1+2 UTF-16 chars, 2+4 UTF-8 bytes) after
    // every 'e', then re-chunk — gating the kernel's codepoint path
    // (positions = code points, windows hashed over their UTF-8 bytes)
    // against DuckDB's native substring/md5 semantics, the
    // q_unicode_nfc pattern.
    "q_cdc_unicode" -> ((s, dir) => {
      val injected = regexp_replace(col("text"), "e", "eé𝄞")
      val base = Tables(s, dir, "documents")
        .select(col("doc_id"), length(injected).as("n"),
          graft.ops.Cdc.chunks(injected).as("ch"))
      val lens = transform(col("ch"), c => length(c))
      base.select(col("doc_id"),
          size(col("ch")).as("n_chunks"),
          aggregate(lens, lit(0), (a, l) => a + l).as("total_chunk_chars"),
          (aggregate(lens, lit(0), (a, l) => a + l) === col("n"))
            .as("covered_ok"))
        .orderBy(col("doc_id"))
    }),

    // Gear rolling-hash CDC (the O(n) production cost model; FastCDC
    // boundary rule): per-doc chunk stats in BYTES with the cover
    // invariant and the size-bound contract as pinned columns. Cut
    // points are not md5-comparable by construction, so this row is
    // GoldenGate-pinned (per-sf output hash) rather than oracle-backed;
    // CdcSpec carries the property battery (cover, bounds, edit
    // locality, UTF-8 safety). Map-only, one native-kernel pass per row.
    "q_cdc_gear" -> ((s, dir) => {
      val base = Tables(s, dir, "documents")
        .select(col("doc_id"), octet_length(col("text")).as("n_bytes"),
          graft.ops.Cdc.gearChunks(col("text")).as("ch"))
      val lens = transform(col("ch"), c => octet_length(c))
      val nonFinal = slice(col("ch"), lit(1),
        greatest(size(col("ch")) - 1, lit(0)))
      base.select(col("doc_id"),
          size(col("ch")).as("n_chunks"),
          aggregate(lens, lit(0), (a, l) => a + l).as("total_chunk_bytes"),
          array_max(lens).as("max_chunk_bytes"),
          (aggregate(lens, lit(0), (a, l) => a + l) === col("n_bytes"))
            .as("covered_ok"),
          (coalesce(array_max(lens), lit(0)) <= lit(128 + 3) &&
            forall(nonFinal, c => octet_length(c) >= 16)).as("bounds_ok"))
        .orderBy(col("doc_id"))
    }),

    // Exact n-gram Jaccard near-dup pairs inside (lang, source) blocks.
    "q_neardup_jaccard" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .withColumn("blk", concat_ws("|", col("lang"), col("source")))
      Dedup.ngramJaccard(docs, "doc_id", "text", "blk", n = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Skew-stress twin of q_neardup_jaccard (round-3 verdict #9): 20% of
    // the corpus is forced into ONE hot block, and maxBlockRows=50 makes
    // the grid guard split it (g=2 at sf0.01, g=20 at sf0.1 → 210 cells)
    // — the quadratic hot-block work spreads across tasks instead of
    // landing in one. Exact op → oracle-backed; the per-task load bound
    // is pinned by SkewStressSpec.
    "q_skew_jaccard" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .withColumn("blk",
          when(col("doc_id") % 5 === 0, lit("hot"))
            .otherwise(concat_ws("|", col("lang"), col("source"))))
      Dedup.ngramJaccard(docs, "doc_id", "text", "blk", n = 3, threshold = 0.5,
        maxBlockRows = 50)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // MinHash+LSH near-dup pairs over the whole corpus (probabilistic
    // candidate generation; exact-Jaccard verified). Rows-only check.
    // 12 bands × r=5 puts the S-curve midpoint at (1/12)^(1/5) ≈ 0.61;
    // recall at the j=0.7 boundary is 1−(1−0.7^5)^12 ≈ 0.89, ≥0.999 at
    // j ≥ 0.85. k=5 char shingles, NOT 3: trigram sets of same-language
    // ~300-char docs are pervasively similar (bulk j ≈ 0.5), and at that
    // bulk r=5 banding keyed 4.7M of the 12.5M possible pairs as
    // candidates — LSH degenerated to 38% of all-pairs, the shape that
    // dies quadratically at corpus scale (measured here: 8-10 s vs 1.2 s
    // for the identical plan at k=5). 5-char shingles push the unrelated
    // bulk down the S-curve cliff so the candidate set is dominated by
    // true near-dups; the verified pairs are accordingly the strong
    // (j_k5 ≥ 0.7) subset of what trigram Jaccard at 0.7 would accept.
    // maxBucketSize=200 is the degenerate-bucket guard at its intended
    // setting — a no-op on healthy buckets (pinned by DedupSpec), it
    // bounds any one band bucket's pair contribution at scale.
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashNearDuplicates(Tables(s, dir, "documents"),
        "doc_id", "text", k = 5, numHashes = 60, bands = 12, threshold = 0.7,
        maxBucketSize = 200)
        .orderBy(col("id_a"), col("id_b"))),

    // End-to-end corpus dedup: near-dup pairs → connected components →
    // keep one representative per cluster. Rows-only (the pair detection
    // is the probabilistic MinHash path).
    // Lighter LSH config than the pair-listing query (40 hashes, 8 bands,
    // r=5): corpus dedup targets the j>0.9 mass, where recall
    // 1−(1−j^5)^8 is ≥0.999 at j=0.9 and ≈0.96 at j=0.8. k=5 shingles
    // for the same reason as q_dedup_minhash — trigrams make the corpus's
    // unrelated bulk collide pervasively and the self-join quadratic.
    "q_dedup_corpus" -> ((s, dir) =>
      Dedup.dropNearDuplicates(Tables(s, dir, "documents"), "doc_id", "text",
        k = 5, numHashes = 40, bands = 8, threshold = 0.7)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))),

    // Cross-engine Unicode-normalization parity as a gate row: inject a
    // combining acute after every 'a' (making the input genuinely
    // non-ASCII in BOTH engines), NFC-compose, strip accents, and check
    // the round-trip restores the original. JDK Normalizer and DuckDB
    // nfc_normalize/strip_accents must agree on every document.
    // Homoglyph skeleton fold (q_unicode_nfc discipline): every doc gets
    // Cyrillic look-alikes substituted for 7 Latin letters plus a
    // zero-width space, an em dash and a curly quote appended; the
    // skeleton must restore the original text exactly (+ '-x"'). Both
    // engines run the IDENTICAL 49-entry translate table \u2014 the oracle's
    // is generated from the same Scala constants as chr() chains.
    "q_skeleton" -> ((s, dir) => {
      val injected = concat(
        translate(col("text"), "aeopcxy",
          "\u0430\u0435\u043e\u0440\u0441\u0445\u0443"),
        lit("\u200b\u2014x\u201d"))
      val sk = TextCleanse.skeleton(injected)
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          length(injected).as("n_in_chars"),
          length(sk).as("n_out_chars"),
          (sk === concat(col("text"), lit("-x\""))).as("restored_ok"))
        .orderBy(col("doc_id"))
    }),

    "q_unicode_nfc" -> ((s, dir) => {
      val injected = regexp_replace(col("text"), "a", "a\u0301")
      val norm = TextCleanse.nfcNormalize(injected)
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          length(injected).as("n_src_chars"),
          length(norm).as("n_norm_chars"),
          (TextCleanse.stripAccents(norm) === col("text")).as("restored_ok"))
        .orderBy(col("doc_id"))
    }),

    // Exact substring dedup (Lee et al. 2107.06499 semantics via the
    // window-cover identity — no suffix array): every char inside a
    // ≥25-char substring occurring twice corpus-wide is removed from
    // ALL occurrences; flagged windows merge to maximal spans and the
    // cleaned text is rebuilt. Exact, string-keyed → oracle-backed.
    "q_exact_substrings" -> ((s, dir) =>
      graft.ops.ExactSubstrings.removeDuplicatedSubstrings(
        Tables(s, dir, "documents"), "doc_id", "text", L = 25)
        .orderBy(col("doc_id"))),

    // Boilerplate forensics: distinct ≥25-char windows shared between
    // each pair of sources — the "where is the templated text coming
    // from" view over the exact-substring family. Runs the SCALE path
    // (hashKey = true: windows hash in place, the shuffle carries longs)
    // against the string-exact DuckDB oracle — a green row is direct
    // evidence the 64-bit keys are collision-free on this corpus, on top
    // of the q_substr_hash_agree per-position gate. q_exact_substrings
    // keeps the string-keyed path under the same oracle, so both key
    // disciplines stay covered.
    "q_boilerplate_matrix" -> ((s, dir) =>
      graft.ops.ExactSubstrings.sharedWindowMatrix(
        Tables(s, dir, "documents"), "source", "text", L = 25,
        hashKey = true)
        .orderBy(col("group_a"), col("group_b"))),

    // Incremental ingest dedup: the even-id half plays the accumulated
    // corpus (LSH index built once), the odd-id half plays the daily
    // increment probed against it — no corpus self-join. Rows-only (the
    // candidate generation is the probabilistic MinHash path); planted
    // cross-batch recall and batch-operator agreement are pinned by
    // IncrementalDedupSpec.
    "q_incremental_dedup" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val idx = Dedup.minhashBuildIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", k = 3, numHashes = 40, bands = 8)
      Dedup.minhashProbe(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", idx, threshold = 0.7, minBandMatches = 2)
        .select(col("id_new"), col("id_old"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_new"), col("id_old"))
    }),

    // The same index+probe THROUGH DISK: the band index persisted as a
    // parquet table partitioned by (band, hash-bucket), the probe
    // planning its scan over only its matching partitions (a daily
    // increment against a 100 TB corpus index reads a sliver of it,
    // never shuffles it). The on-disk probe must equal the in-memory
    // probe — asserted in-query as a multiset-hash comparison, ONE
    // aggregate per path (any divergence flips every row's hash against
    // the golden pin); the row-level exceptAll equivalence pin lives in
    // DedupSpec alongside the measured partition-skipping evidence and
    // the incremental append==rebuild parity, so the gate times the
    // disk probe instead of re-running both paths through two
    // bidirectional anti-joins.
    "q_dedup_index_persist" -> ((s, dir) => ScaleDomain.lifecycleOnce(s, "q_dedup_index_persist", dir) {
      val docs = Tables(s, dir, "documents")
      val even = docs.filter(col("doc_id") % 2 === 0)
      val odd = docs.filter(col("doc_id") % 2 === 1)
      val idx = Dedup.minhashBuildIndex(even, "doc_id", "text",
        k = 3, numHashes = 40, bands = 8)
      val pidx = graft.SubTimings.time("q_dedup_index_persist", "index_write") {
        Dedup.minhashWriteIndex(idx,
          ScaleDomain.scratch(s, "mhidx", dir), hashBuckets = 16)
      }
      val mem = Dedup.minhashProbe(odd, "doc_id", "text", idx,
        threshold = 0.7, minBandMatches = 2)
        .select(col("id_new"), col("id_old"),
          round(col("jaccard"), 6).as("jaccard"))
      val disk = Dedup.minhashProbePersisted(odd, "doc_id", "text", pidx,
        threshold = 0.7, minBandMatches = 2)
        .select(col("id_new"), col("id_old"),
          round(col("jaccard"), 6).as("jaccard")).localCheckpoint()
      def mhash(df: org.apache.spark.sql.DataFrame): Long =
        df.agg(coalesce(expr(
          "bit_xor(xxhash64(id_new, id_old, jaccard))"), lit(0L)))
          .head().getLong(0)
      val equal = mhash(mem) == mhash(disk)
      disk.withColumn("paths_equal", lit(equal))
        .orderBy(col("id_new"), col("id_old"))
    }),

    // Winnowed-fingerprint shared-substring pairs (MOSS scheme): documents
    // sharing any substring of length >= window+k-1 = 19 chars. The
    // synthetic corpus is heavily templated (63% of doc pairs share >=2
    // prints at sf0.01), so the query keeps only substantial overlap
    // (minShared=10 ≈ shared passages of hundreds of chars) and treats
    // prints in >2% of the corpus as boilerplate (maxDocFreq — each
    // surviving print contributes ≤ df² pairs, so this cap IS the
    // quadratic-work bound; true near-dup pairs share rare prints from
    // their unique text). Rows-only (the fingerprint sampling is
    // position-dependent; pinned by the guarantee tests in DedupSpec).
    "q_substring_pairs" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val cap = math.max(50, (docs.count() / 50).toInt) // ~2% of corpus
      Dedup.sharedSubstringPairs(docs,
        "doc_id", "text", k = 8, window = 12, minShared = 10, maxDocFreq = cap)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Oracle anchor for the MinHash/Jaccard family: per-document distinct
    // k-shingle counts. The kernel dedups 64-bit shingle HASHES, the
    // oracle dedups the STRINGS — a hash-match therefore also certifies
    // the no-collision assumption the whole hashed-shingle family rests
    // on, turning a silent probabilistic caveat into a gate-checked fact.
    "q_shingle_stats" -> ((s, dir) =>
      Tables(s, dir, "documents").select(col("doc_id"),
        size(graft.ops.HashKernels.hashedShinglesUdf(5)(col("text")))
          .as("n_shingles"))
        .orderBy(col("doc_id"))),

    // Segment-level exact dedup (CCNet paragraph dedup; token-window
    // segmenter since the corpus is single-line): corpus-wide
    // first-occurrence election per distinct 8-token segment, documents
    // reassembled from their surviving segments. Exact → oracle-backed.
    "q_segment_dedup" -> ((s, dir) =>
      SegmentDedup.dedupSegments(Tables(s, dir, "documents"), "doc_id",
        SegmentDedup.tokenWindowSegments(col("text"), 8))
        .select(col("doc_id"), col("n_segments").cast("long").as("n_segments"),
          col("n_kept"), col("text_kept"))
        .orderBy(col("doc_id"))),

    // SimHash near-dup pairs (hamming ≤ 3 over 64-bit signatures).
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashNearDuplicates(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))),

    // End-to-end corpus cleaning in the Gopher stage order: quality
    // filter -> Table-A1 repetition filter -> MinHash near-dup removal
    // among survivors. Rows-only (contains the probabilistic dedup
    // stage) but golden-pinned; the stage accounting is pinned by
    // EndToEndSpec.
    "q_clean_corpus" -> ((s, dir) =>
      graft.ops.Corpus.clean(Tables(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))),

    // The deterministic stage of q_clean_corpus, oracle-anchored: the
    // exact post-Gopher-filter survivor frame Corpus.clean hands to the
    // dedup stage. Hash-matching this pins the composite pipeline's
    // integer-exact half; only the probabilistic dedup stage stays
    // rows-only.
    "q_clean_survivors" -> ((s, dir) =>
      graft.ops.TextAnalysis.gopherFilter(Tables(s, dir, "documents"), "text")
        .filter(col("keep"))
        .select(col("doc_id"), col("n_words"))
        .orderBy(col("doc_id"))),

    // ---- decontamination ----------------------------------------------
    // Benchmark-overlap scan (GPT-3/PaLM-style n-gram decontamination):
    // the "eval set" is the deterministic doc_id % 53 slice of the corpus,
    // so the whole pipeline — tokenize → distinct word 3-grams → broadcast
    // join → overlap count — is exact and oracle-backed. The bench side is
    // broadcast; the corpus side never shuffles before the pair aggregate.
    "q_decontaminate" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 53 === 0)
      Decontaminate.overlapPairs(docs, "doc_id", "text",
        bench, "doc_id", "text", n = 3, minShared = 2)
        .orderBy(col("doc_id"), col("bench_id"))
    }),

    // The anti-join half of decontamination: the corpus minus every
    // contaminated document. Oracle-backed (set difference is exact SQL).
    "q_decontam_survivors" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 53 === 0)
      Decontaminate.decontaminate(docs, "doc_id", "text",
        bench, "doc_id", "text", n = 3, minShared = 2)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // The 100 TB variant of q_decontaminate: grams ride the join as
    // FNV-1a int64s (~5x narrower exploded frame) instead of strings.
    // Same oracle SQL as q_decontaminate — a 64-bit gram collision inside
    // this fixed dataset would be the only divergence, and there is none.
    "q_decontam_hashed" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 53 === 0)
      Decontaminate.overlapPairs(docs, "doc_id", "text",
        bench, "doc_id", "text", n = 3, minShared = 2, hashGrams = true)
        .orderBy(col("doc_id"), col("bench_id"))
    }),

    // Self-check making the hashed==string decontamination contract a
    // first-class gate row (round-5 ADVICE): full-outer-diff the two
    // paths' (doc_id, bench_id, n_shared) sets in Spark; the oracle says
    // both sides must be empty. A future 64-bit gram collision now fails
    // HERE with a self-explanatory row count instead of as a confusing
    // q_decontam_hashed hash mismatch.
    // Same collision gate for the exact-substring family: its hashKey
    // scale path (xxhash64 window keys — the shuffle narrows from L-char
    // strings to 8 bytes at corpus scale) must flag the IDENTICAL
    // (doc, pos) set as the exact string path at this SF. Oracle = the
    // all-zeros row, like q_decontam_hash_agree.
    "q_substr_hash_agree" -> ((s, dir) => {
      // a 1-in-7 doc subset keeps the double window explode + full-outer
      // diff off the bench's critical path (8s -> ~1s at sf0.1) while
      // still exercising every window of ~14% of the corpus
      val docs = Tables(s, dir, "documents").filter(col("doc_id") % 7 === 0)
      def run(h: Boolean) = graft.ops.ExactSubstrings
        .duplicatedWindows(docs, "doc_id", "text", L = 25, hashKey = h)
      val str = run(false).withColumn("s", lit(1))
      val hsh = run(true).withColumn("h", lit(1))
      str.join(hsh, Seq("doc_id", "pos"), "full_outer")
        .agg(
          sum(when(col("h").isNull, 1).otherwise(0)).as("string_only"),
          sum(when(col("s").isNull, 1).otherwise(0)).as("hashed_only"))
        .select(
          coalesce(col("string_only"), lit(0L)).cast("long").as("string_only"),
          coalesce(col("hashed_only"), lit(0L)).cast("long").as("hashed_only"))
    }),

    "q_decontam_hash_agree" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 53 === 0)
      def run(hashed: Boolean) =
        Decontaminate.overlapPairs(docs, "doc_id", "text",
          bench, "doc_id", "text", n = 3, minShared = 2, hashGrams = hashed)
      val str = run(false).withColumnRenamed("n_shared", "n_s")
      val hsh = run(true).withColumnRenamed("n_shared", "n_h")
      val diff = str.join(hsh, Seq("doc_id", "bench_id"), "full_outer")
        .filter(col("n_s").isNull || col("n_h").isNull ||
          col("n_s") =!= col("n_h"))
      diff.agg(
        sum(when(col("n_h").isNull, 1).otherwise(0)).as("string_only"),
        sum(when(col("n_s").isNull, 1).otherwise(0)).as("hashed_only"),
        sum(when(col("n_s").isNotNull && col("n_h").isNotNull, 1)
          .otherwise(0)).as("count_mismatch"))
        .select(
          coalesce(col("string_only"), lit(0L)).as("string_only"),
          coalesce(col("hashed_only"), lit(0L)).as("hashed_only"),
          coalesce(col("count_mismatch"), lit(0L)).as("count_mismatch"))
    }),

    // ---- deterministic sampling & mixture ------------------------------
    // Quota sampling per language stratum by md5 order — runs through the
    // bounded-heap top-k aggregate (map-side combine), never a per-stratum
    // window sort; the oracle reproduces it with row_number over md5.
    "q_quota_sample" -> ((s, dir) =>
      Sampling.quotaSample(Tables(s, dir, "documents"), "lang", "doc_id", 40)
        .orderBy(col("lang"), col("sample_rank"))),

    // Deterministic Bernoulli sample: md5-threshold string compare, a
    // stateless map-only filter — reproducible across engines and runs.
    "q_hash_sample" -> ((s, dir) =>
      Sampling.hashSample(Tables(s, dir, "documents"), "doc_id", 0.25)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // Weighted sampling without replacement (Efraimidis-Spirakis):
    // 100 docs drawn ∝ n_chars, keys -ln(u)/w from md5-derived uniforms
    // — map-only keying + TakeOrdered, the id-pure-function discipline
    // of the rest of the sampler family. The oracle replays every key
    // from the hex digits.
    "q_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(Tables(s, dir, "documents"), "doc_id",
        "n_chars", 100)
        .orderBy(col("rank"))),

    // Reproducible global shuffle: exact 1-based position in md5 order via
    // the two-phase running total (no Exchange SinglePartition — the naive
    // row_number() over a global ORDER BY would plan one).
    "q_shuffle_det" -> ((s, dir) =>
      Sampling.deterministicShuffle(Tables(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), col("shuffle_pos"))
        .orderBy(col("doc_id"))),

    // Domain mixture re-weighting (DoReMi/Pile-style recipe): per-language
    // char-mass share vs a target mixture → per-domain sampling weight.
    "q_mixture_weights" -> ((s, dir) =>
      Sampling.mixtureWeights(Tables(s, dir, "documents"), "lang", "n_chars",
        Map("en" -> 0.40, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15))
        .orderBy(col("lang"))),

    // ---- semantic dedup -------------------------------------------------
    // SemDeDup over the embeddings table: k-means cells → within-cell
    // cosine pairs (grid-split against cluster skew) → connected
    // components → keep min-id representative. Rows-only (cluster geometry
    // is not SQL-expressible); planted-duplicate recall and the grid
    // guard are pinned by SemDedupSpec. The testdata embeddings are
    // random (cosine mass near 0.35-0.5), so the threshold targets the
    // top tail, like q_cosine_neardup; real corpora use ~0.95.
    "q_semantic_dedup" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      // oracle-backed since round 15: the driver-deterministic centroid
      // model is stashed (training is seeded k-means++ on a hash-ordered
      // sample, so this standalone train IS the model dropSemanticDuplicates
      // derives internally) and the whole drop pipeline — argmax cells,
      // within-cell rounded-cosine pairs, component election — is
      // restated in DuckDB with the model as literals (OracleStash.semDedupSql)
      val cent = Similarity.trainCentroids(emb, "vec_id", "embedding",
        k = 8, lloydIters = 2)
      OracleStash.putIvfCentroids("q_semantic_dedup", dir,
        cent.collect().map(r =>
          (r.getLong(0), r.getSeq[Float](1).toIndexedSeq)).sortBy(_._1).toIndexedSeq)
      SemDedup.dropSemanticDuplicates(emb,
        "vec_id", "embedding", threshold = 0.35, kCentroids = 8,
        lloydIters = 2, maxCellRows = 200, centroids = Some(cent))
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    }),

    // ---- text cleansing -------------------------------------------------
    // PII scrub (emails/IPs/phones -> typed placeholders) with per-class
    // replacement accounting. Map-only regex kernels; oracle-backed (the
    // patterns are the RE2/Java-regex common subset, so DuckDB runs the
    // same ones).
    "q_pii_scrub" -> ((s, dir) =>
      TextCleanse.piiScrub(Tables(s, dir, "documents"), "text")
        .select(col("doc_id"), col("text"),
          col("n_emails"), col("n_ips"), col("n_phones"))
        .orderBy(col("doc_id"))),

    // C4-style line filtering: terminal punctuation + >= 4 words + no
    // boilerplate markers, text rebuilt from the surviving lines. Map-only;
    // oracle-backed.
    "q_c4_filter" -> ((s, dir) =>
      TextCleanse.c4LineFilter(Tables(s, dir, "documents"), "text")
        .select(col("doc_id"), col("text"), col("n_lines"), col("n_lines_kept"))
        .orderBy(col("doc_id"))),

    // ---- text analysis ------------------------------------------------
    "q_token_stats" -> ((s, dir) =>
      Tables(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"),
        length(col("text")).as("len_chars"))
        .orderBy(col("doc_id"))),

    "q_quality_score" -> ((s, dir) =>
      TextAnalysis.qualityFeatures(Tables(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("avg_token_len"), 6).as("avg_token_len"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"),
          round(col("alpha_ratio"), 6).as("alpha_ratio"),
          col("quality_score"))
        .orderBy(col("doc_id"))),

    "q_lang_id" -> ((s, dir) =>
      Tables(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.languageId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))),

    // Snapshot diff (dataset-version audit): the new snapshot is derived
    // from the table in BOTH engines — %7 ids removed, %5 ids edited,
    // %11 ids re-added under shifted ids — then one full-outer join on
    // the id decides added/removed/changed/unchanged. Spark compares
    // xxhash64 digests (8-byte shuffle rows); the oracle compares the
    // text itself, so a digest collision would fail the gate.
    "q_snapshot_diff" -> ((s, dir) => {
      val base = Tables(s, dir, "documents")
      val newSnap = base.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [v2]")))
            .otherwise(col("text")).as("text"))
        .unionByName(base.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(lit("added:"), col("doc_id")).as("text")))
      graft.ops.SnapshotDiff.diff(
        base.select(col("doc_id"), col("text")), newSnap, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // The incremental sibling of the diff: a CDC change set (edits %5 at
    // v2, deletes %7 at v3, inserts %11 under shifted ids) APPLIED onto
    // the base — MERGE INTO semantics over plain frames. The %35 ids
    // carry BOTH an edit (v2) and a delete (v3), so the max-(version,op)
    // last-writer election is load-bearing, not decorative. One id-keyed
    // max_by over the (small) change side + one full-outer id join.
    "q_upsert_apply" -> ((s, dir) => {
      val base = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val edits = base.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), lit(2L).as("version"), lit("upsert").as("op"),
          concat(lit("v2 "), col("text")).as("text"), col("lang"))
      val dels = base.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), lit(3L).as("version"), lit("delete").as("op"),
          lit(null).cast("string").as("text"), lit(null).cast("string").as("lang"))
      val ins = base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          lit(2L).as("version"), lit("upsert").as("op"),
          concat(lit("new:"), col("text")).as("text"), col("lang"))
      graft.ops.SnapshotDiff.applyChangeSet(
        base, edits.unionByName(dels).unionByName(ins), "doc_id",
        Seq("text", "lang"))
        .orderBy(col("doc_id"))
    }),

    // The release-gate view of the same diff: per-status doc counts and
    // char movement (diffSummary — the 4-row table a shipping decision
    // reads).
    "q_snapshot_summary" -> ((s, dir) => {
      val base = Tables(s, dir, "documents")
      val newSnap = base.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [v2]")))
            .otherwise(col("text")).as("text"))
        .unionByName(base.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(lit("added:"), col("doc_id")).as("text")))
      graft.ops.SnapshotDiff.diffSummary(
        base.select(col("doc_id"), col("text")), newSnap, "doc_id", "text")
        .orderBy(col("status"))
    }),

    // Corpus-health dashboard, per source: integer sums of the Gopher
    // repetition numerators + how many docs the Table-A1 filter drops.
    // The per-doc kernel is already oracle-pinned (q_repetition_gopher);
    // this is the rollup a curation run actually reads. Exact integer
    // sums -> cross-engine bit-agreement is structural.
    "q_repetition_by_source" -> ((s, dir) =>
      TextAnalysis.repetitionFilter(Tables(s, dir, "documents"), "text")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("dup_lines")).as("dup_lines"),
          sum(col("n_lines")).as("n_lines"),
          sum(col("dup5_chars")).as("dup5_chars"),
          sum(col("n_tok_chars")).as("n_tok_chars"),
          sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"))
        .orderBy(col("source"))),

    // Lang-ID quality report: confusion matrix of the marker-word
    // classifier against the table's labeled lang. One aggregate over
    // the map-only prediction.
    "q_langid_confusion" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("lang"), TextAnalysis.languageId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("lang_pred"))),

    // Deflate-compressibility signal: no SQL twin (DuckDB has no
    // deflate), so rows-only at the driver + GoldenGate-pinned — the
    // q_plogo/q_bpe_tokenize discipline. `suspect` flags both tails
    // (boilerplate-compressible and high-entropy noise).
    "q_compression_ratio" -> ((s, dir) =>
      TextAnalysis.compressionSignals(Tables(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_raw_bytes"), col("n_deflate_bytes"),
          col("deflate_ratio"),
          (col("deflate_ratio") < 0.35 || col("deflate_ratio") > 0.95)
            .as("suspect"))
        .orderBy(col("doc_id"))),

    "q_fingerprint" -> ((s, dir) =>
      Tables(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text"), 8).as("fp"))
        .orderBy(col("doc_id"))),

    // Gopher-style repetition signals (dup lines, top word / 2-gram count
    // fractions) — exact ratios, rounded identically on both sides.
    "q_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(Tables(s, dir, "documents"), "text")
        .select(col("doc_id"),
          round(col("dup_line_frac"), 6).as("dup_line_frac"),
          round(col("dup_line_char_frac"), 6).as("dup_line_char_frac"),
          round(col("top_word_frac"), 6).as("top_word_frac"),
          round(col("top_2gram_frac"), 6).as("top_2gram_frac"))
        .orderBy(col("doc_id"))),

    // Gopher-style document filter: integer-exact rule thresholds, first
    // failing rule as the drop reason.
    "q_gopher_filter" -> ((s, dir) =>
      TextAnalysis.gopherFilter(Tables(s, dir, "documents"), "text")
        .select(col("doc_id"), col("keep"), col("drop_reason"), col("n_words"))
        .orderBy(col("doc_id"))),

    // The FULL Gopher repetition family (Rae et al. 2112.11446 Table A1),
    // integer counts per document: line duplication, top 2/3/4-gram char
    // numerators, duplicated 5..10-gram covered chars (token-cover
    // attribution). Map-only kernel; every column is an exact integer →
    // oracle-backed, including the n-gram cover via per-n dup/cover CTEs.
    "q_repetition_gopher" -> ((s, dir) => {
      val base = TextAnalysis.ngramRepetition(Tables(s, dir, "documents"), "text")
      val counts = Seq("n_lines", "dup_lines", "line_chars", "dup_line_chars",
        "n_tok_chars") ++
        (2 to 4).flatMap(n => Seq(s"top${n}_count", s"top${n}_chars")) ++
        (5 to 10).map(n => s"dup${n}_chars")
      base.select(col("doc_id") +: counts.map(c => col(c).cast("long").as(c)): _*)
        .orderBy(col("doc_id"))
    }),

    // Threshold verdict over the same counts: first failing Table-A1 rule
    // in table order, integer cross-multiplied → oracle-backed.
    "q_repetition_filter" -> ((s, dir) =>
      TextAnalysis.repetitionFilter(Tables(s, dir, "documents"), "text")
        .select(col("doc_id"), col("drop_reason"), col("keep"))
        .orderBy(col("doc_id"))),

    // Sequence packing (round 3): docs fill 2048-token training packs in
    // doc_id order. The running total is the two-phase scalable cumsum —
    // PlanSpec pins that no Exchange SinglePartition appears (the naive
    // global ordered window would plan one). Exact → oracle-backed.
    "q_pack_sequences" -> ((s, dir) => {
      // the two-phase cumsum consumes this frame twice (range cumsum +
      // join back) — pin the narrow (id, tokens) projection so the
      // scan + tokenCount map pass runs once, not per consumer
      val toks = Tables(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .materialized
      graft.ops.Packing.packBySize(toks, "doc_id", "n_tokens", capacity = 2048)
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"), col("bin"))
        .orderBy(col("doc_id"))
    }),

    // ---- similarity search over embeddings ----------------------------
    // Exact brute-force cosine top-5 for the first 10 vectors as queries.
    "q_ann_bruteforce" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Hard-negative mining: top-5 nearest DIFFERENT-label vectors per
    // query — the contrastive-training negative sampler. Exact scoring
    // with the label filter fused into the scan; oracle-backed.
    "q_hard_negatives" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", "label", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // LSH-bucketed approximate variant. Rows-only. The testdata embeddings
    // are random (nearest neighbors sit at s≈0.4, p(bit)=0.63), so the
    // default 16-bit bands would never collide; this query passes explicit
    // permissive geometry r=6/B=12 (recall ≈ 1−(1−0.63^6)^12 ≈ 0.55 at
    // s=0.4, background scan 12·2^−6 ≈ 17% — the honest S-curve limit on
    // angle-unseparated data). Real corpora keep the defaults: r=16, B=16,
    // multi-probe ⇒ ~0.4% background scan, ~0.9 recall at s≥0.8.
    "q_ann_lsh" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      // oracle-backed since round 14: the deterministic hyperplane
      // weight matrix is stashed and the signature/bucket/re-rank path
      // replayed in DuckDB (OracleStash.lshSql)
      OracleStash.putHyperplaneWeights("q_ann_lsh", dir,
        graft.ops.HashKernels.hyperplaneWeights(n = 72, d = 64, seed = 42))
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, bitsPerBand = 6, bands = 12, multiProbe = false)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF cell-probing variant — oracle-backed since round 14: the
    // deterministic centroid model is stashed and the WHOLE probe
    // pipeline (argmax assignment, nProbe cell selection, self-excluded
    // candidates, rounded exact re-rank, top-5) is restated in DuckDB
    // with the model as literals (see OracleStash.ivfSql); the training
    // loop itself stays GoldenGate-pinned.
    "q_ann_ivf" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cent = Similarity.trainCentroids(emb, "vec_id", "embedding",
        k = 16, lloydIters = 3)
      OracleStash.putIvfCentroids("q_ann_ivf", dir,
        cent.collect().map(r =>
          (r.getLong(0), r.getSeq[Float](1).toIndexedSeq)).sortBy(_._1).toIndexedSeq)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, kCentroids = 16, nProbe = 4,
        centroids = Some(cent))
        .orderBy(col("query_id"), col("rank"))
    }),

    // The IVF index THROUGH DISK — train-once / probe-forever ANN: the
    // centroid model and the cell-partitioned vector assignments
    // persist as parquet, 80% of the corpus builds the index and the
    // rest arrives via the fixed-centroid append (which writes into
    // only its own cells' partitions), and the probe plans a bounded
    // ≤ kCentroids partition list. Two invariants ride in-query: the
    // appended index must equal a same-centroid full REBUILD probe-for-
    // probe (multiset hash, any divergence flips the golden pin), and
    // the probed result is the emitted rows. Row-level parity + measured
    // partition skipping live in OpsSpec.
    "q_ann_ivf_persist" -> ((s, dir) => ScaleDomain.lifecycleOnce(s, "q_ann_ivf_persist", dir) {
      val emb = Tables(s, dir, "embeddings")
      val build = emb.filter(pmod(col("vec_id"), lit(5L)) =!= 0)
      val delta = emb.filter(pmod(col("vec_id"), lit(5L)) === 0)
      val qs = emb.filter(col("vec_id") < 10)
      val pathA = ScaleDomain.scratch(s, "mivf_a", dir)
      val pathB = ScaleDomain.scratch(s, "mivf_b", dir)
      // centroids trained explicitly so the model can be stashed for the
      // oracle restatement (identical args to ivfWriteIndex's internal
      // call — the persisted index is bit-unchanged)
      val cent0 = Similarity.trainCentroids(build, "vec_id", "embedding",
        k = 16, lloydIters = 3)
      OracleStash.putIvfCentroids("q_ann_ivf_persist", dir,
        cent0.collect().map(r =>
          (r.getLong(0), r.getSeq[Float](1).toIndexedSeq)).sortBy(_._1).toIndexedSeq)
      val idx = graft.SubTimings.time("q_ann_ivf_persist", "index_write") {
        val i = Similarity.ivfWriteIndex(build, "vec_id", "embedding",
          pathA, kCentroids = 16, centroids = Some(cent0))
        Similarity.ivfExtendIndex(delta, "vec_id", "embedding", i)
        i
      }
      val rebuilt = Similarity.ivfWriteIndex(emb, "vec_id", "embedding",
        pathB, kCentroids = 16,
        centroids = Some(s.read.parquet(s"$pathA/centroids")))
      val disk = Similarity.ivfProbePersisted(s, idx, qs,
        "vec_id", "embedding", k = 5, nProbe = 4).localCheckpoint()
      val full = Similarity.ivfProbePersisted(s, rebuilt, qs,
        "vec_id", "embedding", k = 5, nProbe = 4)
      def mhash(df: org.apache.spark.sql.DataFrame): Long =
        df.agg(coalesce(expr(
          "bit_xor(xxhash64(query_id, neighbor_id, sim, rank))"), lit(0L)))
          .head().getLong(0)
      val equal = mhash(disk) == mhash(full)
      disk.withColumn("append_eq_rebuild", lit(equal))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Product-quantization ADC variant (Jégou et al. 2011): vectors
    // compress to 8 one-byte codes, the scan is table lookups, the ADC
    // shortlist re-ranks exactly. Rows-only (k-means geometry); recall
    // and determinism are pinned by ProductQuantizerSpec.
    "q_ann_pq" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      // oracle-backed since round 15: the per-subspace k-means is a
      // deterministic driver loop — the codebooks are stashed (training
      // here IS the model pqTopK derives internally, same seed/sample)
      // and the encode/ADC/re-rank pipeline replays in DuckDB from the
      // raw embeddings (OracleStash.pqSql)
      val cb = ProductQuantizer.train(emb, "vec_id", "embedding", m = 8, ksub = 64)
      OracleStash.putPqCodebooks(dir,
        cb.cents.toIndexedSeq.map(_.toIndexedSeq.map(_.toIndexedSeq)))
      // rerankFactor=16 (an 80-candidate exact re-rank per query, the
      // FAISS-typical shortlist band): the default 4 measured under the
      // 0.55 recall floor once the corpus grew to 2000 random vectors
      // (sf0.1) — ADC noise on angle-unseparated data pushes true
      // neighbors past a 20-deep shortlist. The re-rank stays narrow
      // (nq * 80 rows) at any corpus size.
      ProductQuantizer.pqTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, m = 8, ksub = 64, rerankFactor = 16,
        codebooks = Some(cb))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Embedding-cosine near-duplicate pairs. The testdata embeddings are
    // random (max pairwise cosine ≈ 0.5), so the query threshold targets
    // the top tail and passes explicit permissive geometry r=5/B=12
    // (recall ≈ 1−(1−0.61^5)^12 ≈ 0.67 at s=0.35, background candidates
    // ≈ 1−(1−2^−5)^12 ≈ 32% of pairs — the S-curve can't do better at
    // p≈0.61). Real corpora keep the defaults: threshold 0.95 auto-solves
    // to 20-bit bands, background 2^−20/band ⇒ ~10^−5·N² candidates.
    // Rows-only.
    "q_cosine_neardup" -> ((s, dir) => {
      // oracle-backed since round 14: signatures replayed from the
      // stashed weight matrix (OracleStash.cosNeardupSql)
      OracleStash.putHyperplaneWeights("q_cosine_neardup", dir,
        graft.ops.HashKernels.hyperplaneWeights(n = 60, d = 64, seed = 42))
      Similarity.cosineNearDuplicates(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.35, bitsPerBand = 5, bands = 12)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Measured near-dup contract (round 8), the dedup-family twin of
    // q_ann_recall: each probabilistic detector runs against the EXACT
    // truth on its own similarity measure — minhash vs all-pairs
    // 5-shingle Jaccard >= 0.7 (the grid-split exact operator with a
    // single block), cosine-LSH vs all-pairs rounded cosine >= 0.35 —
    // and must (a) clear a recall floor and (b) be an exact SUBSET of
    // the truth (both detectors verify candidates exactly, so a single
    // spurious pair means the verify stage broke). The cosine detector
    // runs a 4-bit x 20-band geometry here — at the threshold boundary
    // s=0.35 the S-curve gives 1-(1-p^4)^20 = 0.953 with
    // p = 1-arccos(0.35)/pi = 0.614, vs only 0.665 for the 5x12
    // geometry q_cosine_neardup demos. Floors sit under the measured
    // recalls (minhash 1.00/1.00, cosine 0.957/0.959 at sf0.001/sf0.01)
    // by a stable margin. Exact truth is quadratic by nature, so the
    // measurement runs on a BOUNDED corpus: above `truthCap` rows the
    // doc side narrows to a deterministic xxhash64-keyed slice (cap
    // does not bind at the gate SFs — 500 docs at sf0.001/sf0.01 — so
    // the oracle/pinned output is untouched; at sf0.1 it cuts the
    // C(5000,2) = 12.5M-pair shingle-merge truth to ~C(1250,2),
    // 23 s -> ~3 s). Recall measured slice-vs-slice is the same
    // contract: both the detector and the truth see the same corpus.
    // Measured-recall gates for the four detectors that were still
    // golden-only (round-9 directive): SimHash, the incremental
    // index+probe dedup, SemDeDup, and the permissive 5×12 cosine-LSH
    // geometry q_cosine_neardup demos. Same contract as
    // q_dedup_quality: each detector runs against the EXACT truth on
    // its own similarity measure over the same bounded slice, must
    // clear a recall floor, and — where the detector verifies its
    // candidates exactly — must be an exact SUBSET of the truth.
    //   - simhash: truth = all-pairs hamming ≤ 3 over the SAME 64-bit
    //     signatures. The 4×16-bit blocking has a pigeonhole GUARANTEE
    //     at maxHamming 3 (3 differing bits cannot dirty all 4 chunks),
    //     so the floor is exactly 1.0 — deterministic, not
    //     probabilistic.
    //   - incremental: truth = exact cross-batch (even corpus × odd
    //     increment) 3-shingle Jaccard ≥ 0.7; the probe's
    //     minBandMatches=2 geometry (8 bands × 5 hashes) gives
    //     P(≥2 bands) ≈ 0.46 AT the 0.7 boundary and ≈ 1 on
    //     near-identical pairs. Measured recall 0.92 / 0.86 / 0.37 at
    //     sf0.001 / 0.01 / 0.1 — the sf0.1 slice's truth pairs sit
    //     almost entirely at the boundary, so the floor (0.30) encodes
    //     the S-curve's worst case, and the subset bit carries the
    //     exactness claim (the probe verifies candidates with exact
    //     Jaccard, so ANY spurious pair is a broken verify stage).
    //     A SECOND stratum pins where the geometry must be sharp:
    //     recall over j ≥ 0.9 truth pairs (per-pair ≈ 0.993 by the
    //     S-curve; measured 1.00 / 1.00 / 1.00), floor 0.75 — its
    //     subset check runs against the FULL ≥ 0.7 truth, since a
    //     probe pair at j ∈ [0.7, 0.9) is correct, just not strict.
    //   - semdedup: truth = exact cosine pairs ≥ 0.35 → connected
    //     components → min-id survivor; SemDeDup's within-cell
    //     verification makes its drop set a provable SUBSET of the
    //     truth drops (a cell component is contained in a truth
    //     component, so a cell non-min is a global non-min), and
    //     k-means cell splits only cost cross-cell RECALL. Measured
    //     0.32 / 0.33 / 0.38 at sf0.001 / 0.01 / 0.1 — the testdata
    //     embeddings are RANDOM, so threshold-0.35 "duplicate"
    //     components are long chains spread across cells, the
    //     adversarial worst case for any cell-local detector
    //     (published SemDeDup assumes tight semantic clusters, which
    //     land in one cell). Floor 0.25 pins exactly that documented
    //     geometry; the subset bit is the sharp half of the contract.
    //   - phash: perceptual dHash near-dup over the media plane; same
    //     4×16-bit pigeonhole as simhash -> deterministic floor 1.0
    //     (seeded overlay twins keep the truth nonempty at every SF).
    //   - cosine_lsh_5x12: the S-curve at the 0.35 boundary gives
    //     1-(1-0.614^5)^12 ≈ 0.67; measured 0.69 / 0.69 / 0.67. Floor
    //     0.55.
    "q_approx_dedup_quality" -> ((s, dir) => {
      graft.plans.GraftExtensions.register(s)
      val truthCap = 1500L
      def slice(df: DataFrame, idCol: String): DataFrame = {
        val n = df.count()
        if (n <= truthCap) df
        else df.filter(pmod(xxhash64(col(idCol)), lit((n + truthCap - 1) / truthCap)) === 0)
      }
      // the doc-side (slice → simhash signatures) and vector-side
      // (slice → exact cosine truth) materialization chains are
      // independent — and so is every downstream truth chain (cosine
      // pairs → exact components, media slice → perceptual/DCT
      // signatures, cross-batch jaccard). Each eager chain submits
      // from its own future so their jobs interleave on the executor
      // pool (the round-15 build shape overlapped only the two slice
      // chains and ran the five truth materializations serially on the
      // submitting thread). Like the v_* verdicts, the truth_build
      // sub-timing ATTRIBUTES — per-chain times sum across overlapped
      // threads and may exceed the query wall-clock.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration.{Inf => Forever}
      // run-scope capture: pool threads may predate the bench's
      // measured scope (see the verdict note below)
      val runToken = graft.SubTimings.currentRun
      // `truth_build` keeps its historical summed-across-chains meaning;
      // the nested t_<chain> stages split it so the artifact says WHICH
      // truth chain grew (r15 verdict "Next round" #5 — the coarse label
      // could not distinguish compute from job-count)
      def tb[T](chain: String)(body: => T): T = graft.SubTimings.withRun(runToken) {
        graft.SubTimings.time("q_approx_dedup_quality", "truth_build") {
          graft.SubTimings.time("q_approx_dedup_quality", s"t_$chain")(body)
        }
      }
      val docsF = Future { tb("doc_slice_simhash") {
        val d = slice(Tables(s, dir, "documents"), "doc_id").localCheckpoint()
        val sg = d.select(col("doc_id").as("id"),
          graft.ops.HashKernels.simhashUdf(col("text")).as("sig")).localCheckpoint()
        (d, sg)
      } }
      val embF = Future(tb("emb_slice")(
        slice(Tables(s, dir, "embeddings"), "vec_id").localCheckpoint()))
      val emb = Await.result(embF, Forever)
      // exact cosine truth (identical formula/rounding to the verify
      // stages), shared by the semdedup and 5×12 gates
      val vecs = emb.select(col("vec_id").as("id"), col("embedding").as("v"),
        graft.ops.HashKernels.normUdf(col("embedding")).as("nrm"))
      val truthCos0 = vecs
        .select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
        .join(vecs.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")),
          col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(when(col("na") * col("nb") > 0,
            call_function("dot_f", col("va"), col("vb")) / (col("na") * col("nb")))
            .otherwise(lit(0.0)), 6).as("sim"))
        .filter(col("sim") >= 0.35)
        .select(col("id_a"), col("id_b"))
      val truthCosCkF = Future(tb("cosine_allpairs")(truthCos0.localCheckpoint()))

      // semdedup drop sets: truth = min-id election over exact
      // components; detector = the q_semantic_dedup cell geometry.
      // connectedComponents is itself eager (union-find over the
      // collected edge list), so it chains off the cosine-truth future
      // instead of blocking the submitting thread
      val truthDroppedCkF = truthCosCkF.map { tc => tb("cosine_components") {
        Dedup.connectedComponents(tc)
          .filter(col("id") =!= col("component"))
          .select(col("id").as("id_a"), col("id").as("id_b"))
          .localCheckpoint()
      } }
      val semKept = SemDedup.dropSemanticDuplicates(emb, "vec_id", "embedding",
        threshold = 0.35, kCentroids = 8, lloydIters = 2, maxCellRows = 200)
        .select(col("vec_id"))
      val semDropped = emb.select(col("vec_id"))
        .join(semKept, Seq("vec_id"), "left_anti")
        .select(col("vec_id").as("id_a"), col("vec_id").as("id_b"))

      val cos512 = Similarity.cosineNearDuplicates(emb, "vec_id", "embedding",
        threshold = 0.35, bitsPerBand = 5, bands = 12)
        .select(col("id_a"), col("id_b"))

      // doc side ready: simhash truth/detector + incremental truth/probe
      val (docs, sigs) = Await.result(docsF, Forever)
      val truthSim = sigs.select(col("id").as("id_a"), col("sig").as("sa"))
        .join(sigs.select(col("id").as("id_b"), col("sig").as("sb")),
          col("id_a") < col("id_b"))
        .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3)
        .select(col("id_a"), col("id_b"))
      val simPairs = Dedup.simhashNearDuplicates(docs, "doc_id", "text")
        .select(col("id_a"), col("id_b"))

      // phash: perceptual dHash over the stub-decoded media plane
      // (payload = the text bytes; the resample arithmetic is real,
      // only the codec decode is stubbed). Truth = all-pairs Hamming
      // ≤ 3 over the SAME 64-bit dHash signatures; detector = the
      // banded 4×16-bit chunk blocking — identical pigeonhole
      // guarantee to simhash, so the floor is exactly 1.0. Seeded
      // one-char-overlay twins (%97 ids shifted by 10M) guarantee the
      // truth set is nonempty at every SF: a twin's plane differs in
      // ≤1 sampled pixel → ≤2 dHash bits.
      val mediaSlice0 = docs.select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("payload"))
        .unionByName(docs.filter(col("doc_id") % 97 === 0)
          .select((col("doc_id") + 10000000L).as("media_id"),
            overlay(col("text"), lit("Z"), lit(19)).cast("binary").as("payload")))
      val mediaCkF = Future(tb("media_slice")(mediaSlice0.localCheckpoint()))
      // the two signature planes are independent given the media slice
      // — both chain off its future and run concurrently
      val phSigsF = mediaCkF.map { m => tb("phash_sigs") {
        graft.ops.Multimodal.perceptualHashes(m)
          .select(col("media_id").as("id"), col("dhash").as("sig"))
          .localCheckpoint()
      } }
      val dctSigsF = mediaCkF.map { m => tb("dct_sigs") {
        graft.ops.Multimodal.dctHashes(m)
          .select(col("media_id").as("id"), col("dcthash").as("sig"))
          .localCheckpoint()
      } }
      // incremental: exact cross-batch truth on the probe's own shingle
      // size, detector = the q_incremental_dedup index+probe geometry.
      // TWO truth strata: all pairs at the probe's own threshold (the
      // S-curve-bounded floor), and the j ≥ 0.9 stratum, where
      // P(≥2 of 8 bands | p = 0.9^5) ≈ 0.993 — near-identical
      // re-ingests MUST be caught, so the strict floor is high.
      // Submitted BEFORE the media awaits below — the jaccard truth is
      // the longest doc-side chain and must overlap the media plane.
      val truthIncAll0 = Dedup.ngramJaccard(
        docs.withColumn("blk", lit(0)), "doc_id", "text", "blk",
        n = 3, threshold = 0.7, maxBlockRows = 500)
        .filter((col("id_a") % 2 === 0) =!= (col("id_b") % 2 === 0))
        .select(
          when(col("id_a") % 2 === 1, col("id_a")).otherwise(col("id_b")).as("id_a"),
          when(col("id_a") % 2 === 1, col("id_b")).otherwise(col("id_a")).as("id_b"),
          col("jaccard"))
      val truthIncAllCkF = Future(tb("jaccard_allpairs")(truthIncAll0.localCheckpoint()))
      // every eager truth chain is now in flight — await each where its
      // lazy consumers are constructed
      val mediaSliceCk = Await.result(mediaCkF, Forever)
      val phSigs = Await.result(phSigsF, Forever)
      val truthPh = phSigs.select(col("id").as("id_a"), col("sig").as("sa"))
        .join(phSigs.select(col("id").as("id_b"), col("sig").as("sb")),
          col("id_a") < col("id_b"))
        .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3)
        .select(col("id_a"), col("id_b"))
      val phPairs = graft.ops.Multimodal.phashNearDuplicates(mediaSliceCk)
        .select(col("id_a"), col("id_b"))

      // dct_phash: the DCT low-frequency signature over the same media
      // slice — same radius-3 banding, same pigeonhole guarantee, so
      // the floor is exactly 1.0 like simhash/phash. (The overlay twins
      // move ≤1 plane pixel → a bounded low-frequency perturbation;
      // the truth set stays nonempty at every SF.)
      val dctSigs = Await.result(dctSigsF, Forever)
      val truthDct = dctSigs.select(col("id").as("id_a"), col("sig").as("sa"))
        .join(dctSigs.select(col("id").as("id_b"), col("sig").as("sb")),
          col("id_a") < col("id_b"))
        .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3)
        .select(col("id_a"), col("id_b"))
      val dctPairs = graft.ops.Multimodal.dctNearDuplicates(mediaSliceCk)
        .select(col("id_a"), col("id_b"))

      val truthIncAllCk = Await.result(truthIncAllCkF, Forever)
      val truthInc = truthIncAllCk.select(col("id_a"), col("id_b"))
      val truthIncStrict = truthIncAllCk.filter(col("jaccard") >= 0.9)
        .select(col("id_a"), col("id_b"))
      val idx = Dedup.minhashBuildIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", k = 3, numHashes = 40, bands = 8)
      val incPairs = Dedup.minhashProbe(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", idx, threshold = 0.7, minBandMatches = 2)
        .select(col("id_new").as("id_a"), col("id_old").as("id_b"))

      // `subsetTruth` defaults to the recall truth; the strict stratum
      // passes the FULL truth there (a probe pair at j ∈ [0.7, 0.9) is
      // correct, just outside the strict recall stratum).
      //
      // One job per verdict: the approx side is consumed exactly ONCE —
      // left-joined against the truth (hit marker) and the subset truth
      // (allowed marker), both verdicts aggregated in the same pass.
      // The round-14 shape (checkpoint t/a/st, then semi- and
      // anti-join counts) materialized every frame an extra time and
      // pinned ~20 localCheckpoints per invocation — the single largest
      // block-manager pressure in the whole bench (round-14 verdict #1).
      // Truth frames shared across verdicts arrive pre-checkpointed by
      // the caller; pair keys are unique on both sides by construction,
      // so the left-join markers count each approx pair exactly once.
      // Each verdict records its own v_<method> sub-timing (the three
      // coarse stages hid which of the 7 detectors grew — round-14
      // directive #3); verdicts run on parallel threads, so the stage
      // sums may exceed the query wall-clock (they attribute, not
      // partition).
      // pool threads may predate the bench's measured scope, so each
      // verdict re-opens the submitting thread's run scope before
      // recording (runToken, captured above) — otherwise the v_* stages
      // land in the unscoped bucket and vanish from the artifact
      val truthCosCk = Await.result(truthCosCkF, Forever)
      val truthDroppedCk = Await.result(truthDroppedCkF, Forever)
      def verdict(method: String, floor: Double, truth: DataFrame,
          approx: DataFrame, subsetTruth: DataFrame = null) =
        graft.SubTimings.withRun(runToken) {
        graft.SubTimings.time("q_approx_dedup_quality", s"v_$method") {
          val t = truth
          val st = if (subsetTruth == null) t else subsetTruth
          val nTrue = t.count()
          val row = approx
            .join(t.select(col("id_a"), col("id_b"), lit(1).as("__hit")),
              Seq("id_a", "id_b"), "left")
            .join(st.select(col("id_a"), col("id_b"), lit(1).as("__ok")),
              Seq("id_a", "id_b"), "left")
            .agg(
              coalesce(sum(col("__hit")).cast("long"), lit(0L)).as("hits"),
              coalesce(sum(when(col("__ok").isNull, lit(1L))).cast("long"),
                lit(0L)).as("spurious"))
            .head()
          val hits = row.getLong(0)
          val spurious = row.getLong(1)
          (method, floor, nTrue > 0 && hits.toDouble / nTrue >= floor,
            spurious == 0L)
        }
        }
      import s.implicits._
      // the seven measurements are independent Spark job chains over
      // already-checkpointed slices — submit them from parallel threads
      // so their jobs interleave on the executor pool (wall-clock ≈ the
      // slowest one, not the sum; this is a gate query, but a 7.5s
      // serial tail was the most expensive row in the whole bench)
      import scala.concurrent.ExecutionContext.Implicits.global
      // frames feeding MORE THAN ONE evaluation are checkpointed once,
      // INSIDE the future chain so their materializations overlap like
      // the verdicts themselves do (a serial checkpoint block up front
      // would re-serialize exactly the work the threads parallelize)
      val incPairsF = Future(incPairs.localCheckpoint()) // feeds TWO verdicts
      val rows =
        Await.result(Future.sequence(Seq(
        Future(verdict("cosine_lsh_5x12", 0.55, truthCosCk, cos512)),
        Future(verdict("dct_phash", 1.0, truthDct.localCheckpoint(), dctPairs)),
        incPairsF.map(ck => verdict("incremental_minhash", 0.30, truthInc, ck)),
        incPairsF.map(ck =>
          verdict("incremental_strict", 0.75, truthIncStrict, ck, truthInc)),
        Future(verdict("phash", 1.0, truthPh.localCheckpoint(), phPairs)),
        Future(verdict("semdedup", 0.25, truthDroppedCk, semDropped)),
        Future(verdict("simhash", 1.0, truthSim.localCheckpoint(), simPairs)))),
          scala.concurrent.duration.Duration.Inf)
      rows
        .toDF("method", "recall_floor", "recall_ok", "exact_subset")
        .orderBy(col("method"))
    }),

    "q_dedup_quality" -> ((s, dir) => {
      graft.plans.GraftExtensions.register(s)
      val truthCap = 1500L
      val allDocs = Tables(s, dir, "documents")
      val nDocs = allDocs.count()
      val docs =
        if (nDocs <= truthCap) allDocs
        else {
          val m = (nDocs + truthCap - 1) / truthCap
          allDocs.filter(pmod(xxhash64(col("doc_id")), lit(m)) === 0)
        }
      val truthMh = Dedup.ngramJaccard(
        docs.withColumn("blk", lit(0)), "doc_id", "text", "blk",
        n = 5, threshold = 0.7, maxBlockRows = 500)
        .select(col("id_a"), col("id_b"))
      val mh = Dedup.minhashNearDuplicates(docs, "doc_id", "text",
        k = 5, numHashes = 60, bands = 12, threshold = 0.7, maxBucketSize = 200)
        .select(col("id_a"), col("id_b"))
      // same bounded-slice rule on the vector side (2000 vecs at sf0.1
      // -> ~1000; below the cap — both gate SFs — untouched)
      val allEmb = Tables(s, dir, "embeddings")
      val nVecs = allEmb.count()
      val emb =
        if (nVecs <= truthCap) allEmb
        else {
          val m = (nVecs + truthCap - 1) / truthCap
          allEmb.filter(pmod(xxhash64(col("vec_id")), lit(m)) === 0)
        }
      val vecs = emb.select(col("vec_id").as("id"), col("embedding").as("v"),
        graft.ops.HashKernels.normUdf(col("embedding")).as("nrm"))
      // identical formula + rounding as cosineNearDuplicates' verify stage
      val truthCos = vecs
        .select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
        .join(vecs.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")),
          col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(when(col("na") * col("nb") > 0,
            call_function("dot_f", col("va"), col("vb")) / (col("na") * col("nb")))
            .otherwise(lit(0.0)), 6).as("sim"))
        .filter(col("sim") >= 0.35)
        .select(col("id_a"), col("id_b"))
      val cos = Similarity.cosineNearDuplicates(emb, "vec_id", "embedding",
        threshold = 0.35, bitsPerBand = 4, bands = 20)
        .select(col("id_a"), col("id_b"))
      // one checkpoint per truth (it feeds a count AND a join), approx
      // consumed exactly once in a single hit/spurious aggregation —
      // the q_approx_dedup_quality verdict shape (round-14 directive
      // #3: the old checkpoint-heavy semi/anti-join pair materialized
      // every frame twice and pinned blocks for the rest of the bench)
      // run-scope capture: see q_approx_dedup_quality's verdict
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val runToken = graft.SubTimings.currentRun
      def verdict(method: String, floor: Double, truth: DataFrame, approx: DataFrame) =
        graft.SubTimings.withRun(runToken) {
        graft.SubTimings.time("q_dedup_quality", s"v_$method") {
          // truth (exact jaccard / exact cosine) and detector (LSH
          // banding) are independent job chains until the join —
          // materialize the detector on a sibling thread so each
          // verdict costs max(truth, detector), not their sum
          val aF = Future(approx.localCheckpoint())
          val t = truth.localCheckpoint()
          val nTrue = t.count()
          val row = Await.result(aF, scala.concurrent.duration.Duration.Inf)
            .join(t.select(col("id_a"), col("id_b"), lit(1).as("__hit")),
              Seq("id_a", "id_b"), "left")
            .agg(
              coalesce(sum(col("__hit")).cast("long"), lit(0L)).as("hits"),
              coalesce(sum(when(col("__hit").isNull, lit(1L))).cast("long"),
                lit(0L)).as("spurious"))
            .head()
          (method, floor, row.getLong(0).toDouble / nTrue >= floor,
            row.getLong(1) == 0L)
        }
        }
      import s.implicits._
      // independent job chains → two submitting threads (see
      // q_approx_dedup_quality): wall-clock ≈ max, not sum
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.sequence(Seq(
        Future(verdict("cosine_lsh", 0.85, truthCos, cos)),
        Future(verdict("minhash", 0.90, truthMh, mh)))),
        scala.concurrent.duration.Duration.Inf)
        .toDF("method", "recall_floor", "recall_ok", "exact_subset")
        .orderBy(col("method"))
    }),

    // Measured ANN contract (round 8): each approximate method's top-k is
    // joined against the exact bruteForceTopK truth and must clear a
    // per-method recall floor. Seeds are fixed, so the measurement is
    // deterministic; the emitted row set is sf-invariant constants plus
    // the thresholded verdicts, which the DuckDB oracle pins as an
    // identity — a recall regression in ANY approximate path flips its
    // boolean and hash-breaks the gate. Floors sit under the measured
    // values (lsh 0.44–0.48, ivf 0.54–0.76, pq ≥ 0.70 at sf0.001/0.01
    // with the random-data geometries documented on each query) by a
    // machine-independent margin, and were additionally checked to hold
    // at sf0.1 (pq needed rerankFactor=16 there — see q_ann_pq).
    "q_ann_recall" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings").localCheckpoint()
      val qs = emb.filter(col("vec_id") < 10)
      val k = 5
      val brute = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", k)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint()
      val nTrue = brute.count().toDouble
      def verdict(method: String, floor: Double, approx: DataFrame) = {
        val hits = approx.select(col("query_id"), col("neighbor_id"))
          .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
          .count()
        (method, k, floor, hits / nTrue >= floor)
      }
      import s.implicits._
      // three independent method measurements against the checkpointed
      // truth → three submitting threads (the q_approx_dedup_quality
      // discipline): wall-clock ≈ the slowest method, not the sum
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.sequence(Seq(
        Future(verdict("ivf", 0.40, Similarity.ivfTopK(emb, qs, "vec_id", "embedding",
          k = k, kCentroids = 16, nProbe = 4))),
        Future(verdict("lsh", 0.30, Similarity.lshTopK(emb, qs, "vec_id", "embedding",
          k = k, bitsPerBand = 6, bands = 12, multiProbe = false))),
        Future(verdict("pq", 0.55, ProductQuantizer.pqTopK(emb, qs, "vec_id", "embedding",
          k = k, m = 8, ksub = 64, rerankFactor = 16))))),
        scala.concurrent.duration.Duration.Inf)
        .toDF("method", "k", "recall_floor", "recall_ok")
        .orderBy(col("method"))
    }),

    // Symmetric int8 quantization contract: per-vector scale and the max
    // reconstruction error (bounded by scale/2 per dimension). Double-
    // precision math with floor(x+0.5) rounding on BOTH engines, so the
    // oracle hash-checks the quantizer bit-for-bit.
    "q_embed_quant" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      emb.select(col("vec_id"), col("embedding"),
        Embeddings.quantizeInt8(col("embedding")).as("q"))
        .select(col("vec_id"),
          round(col("q.scale"), 6).as("scale"),
          round(array_max(zip_with(col("embedding"), col("q.codes"),
            (x, c) => abs(x.cast("double") - c.cast("double") * col("q.scale")))), 6)
            .as("max_err"))
        .orderBy(col("vec_id"))
    }),

    // ---- events: JSON + sessionization --------------------------------
    "q_events_json" -> ((s, dir) =>
      Tables(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"),
          col("value"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("k"))),

    // 30-minute-gap sessionization per user (lag + cumulative sum — the
    // batch twin of the streaming state operator).
    "q_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1)
            .otherwise(0))
        .withColumn("session_idx", sum(col("new_sess")).over(byUser))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(
          count(lit(1)).as("n_events"),
          unix_micros(min(col("ts"))).as("start_us"),
          unix_micros(max(col("ts"))).as("end_us"),
          dsum(col("value")).as("sum_value"))
        .orderBy(col("user_id"), col("session_idx"))
    }),

    // ---- vocabulary / retrieval / assembly ------------------------------
    // Exact global top-50 of the corpus vocabulary by collection
    // frequency: per-doc (token, tf) kernel -> one token-keyed aggregate
    // -> bounded-heap top-k (no global sort of the vocabulary).
    "q_vocab_topk" -> ((s, dir) =>
      Vocabulary.topVocabulary(Tables(s, dir, "documents"), "doc_id", "text", 50)
        .orderBy(col("rank"))),

    // TF-IDF top-5 terms per document: per-doc tf kernel -> one
    // token-keyed df aggregate -> token join (AQE-broadcast when the
    // vocabulary is small) -> per-doc bounded-heap top-5. Both engines
    // rank on round(tf*ln(N/df), 6), ties token-ascending.
    "q_tfidf_topterms" -> ((s, dir) =>
      Search.tfidfTopTerms(Tables(s, dir, "documents"), "doc_id", "text", 5)
        .orderBy(col("doc_id"), col("rank"))),

    // BM25 keyword retrieval, top 50 for a fixed 3-term query. Corpus
    // constants (N, avgdl, df/idf) come from two light aggregates; scoring
    // is map-only; selection is the bounded-heap top-k. Oracle-backed: the
    // generated SQL evaluates the identical expression tree and both
    // sides rank on round(score, 6).
    "q_bm25" -> ((s, dir) =>
      Search.bm25TopK(Tables(s, dir, "documents"), "doc_id", "text",
        Bm25Terms, 50)
        .orderBy(col("rank"))),

    // The same retrieval served THROUGH the inverted index (the
    // persisted-index query path at 100 TB): tf/df from postings
    // aggregates, idf broadcast back, per-doc DECIMAL(38,9)
    // quantize-then-sum so the aggregation is order-free. Oracle restates
    // the full index-path derivation; same ranking discipline as q_bm25.
    "q_bm25_indexed" -> ((s, dir) =>
      Search.bm25TopKIndexed(Tables(s, dir, "documents"), "doc_id", "text",
        Bm25Terms, 50)
        .orderBy(col("rank"))),

    // Deterministic 80/10/10 train/val/test assignment by md5 digest
    // space — map-only, reproducible across engines and reruns.
    "q_split_assign" -> ((s, dir) =>
      Sampling.hashSplit(Tables(s, dir, "documents"), "doc_id", SplitSpec)
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy(col("doc_id"))),

    // Leakage-safe split: near-duplicate documents (exact n-gram Jaccard
    // pairs, the deterministic detector) are forced into the same
    // train/val/test split via their connected-component representative.
    // Rows-only (connected components are not SQL-expressible); the
    // same-split guarantee and singleton-equals-hashSplit are pinned by
    // SamplingSpec.
    "q_split_leakage_safe" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .withColumn("blk", concat_ws("|", col("lang"), col("source")))
      // same (lang, source) blocking as q_neardup_jaccard: lang-only
      // blocks are 20× coarser and their within-block quadratic work was
      // the #1 bench line (5.7 s) — and 5 corpus-sized blocks is exactly
      // the shape that does NOT survive a 100× scale-up
      val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", "blk",
        n = 3, threshold = 0.5)
      Sampling.leakageSafeSplit(docs.drop("blk"), "doc_id", pairs, SplitSpec)
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // Token-budget sampling: greedy md5-order prefix within a 60k-token
    // budget (pretraining mixes are drawn to token budgets, not doc
    // counts). Exact running total -> oracle-backed.
    "q_token_budget" -> ((s, dir) => {
      // same double-consumption as q_pack_sequences (the budget's
      // running total range-partitions AND joins back) — narrow to the
      // two output-feeding columns and pin once
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(filter(split(lower(trim(col("text"))), "\\s+"),
            t => length(t) > lit(0))).as("n_tokens"))
        .materialized
      Sampling.tokenBudgetSample(docs, "doc_id", "n_tokens", budget = 60000L)
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic FIM (fill-in-the-middle) assembly: PSM permutation
    // with id-arithmetic cut points — pure expression math, map-only,
    // exactly SQL-replayable.
    "q_fim_split" -> ((s, dir) =>
      Chunking.fimSplit(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Token-window chunking (window 32, stride 16): the fixed-context
    // assembly step. Map-only scan->generate; no shuffle.
    "q_chunk_windows" -> ((s, dir) =>
      Chunking.chunkByTokens(Tables(s, dir, "documents"), "doc_id", "text",
        window = 32, stride = 16)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // CCNet-style unigram LM scoring: one vocab aggregate (bounded by
    // |vocab|, collected like the BM25 stats), then map-only per-doc mean
    // negative log-likelihood. Oracle-backed at round(avg_nll, 6).
    // Multinomial Naive Bayes self-classification (lang from text):
    // training is ONE (label, token)-keyed aggregate, scoring is
    // map-only with the broadcast model. Quantized-Long nll sums (the
    // q_lm_score convention) make train+score exactly SQL-replayable.
    "q_nb_lang" -> ((s, dir) =>
      Classifier.naiveBayesSelf(Tables(s, dir, "documents"),
        "lang", "doc_id", "text", outCol = "lang_pred")
        .orderBy(col("doc_id"))),

    // DSIR importance weights (target = the English slice, raw = the
    // whole corpus): two vocab-bounded aggregates fit the log-ratio
    // model, scoring is map-only. Exact unigram path → oracle-backed;
    // the hashed-bucket scale variant is pinned by DsirSpec.
    "q_dsir_weights" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      graft.ops.Dsir.importanceWeights(
        docs.filter(col("lang") === "en"), docs, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    "q_lm_score" -> ((s, dir) =>
      graft.ops.LanguageModel.unigramScore(
        Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Bigram LM scoring: context-sensitive perplexity (shuffled word
    // soup scores high even when its unigrams are typical). One extra
    // bigram-keyed aggregate at train time, map-only scoring.
    "q_bigram_score" -> ((s, dir) =>
      graft.ops.LanguageModel.bigramScore(
        Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Kneser-Ney smoothing over the same bigram aggregate: backoff mass
    // follows CONTINUATION counts (how many contexts a word completes),
    // not raw frequency — the Chen & Goodman '98 result. Fixed discount
    // 0.75, half-count continuation floor for OOV; the oracle restates
    // the full type-count derivation (N1+(w1.), N1+(.w2), |bigrams|) and
    // the interpolation formula term by term.
    "q_bigram_kn" -> ((s, dir) =>
      graft.ops.LanguageModel.kneserNeyScore(
        Tables(s, dir, "documents"), "doc_id", "text", order = 2)
        .orderBy(col("doc_id"))),

    // Same numbers, model kept distributed (token-keyed joins instead of
    // a driver-collected broadcast map) — the path a 100 TB corpus takes,
    // pinned against the identical oracle as q_bigram_score.
    "q_bigram_score_dist" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      graft.ops.LanguageModel.scoreBigramsJoined(docs, "doc_id", "text", docs)
        .orderBy(col("doc_id"))
    }),

    // Trigram Kneser-Ney with interpolated backoff through the bigram
    // continuation level to the Pc floor — the n=3 instance of CCNet's
    // 5-gram KenLM filter. The oracle restates the full recursion
    // (trigram counts, context totals/types, bigram continuation
    // counts/totals/types, the Pc floor) as CTEs, term for term in the
    // same association order.
    "q_trigram_kn" -> ((s, dir) =>
      graft.ops.LanguageModel.kneserNeyScore(
        Tables(s, dir, "documents"), "doc_id", "text", order = 3)
        .orderBy(col("doc_id"))),

    // Same numbers, every n-gram table kept distributed (token-keyed
    // joins; only the two Pc scalars are driver-side) — trigram tables
    // are the first ones that genuinely cannot be broadcast at corpus
    // scale. Pinned against the identical oracle as q_trigram_kn, and
    // joined == broadcast is additionally spec-pinned bit-for-bit.
    "q_trigram_kn_dist" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      graft.ops.LanguageModel.scoreKneserNeyJoined(
        docs, "doc_id", "text", docs, order = 3)
        .orderBy(col("doc_id"))
    }),

    // 4-gram KN — one more level of the identical recursion (raw top
    // level, continuation counts below), demonstrating the n=5 KenLM
    // generalization is pure repetition. Broadcast and distributed
    // plans share one oracle hash, like the trigram pair.
    "q_fourgram_kn" -> ((s, dir) =>
      graft.ops.LanguageModel.kneserNeyScore(
        Tables(s, dir, "documents"), "doc_id", "text", order = 4)
        .orderBy(col("doc_id"))),
    "q_fourgram_kn_dist" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      graft.ops.LanguageModel.scoreKneserNeyJoined(
        docs, "doc_id", "text", docs, order = 4)
        .orderBy(col("doc_id"))
    }),

    // 5-gram KN — KenLM/CCNet order parity, the level production
    // perplexity filters actually run at. The promised "pure
    // repetition" of the recursion, proven against the same oracle
    // shape: raw top level on 5-gram counts, every level below on
    // continuation counts from the table one order up.
    "q_fivegram_kn" -> ((s, dir) => {
      // train split out as a sub-timing stage: it is the suite's #2
      // cost and the bench artifact should attribute train vs score
      val m = graft.SubTimings.time("q_fivegram_kn", "model_train") {
        graft.ops.LanguageModel.trainKneserNey(
          Tables(s, dir, "documents"), "doc_id", "text", order = 5)
      }
      graft.ops.LanguageModel.scoreKneserNey(
        Tables(s, dir, "documents"), "doc_id", "text", m)
        .orderBy(col("doc_id"))
    }),
    "q_fivegram_kn_dist" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      graft.ops.LanguageModel.scoreKneserNeyJoined(
        docs, "doc_id", "text", docs, order = 5)
        .orderBy(col("doc_id"))
    }),

    // The persisted-model leg (KenLM-file analog): train tables written
    // to parquet ONCE, scoring reads them back — must land on the same
    // oracle hash as the inline paths, proving the model file is a
    // lossless medium, not a near-copy.
    "q_fivegram_kn_persist" -> ((s, dir) => ScaleDomain.lifecycleOnce(s, "q_fivegram_kn_persist", dir) {
      val docs = Tables(s, dir, "documents")
      val path = ScaleDomain.scratch(s, "kn5", dir)
      graft.SubTimings.time("q_fivegram_kn_persist", "model_write") {
        graft.ops.LanguageModel.saveFivegramTables(docs, "text", path)
      }
      graft.ops.LanguageModel.scoreFivegramKneserNeyPersisted(
        docs, "doc_id", "text", path)
        .orderBy(col("doc_id"))
    }),

    // CCNet head/middle/tail selection by exact perplexity terciles —
    // one broadcast cut row over the scored frame, oracle-backed.
    "q_ccnet_buckets" -> ((s, dir) =>
      graft.ops.LanguageModel.perplexityBuckets(
        Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // BPE tokenizer training + application: one corpus-scale word-count
    // aggregate, vocabulary-bounded merge loop on the driver, map-only
    // tokenization. The merge loop is not SQL-expressible (rows-only at
    // the driver) but fully deterministic, so the output hash is
    // golden-pinned per sf (GoldenGate, applied by SparkEntry) —
    // self-verifying; the paper example and determinism are additionally
    // pinned by BpeSpec.
    "q_bpe_tokenize" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val merges = graft.ops.BpeTrainer.train(docs, "doc_id", "text", numMerges = 50)
      // stash the learned merge list: oracleSql restates tokenization +
      // greedy merge application in DuckDB with it — see OracleStash
      OracleStash.putBpeMerges(dir, merges.map(m => (m.a, m.b)))
      graft.ops.BpeTrainer.tokenize(docs, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_tokens"), col("n_subwords"))
        .orderBy(col("doc_id"))
    }),

    // End-to-end assembly spine: BPE-tokenize → disjoint 32-subword
    // chunks → pack into 256-token bins (two-phase running total, no
    // single-partition exchange). Rows-only; token conservation across
    // all three stages is pinned by AssemblySpec.
    "q_tokenize_pack" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val merges = graft.ops.BpeTrainer.train(docs, "doc_id", "text", numMerges = 50)
      OracleStash.putBpeMerges(dir, merges.map(m => (m.a, m.b)))
      val tok = graft.ops.BpeTrainer.tokenize(docs, "doc_id", "text", merges)
      // pin the chunk frame: packBySize walks its input twice (the
      // narrow running-total projection and the join back) and the
      // tokenize+chunk kernel chain is the expensive part of this spine
      val chunks = Chunking.chunkByTokens(
        tok.select(col("doc_id"), array_join(col("subwords"), " ").as("sub_text")),
        "doc_id", "sub_text", window = 32, stride = 32)
        .localCheckpoint()
      // ord must be unique + (doc, chunk)-ordered; chunk_idx < 1000 holds
      // by orders of magnitude (docs are tens of subwords)
      val ord = chunks.withColumn("ord", col("doc_id") * 1000 + col("chunk_idx"))
      val packed = graft.ops.Packing.packBySize(ord, "ord", "n_tokens", capacity = 256)
      graft.ops.Packing.packStats(packed, "n_tokens", 256)
        .orderBy(col("bin"))
    }),

    // THE LLM data-release capstone (round 10) — the full deterministic
    // curation flow a training run consumes, in ONE plan, every stage
    // an operator that is individually oracle-green:
    //   1. exact content dedup (first doc_id per distinct text);
    //   2. Gopher quality gate (q_gopher_filter rules);
    //   3. benchmark decontamination (3-gram overlap ≥ 2 vs the
    //      doc_id%53 benchmark set; benchmark docs themselves leave
    //      the release too);
    //   4. the 80/10/10 hash split's train shard;
    //   5. per-language sqrt-tempered token-budget mixture (20k);
    //   6. packing into 2048-token bins (two-phase running total).
    // The oracle replays all six stages as one CTE chain — a green row
    // means the COMPOSITION is exact end-to-end, the q_web_pipeline
    // discipline applied to the data-release path. Scale shape: one
    // text-keyed aggregate (dedup), map-only filters (quality, split),
    // a benchmark-bounded broadcast anti-join (decontaminate), one
    // lang-keyed window + broadcast targets (mixture), and the
    // no-single-task running total (pack) — no shuffle this plan does
    // not need at 100 TB.
    //
    // Stage materialization: three of the chained kernels consume their
    // input TWICE inside one plan (decontaminate = gram explode +
    // anti-join back; the budget = group targets + per-group window;
    // the pack = range cumsum + join back), so an unbroken lineage
    // re-evaluates every upstream stage multiplicatively — the
    // pre-checkpoint physical plan scanned the documents parquet 30
    // times (plans/r15/q_data_release_before.txt). One localCheckpoint
    // per double-consumed frame makes each stage run once.
    "q_data_release" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val docCols = docs.columns.map(col)
      val firstIds = docs.groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val deduped = docs.join(firstIds, Seq("doc_id"), "left_semi")
      val quality = TextAnalysis.gopherFilter(deduped, "text")
        .filter(col("keep")).select(docCols: _*)
        .materialized
      val bench = docs.filter(col("doc_id") % 53 === 0)
      val decon = Decontaminate.decontaminate(
        quality.filter(col("doc_id") % 53 =!= 0), "doc_id", "text",
        bench, "doc_id", "text", n = 3, minShared = 2)
      val train = Sampling.hashSplit(decon, "doc_id", SplitSpec)
        .filter(col("split") === "train")
      // narrow to the three columns every downstream stage needs before
      // pinning — (id, lang, tokens) is 24 bytes/row vs the full text
      val toks = train.select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .materialized
      val sel = Sampling.stratifiedTokenBudget(
        toks, "lang", "doc_id", "n_tokens", budget = 20000L)
        .select(col("doc_id"), col("lang"), col("n_tokens"))
        .materialized
      graft.ops.Packing.packBySize(sel, "doc_id", "n_tokens", capacity = 2048)
        .select(col("doc_id"), col("lang"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("cum_tokens").cast("long").as("cum_tokens"),
          col("bin"))
        .orderBy(col("doc_id"))
    })
  )

  /** Fixed BM25 query terms (drawn from the synthetic corpus vocabulary;
    * order = score summation order, mirrored by the oracle).
    */
  private val Bm25Terms = Seq("spark", "table", "query")

  /** Fixed 80/10/10 split recipe shared by query and oracle. */
  private val SplitSpec = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Shared CTE block replaying [[TextAnalysis.ngramRepetition]] in
    * DuckDB: line stats, token chars, per-n top-gram argmax (n = 2..4,
    * tie (count DESC, gram ASC) like the kernel) and per-n duplicated-
    * gram token cover (n = 5..10 — occurrences of ≥2-count grams mark
    * their token indices, DISTINCT, then sum the marked tokens' code
    * points). Generated per n to keep the 9 near-identical CTE families
    * honest — one template, not nine hand-edited copies.
    */
  private def repGopherCtes: String = {
    val tops = (2 to 4).map { n =>
      s"""g$n AS (
         |  SELECT doc_id, g, COUNT(*) AS c FROM (
         |    SELECT doc_id, unnest([array_to_string(list_slice(toks, i, i + ${n - 1}), ' ')
         |      FOR i IN range(1, greatest(len(toks) - ${n - 1}, 0) + 1)]) AS g FROM l)
         |  GROUP BY doc_id, g),
         |top$n AS (
         |  SELECT doc_id, c AS top${n}_count, length(g) - ${n - 1} AS top${n}_chars
         |  FROM (SELECT doc_id, g, c,
         |          row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn
         |        FROM g$n)
         |  WHERE rn = 1)""".stripMargin
    }
    val dups = (5 to 10).map { n =>
      s"""o$n AS (
         |  SELECT doc_id, i, array_to_string(list_slice(toks, i, i + ${n - 1}), ' ') AS g
         |  FROM (SELECT doc_id, toks,
         |          unnest(range(1, greatest(len(toks) - ${n - 1}, 0) + 1)) AS i FROM l)),
         |d$n AS (SELECT doc_id, g FROM o$n GROUP BY doc_id, g HAVING COUNT(*) >= 2),
         |cov$n AS (
         |  SELECT DISTINCT doc_id, idx FROM (
         |    SELECT o.doc_id, unnest(range(o.i, o.i + $n)) AS idx
         |    FROM o$n o JOIN d$n d ON o.doc_id = d.doc_id AND o.g = d.g)),
         |dup$n AS (
         |  SELECT c.doc_id, SUM(length(l.toks[c.idx])) AS dup${n}_chars
         |  FROM cov$n c JOIN l USING (doc_id) GROUP BY c.doc_id)""".stripMargin
    }
    s"""WITH l AS (
       |  SELECT doc_id, string_split(text, chr(10)) AS lines,
       |    regexp_extract_all(lower(trim(text)), '\\S+') AS toks
       |  FROM documents),
       |lc AS (
       |  SELECT doc_id, line, COUNT(*) AS c, length(line) AS len
       |  FROM (SELECT doc_id, unnest(lines) AS line FROM l) GROUP BY doc_id, line),
       |lstats AS (
       |  SELECT doc_id, SUM(c) AS n_lines, SUM(c) - COUNT(*) AS dup_lines,
       |    SUM(c * len) AS line_chars, SUM((c - 1) * len) AS dup_line_chars
       |  FROM lc GROUP BY doc_id),
       |tchars AS (
       |  SELECT doc_id,
       |    COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS n_tok_chars
       |  FROM l),
       |${tops.mkString(",\n")},
       |${dups.mkString(",\n")}""".stripMargin
  }

  private def repGopherSelect: String = {
    val topCols = (2 to 4).flatMap(n => Seq(
      s"CAST(COALESCE(top$n.top${n}_count, 0) AS BIGINT) AS top${n}_count",
      s"CAST(COALESCE(top$n.top${n}_chars, 0) AS BIGINT) AS top${n}_chars"))
    val dupCols = (5 to 10).map(n =>
      s"CAST(COALESCE(dup$n.dup${n}_chars, 0) AS BIGINT) AS dup${n}_chars")
    val joins = (2 to 4).map(n => s"LEFT JOIN top$n USING (doc_id)") ++
      (5 to 10).map(n => s"LEFT JOIN dup$n USING (doc_id)")
    s"""SELECT l.doc_id,
       |  CAST(lstats.n_lines AS BIGINT) AS n_lines,
       |  CAST(lstats.dup_lines AS BIGINT) AS dup_lines,
       |  CAST(lstats.line_chars AS BIGINT) AS line_chars,
       |  CAST(lstats.dup_line_chars AS BIGINT) AS dup_line_chars,
       |  CAST(tchars.n_tok_chars AS BIGINT) AS n_tok_chars,
       |  ${(topCols ++ dupCols).mkString(",\n  ")}
       |FROM l JOIN lstats USING (doc_id) JOIN tchars USING (doc_id)
       |${joins.mkString("\n")}""".stripMargin
  }

  private def repFilterCase: String = {
    val topPct = Map(2 -> 20, 3 -> 18, 4 -> 16)
    val dupPct = Map(5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10)
    val rules =
      Seq("WHEN dup_lines * 100 > n_lines * 30 THEN 'dup_line_frac'",
        "WHEN dup_line_chars * 100 > line_chars * 20 THEN 'dup_line_char_frac'") ++
        (2 to 4).map(n =>
          s"WHEN top${n}_count * top${n}_chars * 100 > n_tok_chars * ${topPct(n)} " +
            s"THEN 'top_${n}gram_char_frac'") ++
        (5 to 10).map(n =>
          s"WHEN dup${n}_chars * 100 > n_tok_chars * ${dupPct(n)} " +
            s"THEN 'dup_${n}gram_char_frac'")
    s"CASE ${rules.mkString(" ")} ELSE NULL END"
  }

  /** Shared DuckDB restatement of the trigram-KN recursion — one body,
    * two gate rows (broadcast + distributed Spark plans must both land
    * on its hash). The Pc/P2 sub-expressions are built once so the
    * three usage sites cannot drift apart.
    */
  private val trigramKnOracle: String = {
    val pc = "((COALESCE(lt.ltc, 0) + 0.5) / (tot.bt + 0.5 * (vv.vsz + 1.0)))"
    val p2 = "(CASE WHEN cm.cmc IS NOT NULL THEN " +
      s"greatest(COALESCE(cb.cbc, 0) - 0.75, 0.0) / cm.cmc " +
      s"+ 0.75 * cm.ctp / cm.cmc * $pc ELSE $pc END)"
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(lower(trim(text)), '\\S+') AS toks
       |  FROM documents),
       |p AS (SELECT doc_id, unnest(toks) AS token FROM t),
       |vv AS (SELECT count(DISTINCT token) AS vsz FROM p),
       |bg AS (
       |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)),
       |bic AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
       |lt AS (SELECT w2, count(*) AS ltc FROM bic GROUP BY w2),
       |tot AS (SELECT count(*) AS bt FROM bic),
       |tg AS (
       |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM t)),
       |tic AS (SELECT w1, w2, w3, count(*) AS c FROM tg GROUP BY w1, w2, w3),
       |ctx AS (SELECT w1, w2, sum(c) AS cc, count(*) AS nt FROM tic GROUP BY w1, w2),
       |cb AS (SELECT w2, w3, count(*) AS cbc FROM tic GROUP BY w2, w3),
       |cm AS (SELECT w2, sum(cbc) AS cmc, count(*) AS ctp FROM cb GROUP BY w2),
       |tterms AS (
       |  SELECT tg.doc_id,
       |    sum(CAST(round(-ln(
       |      CASE WHEN ctx.cc IS NOT NULL THEN
       |        greatest(COALESCE(tic.c, 0) - 0.75, 0.0) / ctx.cc
       |        + 0.75 * ctx.nt / ctx.cc * $p2
       |      ELSE $p2 END
       |    ), 9) AS DECIMAL(38,9))) AS tnll
       |  FROM tg
       |  LEFT JOIN tic ON tg.w1 = tic.w1 AND tg.w2 = tic.w2 AND tg.w3 = tic.w3
       |  LEFT JOIN ctx ON tg.w1 = ctx.w1 AND tg.w2 = ctx.w2
       |  LEFT JOIN cb ON tg.w2 = cb.w2 AND tg.w3 = cb.w3
       |  LEFT JOIN cm ON tg.w2 = cm.w2
       |  LEFT JOIN lt ON tg.w3 = lt.w2
       |  CROSS JOIN tot CROSS JOIN vv
       |  GROUP BY tg.doc_id),
       |sterm AS (
       |  SELECT t.doc_id,
       |    CAST(round(-ln($p2), 9) AS DECIMAL(38,9)) AS snll
       |  FROM t
       |  LEFT JOIN cb ON t.toks[1] = cb.w2 AND t.toks[2] = cb.w3
       |  LEFT JOIN cm ON t.toks[1] = cm.w2
       |  LEFT JOIN lt ON t.toks[2] = lt.w2
       |  CROSS JOIN tot CROSS JOIN vv
       |  WHERE len(t.toks) >= 2),
       |fterm AS (
       |  SELECT t.doc_id, len(t.toks) AS n,
       |    CAST(round(-ln($pc), 9) AS DECIMAL(38,9)) AS fnll
       |  FROM t LEFT JOIN lt ON t.toks[1] = lt.w2
       |  CROSS JOIN tot CROSS JOIN vv
       |  WHERE len(t.toks) >= 1)
       |SELECT f.doc_id, CAST(f.n AS INT) AS n_tokens,
       |  round(CAST(f.fnll + COALESCE(s.snll, 0) + COALESCE(tt.tnll, 0)
       |    AS DOUBLE) / f.n, 6) AS avg_nll
       |FROM fterm f LEFT JOIN sterm s USING (doc_id)
       |LEFT JOIN tterms tt USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Shared DuckDB restatement of the 4-gram KN recursion — the trigram
    * chain plus the quad level (qg/qic/qctx raw top, qcb/qcm the
    * level-3 continuation tables), each per-position term joined under
    * the same aliases so the nested P4→P3'→P2→Pc CASE strings are
    * written once.
    */
  private val fourgramKnOracle: String = {
    val pc = "((COALESCE(lt.ltc, 0) + 0.5) / (tot.bt + 0.5 * (vv.vsz + 1.0)))"
    val p2 = "(CASE WHEN cm.cmc IS NOT NULL THEN " +
      s"greatest(COALESCE(cb.cbc, 0) - 0.75, 0.0) / cm.cmc " +
      s"+ 0.75 * cm.ctp / cm.cmc * $pc ELSE $pc END)"
    val p3 = "(CASE WHEN qcm.cm3c IS NOT NULL THEN " +
      s"greatest(COALESCE(qcb.c3c, 0) - 0.75, 0.0) / qcm.cm3c " +
      s"+ 0.75 * qcm.ct3 / qcm.cm3c * $p2 ELSE $p2 END)"
    val p4 = "(CASE WHEN qctx.cc IS NOT NULL THEN " +
      s"greatest(COALESCE(qic.c, 0) - 0.75, 0.0) / qctx.cc " +
      s"+ 0.75 * qctx.nt / qctx.cc * $p3 ELSE $p3 END)"
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(lower(trim(text)), '\\S+') AS toks
       |  FROM documents),
       |p AS (SELECT doc_id, unnest(toks) AS token FROM t),
       |vv AS (SELECT count(DISTINCT token) AS vsz FROM p),
       |bg AS (
       |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)),
       |bic AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
       |lt AS (SELECT w2, count(*) AS ltc FROM bic GROUP BY w2),
       |tot AS (SELECT count(*) AS bt FROM bic),
       |tg AS (
       |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM t)),
       |tic AS (SELECT w1, w2, w3, count(*) AS c FROM tg GROUP BY w1, w2, w3),
       |cb AS (SELECT w2, w3, count(*) AS cbc FROM tic GROUP BY w2, w3),
       |cm AS (SELECT w2, sum(cbc) AS cmc, count(*) AS ctp FROM cb GROUP BY w2),
       |qg AS (
       |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
       |    toks[i + 2] AS w3, toks[i + 3] AS w4
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 2)) AS i FROM t)),
       |qic AS (SELECT w1, w2, w3, w4, count(*) AS c FROM qg GROUP BY w1, w2, w3, w4),
       |qctx AS (SELECT w1, w2, w3, sum(c) AS cc, count(*) AS nt
       |  FROM qic GROUP BY w1, w2, w3),
       |qcb AS (SELECT w2, w3, w4, count(*) AS c3c FROM qic GROUP BY w2, w3, w4),
       |qcm AS (SELECT w2, w3, sum(c3c) AS cm3c, count(*) AS ct3
       |  FROM qcb GROUP BY w2, w3),
       |qterms AS (
       |  SELECT qg.doc_id,
       |    sum(CAST(round(-ln($p4), 9) AS DECIMAL(38,9))) AS qnll
       |  FROM qg
       |  LEFT JOIN qic ON qg.w1 = qic.w1 AND qg.w2 = qic.w2
       |    AND qg.w3 = qic.w3 AND qg.w4 = qic.w4
       |  LEFT JOIN qctx ON qg.w1 = qctx.w1 AND qg.w2 = qctx.w2 AND qg.w3 = qctx.w3
       |  LEFT JOIN qcb ON qg.w2 = qcb.w2 AND qg.w3 = qcb.w3 AND qg.w4 = qcb.w4
       |  LEFT JOIN qcm ON qg.w2 = qcm.w2 AND qg.w3 = qcm.w3
       |  LEFT JOIN cb ON qg.w3 = cb.w2 AND qg.w4 = cb.w3
       |  LEFT JOIN cm ON qg.w3 = cm.w2
       |  LEFT JOIN lt ON qg.w4 = lt.w2
       |  CROSS JOIN tot CROSS JOIN vv
       |  GROUP BY qg.doc_id),
       |uterm AS (
       |  SELECT t.doc_id,
       |    CAST(round(-ln($p3), 9) AS DECIMAL(38,9)) AS unll
       |  FROM t
       |  LEFT JOIN qcb ON t.toks[1] = qcb.w2 AND t.toks[2] = qcb.w3
       |    AND t.toks[3] = qcb.w4
       |  LEFT JOIN qcm ON t.toks[1] = qcm.w2 AND t.toks[2] = qcm.w3
       |  LEFT JOIN cb ON t.toks[2] = cb.w2 AND t.toks[3] = cb.w3
       |  LEFT JOIN cm ON t.toks[2] = cm.w2
       |  LEFT JOIN lt ON t.toks[3] = lt.w2
       |  CROSS JOIN tot CROSS JOIN vv
       |  WHERE len(t.toks) >= 3),
       |sterm AS (
       |  SELECT t.doc_id,
       |    CAST(round(-ln($p2), 9) AS DECIMAL(38,9)) AS snll
       |  FROM t
       |  LEFT JOIN cb ON t.toks[1] = cb.w2 AND t.toks[2] = cb.w3
       |  LEFT JOIN cm ON t.toks[1] = cm.w2
       |  LEFT JOIN lt ON t.toks[2] = lt.w2
       |  CROSS JOIN tot CROSS JOIN vv
       |  WHERE len(t.toks) >= 2),
       |fterm AS (
       |  SELECT t.doc_id, len(t.toks) AS n,
       |    CAST(round(-ln($pc), 9) AS DECIMAL(38,9)) AS fnll
       |  FROM t LEFT JOIN lt ON t.toks[1] = lt.w2
       |  CROSS JOIN tot CROSS JOIN vv
       |  WHERE len(t.toks) >= 1)
       |SELECT f.doc_id, CAST(f.n AS INT) AS n_tokens,
       |  round(CAST(f.fnll + COALESCE(s.snll, 0) + COALESCE(u.unll, 0)
       |    + COALESCE(qq.qnll, 0) AS DOUBLE) / f.n, 6) AS avg_nll
       |FROM fterm f LEFT JOIN sterm s USING (doc_id)
       |LEFT JOIN uterm u USING (doc_id)
       |LEFT JOIN qterms qq USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Shared DuckDB restatement of the 5-gram KN recursion — the 4-gram
    * chain plus the quint level (pg/pic/pctx raw top, pcb/pcm the
    * level-4 continuation tables) and one more per-position term
    * (vterm = token 3 at the continuation 4-gram level).
    */
  private val fivegramKnOracle: String = {
    val pc = "((COALESCE(lt.ltc, 0) + 0.5) / (tot.bt + 0.5 * (vv.vsz + 1.0)))"
    val p2 = "(CASE WHEN cm.cmc IS NOT NULL THEN " +
      s"greatest(COALESCE(cb.cbc, 0) - 0.75, 0.0) / cm.cmc " +
      s"+ 0.75 * cm.ctp / cm.cmc * $pc ELSE $pc END)"
    val p3 = "(CASE WHEN qcm.cm3c IS NOT NULL THEN " +
      s"greatest(COALESCE(qcb.c3c, 0) - 0.75, 0.0) / qcm.cm3c " +
      s"+ 0.75 * qcm.ct3 / qcm.cm3c * $p2 ELSE $p2 END)"
    val p4 = "(CASE WHEN pcm.cm4c IS NOT NULL THEN " +
      s"greatest(COALESCE(pcb.c4c, 0) - 0.75, 0.0) / pcm.cm4c " +
      s"+ 0.75 * pcm.ct4 / pcm.cm4c * $p3 ELSE $p3 END)"
    val p5 = "(CASE WHEN pctx.cc IS NOT NULL THEN " +
      s"greatest(COALESCE(pic.c, 0) - 0.75, 0.0) / pctx.cc " +
      s"+ 0.75 * pctx.nt / pctx.cc * $p4 ELSE $p4 END)"
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(lower(trim(text)), '\\S+') AS toks
       |  FROM documents),
       |p AS (SELECT doc_id, unnest(toks) AS token FROM t),
       |vv AS (SELECT count(DISTINCT token) AS vsz FROM p),
       |bg AS (
       |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)),
       |bic AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
       |lt AS (SELECT w2, count(*) AS ltc FROM bic GROUP BY w2),
       |tot AS (SELECT count(*) AS bt FROM bic),
       |tg AS (
       |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM t)),
       |tic AS (SELECT w1, w2, w3, count(*) AS c FROM tg GROUP BY w1, w2, w3),
       |cb AS (SELECT w2, w3, count(*) AS cbc FROM tic GROUP BY w2, w3),
       |cm AS (SELECT w2, sum(cbc) AS cmc, count(*) AS ctp FROM cb GROUP BY w2),
       |qg AS (
       |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
       |    toks[i + 2] AS w3, toks[i + 3] AS w4
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 2)) AS i FROM t)),
       |qic AS (SELECT w1, w2, w3, w4, count(*) AS c FROM qg GROUP BY w1, w2, w3, w4),
       |qcb AS (SELECT w2, w3, w4, count(*) AS c3c FROM qic GROUP BY w2, w3, w4),
       |qcm AS (SELECT w2, w3, sum(c3c) AS cm3c, count(*) AS ct3
       |  FROM qcb GROUP BY w2, w3),
       |pg AS (
       |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3,
       |    toks[i + 3] AS w4, toks[i + 4] AS w5
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i FROM t)),
       |pic AS (SELECT w1, w2, w3, w4, w5, count(*) AS c
       |  FROM pg GROUP BY w1, w2, w3, w4, w5),
       |pctx AS (SELECT w1, w2, w3, w4, sum(c) AS cc, count(*) AS nt
       |  FROM pic GROUP BY w1, w2, w3, w4),
       |pcb AS (SELECT w2, w3, w4, w5, count(*) AS c4c
       |  FROM pic GROUP BY w2, w3, w4, w5),
       |pcm AS (SELECT w2, w3, w4, sum(c4c) AS cm4c, count(*) AS ct4
       |  FROM pcb GROUP BY w2, w3, w4),
       |pterms AS (
       |  SELECT pg.doc_id,
       |    sum(CAST(round(-ln($p5), 9) AS DECIMAL(38,9))) AS pnll
       |  FROM pg
       |  LEFT JOIN pic ON pg.w1 = pic.w1 AND pg.w2 = pic.w2
       |    AND pg.w3 = pic.w3 AND pg.w4 = pic.w4 AND pg.w5 = pic.w5
       |  LEFT JOIN pctx ON pg.w1 = pctx.w1 AND pg.w2 = pctx.w2
       |    AND pg.w3 = pctx.w3 AND pg.w4 = pctx.w4
       |  LEFT JOIN pcb ON pg.w2 = pcb.w2 AND pg.w3 = pcb.w3
       |    AND pg.w4 = pcb.w4 AND pg.w5 = pcb.w5
       |  LEFT JOIN pcm ON pg.w2 = pcm.w2 AND pg.w3 = pcm.w3 AND pg.w4 = pcm.w4
       |  LEFT JOIN qcb ON pg.w3 = qcb.w2 AND pg.w4 = qcb.w3 AND pg.w5 = qcb.w4
       |  LEFT JOIN qcm ON pg.w3 = qcm.w2 AND pg.w4 = qcm.w3
       |  LEFT JOIN cb ON pg.w4 = cb.w2 AND pg.w5 = cb.w3
       |  LEFT JOIN cm ON pg.w4 = cm.w2
       |  LEFT JOIN lt ON pg.w5 = lt.w2
       |  CROSS JOIN tot CROSS JOIN vv
       |  GROUP BY pg.doc_id),
       |vterm AS (
       |  SELECT t.doc_id,
       |    CAST(round(-ln($p4), 9) AS DECIMAL(38,9)) AS vnll
       |  FROM t
       |  LEFT JOIN pcb ON t.toks[1] = pcb.w2 AND t.toks[2] = pcb.w3
       |    AND t.toks[3] = pcb.w4 AND t.toks[4] = pcb.w5
       |  LEFT JOIN pcm ON t.toks[1] = pcm.w2 AND t.toks[2] = pcm.w3
       |    AND t.toks[3] = pcm.w4
       |  LEFT JOIN qcb ON t.toks[2] = qcb.w2 AND t.toks[3] = qcb.w3
       |    AND t.toks[4] = qcb.w4
       |  LEFT JOIN qcm ON t.toks[2] = qcm.w2 AND t.toks[3] = qcm.w3
       |  LEFT JOIN cb ON t.toks[3] = cb.w2 AND t.toks[4] = cb.w3
       |  LEFT JOIN cm ON t.toks[3] = cm.w2
       |  LEFT JOIN lt ON t.toks[4] = lt.w2
       |  CROSS JOIN tot CROSS JOIN vv
       |  WHERE len(t.toks) >= 4),
       |uterm AS (
       |  SELECT t.doc_id,
       |    CAST(round(-ln($p3), 9) AS DECIMAL(38,9)) AS unll
       |  FROM t
       |  LEFT JOIN qcb ON t.toks[1] = qcb.w2 AND t.toks[2] = qcb.w3
       |    AND t.toks[3] = qcb.w4
       |  LEFT JOIN qcm ON t.toks[1] = qcm.w2 AND t.toks[2] = qcm.w3
       |  LEFT JOIN cb ON t.toks[2] = cb.w2 AND t.toks[3] = cb.w3
       |  LEFT JOIN cm ON t.toks[2] = cm.w2
       |  LEFT JOIN lt ON t.toks[3] = lt.w2
       |  CROSS JOIN tot CROSS JOIN vv
       |  WHERE len(t.toks) >= 3),
       |sterm AS (
       |  SELECT t.doc_id,
       |    CAST(round(-ln($p2), 9) AS DECIMAL(38,9)) AS snll
       |  FROM t
       |  LEFT JOIN cb ON t.toks[1] = cb.w2 AND t.toks[2] = cb.w3
       |  LEFT JOIN cm ON t.toks[1] = cm.w2
       |  LEFT JOIN lt ON t.toks[2] = lt.w2
       |  CROSS JOIN tot CROSS JOIN vv
       |  WHERE len(t.toks) >= 2),
       |fterm AS (
       |  SELECT t.doc_id, len(t.toks) AS n,
       |    CAST(round(-ln($pc), 9) AS DECIMAL(38,9)) AS fnll
       |  FROM t LEFT JOIN lt ON t.toks[1] = lt.w2
       |  CROSS JOIN tot CROSS JOIN vv
       |  WHERE len(t.toks) >= 1)
       |SELECT f.doc_id, CAST(f.n AS INT) AS n_tokens,
       |  round(CAST(f.fnll + COALESCE(s.snll, 0) + COALESCE(u.unll, 0)
       |    + COALESCE(v.vnll, 0) + COALESCE(pp.pnll, 0) AS DOUBLE) / f.n, 6)
       |    AS avg_nll
       |FROM fterm f LEFT JOIN sterm s USING (doc_id)
       |LEFT JOIN uterm u USING (doc_id)
       |LEFT JOIN vterm v USING (doc_id)
       |LEFT JOIN pterms pp USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_fourgram_kn" -> fourgramKnOracle,
    "q_fourgram_kn_dist" -> fourgramKnOracle,
    "q_fivegram_kn" -> fivegramKnOracle,
    "q_fivegram_kn_dist" -> fivegramKnOracle,
    "q_fivegram_kn_persist" -> fivegramKnOracle,
    "q_repetition_gopher" ->
      s"""$repGopherCtes
         |$repGopherSelect
         |ORDER BY doc_id""".stripMargin,
    "q_repetition_filter" ->
      s"""$repGopherCtes,
         |counts AS (
         |$repGopherSelect)
         |SELECT doc_id, $repFilterCase AS drop_reason,
         |  ($repFilterCase) IS NULL AS keep
         |FROM counts ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT source, MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_snapshot_diff" ->
      """WITH newsnap AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' [v2]' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, 'added:' || doc_id AS text
        |  FROM documents WHERE doc_id % 11 = 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.text = n.text THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  CAST(length(o.text) AS INT) AS n_chars_old,
        |  CAST(length(n.text) AS INT) AS n_chars_new
        |FROM documents o FULL JOIN newsnap n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,
    // the election restated as ROW_NUMBER over (version DESC, op DESC) —
    // the mirror of max_by's (version, op, payload) struct ordering; the
    // payload leg only binds on exact (version, op) ties, which this
    // fixture deliberately has none of (%35 = v2 upsert vs v3 delete)
    "q_upsert_apply" ->
      """WITH chg AS (
        |  SELECT doc_id, 2 AS version, 'upsert' AS op,
        |    'v2 ' || text AS text, lang
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id, 3, 'delete', NULL, NULL
        |  FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000, 2, 'upsert', 'new:' || text, lang
        |  FROM documents WHERE doc_id % 11 = 0),
        |win AS (
        |  SELECT doc_id, op, text, lang FROM chg
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY version DESC, op DESC) = 1),
        |m AS (
        |  SELECT COALESCE(b.doc_id, w.doc_id) AS doc_id, w.op AS op,
        |    CASE WHEN w.op IS NOT NULL THEN w.text ELSE b.text END AS text,
        |    CASE WHEN w.op IS NOT NULL THEN w.lang ELSE b.lang END AS lang
        |  FROM documents b FULL JOIN win w ON w.doc_id = b.doc_id)
        |SELECT doc_id, text, lang FROM m
        |WHERE op IS NULL OR op <> 'delete'
        |ORDER BY doc_id""".stripMargin,
    "q_snapshot_summary" ->
      """WITH newsnap AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' [v2]' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, 'added:' || doc_id AS text
        |  FROM documents WHERE doc_id % 11 = 0),
        |d AS (
        |  SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
        |              WHEN n.doc_id IS NULL THEN 'removed'
        |              WHEN o.text = n.text THEN 'unchanged'
        |              ELSE 'changed' END AS status,
        |    coalesce(length(n.text), 0) - coalesce(length(o.text), 0) AS delta
        |  FROM documents o FULL JOIN newsnap n ON o.doc_id = n.doc_id)
        |SELECT status, count(*) AS n_docs,
        |  CAST(sum(delta) AS BIGINT) AS char_delta
        |FROM d GROUP BY status ORDER BY status""".stripMargin,
    "q_repetition_by_source" ->
      s"""$repGopherCtes,
         |counts AS (
         |$repGopherSelect)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(counts.dup_lines) AS BIGINT) AS dup_lines,
         |  CAST(sum(counts.n_lines) AS BIGINT) AS n_lines,
         |  CAST(sum(counts.dup5_chars) AS BIGINT) AS dup5_chars,
         |  CAST(sum(counts.n_tok_chars) AS BIGINT) AS n_tok_chars,
         |  CAST(sum(CASE WHEN ($repFilterCase) IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_dropped
         |FROM counts JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "q_langid_confusion" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    list_distinct(regexp_extract_all(lower(trim(text)), '\S+')) AS toks
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, lang,
        |    len(list_intersect(toks, ['the','and','of','to','in','is','that','it','for','was'])) AS s_en,
        |    len(list_intersect(toks, ['der','die','und','das','ist','nicht','ein','mit','auf','sich'])) AS s_de,
        |    len(list_intersect(toks, ['el','la','de','los','es','que','un','una','por','con'])) AS s_es,
        |    len(list_intersect(toks, ['le','la','les','et','est','que','une','dans','pour','qui'])) AS s_fr
        |  FROM s),
        |p AS (
        |  SELECT lang,
        |    CASE WHEN s_en >= GREATEST(s_de, s_es, s_fr, 1) THEN 'en'
        |         WHEN s_de >= GREATEST(s_es, s_fr, 1) THEN 'de'
        |         WHEN s_es >= GREATEST(s_fr, 1) THEN 'es'
        |         WHEN s_fr >= 1 THEN 'fr'
        |         ELSE 'und' END AS lang_pred
        |  FROM sc)
        |SELECT lang, lang_pred, count(*) AS n_docs
        |FROM p GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin,
    // Shared CDC chunk derivation (w=16, md5 2-hex prefix <= '07'):
    // mirrors ops.Cdc rule-for-rule. A cut at the final position is
    // dropped (the end sentinel already cuts there).
    "q_cdc_chunks" ->
      """WITH p AS (
        |  SELECT doc_id, text, length(text) AS n,
        |    list_filter(
        |      CASE WHEN length(text) >= 16 THEN range(16, length(text) + 1)
        |           ELSE []::BIGINT[] END,
        |      i -> substring(md5(substring(text, i - 15, 16)), 1, 2) <= '07'
        |        AND i <> length(text)) AS inner_cuts
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, text, n,
        |    list_concat(list_concat([0]::BIGINT[], inner_cuts), [n]::BIGINT[]) AS cuts
        |  FROM p),
        |ch AS (
        |  SELECT doc_id, n,
        |    list_transform(range(1, len(cuts)), j ->
        |      length(substring(text, CAST(cuts[j] + 1 AS INT),
        |                       CAST(cuts[j + 1] - cuts[j] AS INT)))) AS lens
        |  FROM c)
        |SELECT doc_id, CAST(len(lens) AS INT) AS n_chunks,
        |  CAST(list_sum(lens) AS INT) AS total_chunk_chars,
        |  CAST(list_max(lens) AS INT) AS max_chunk_len,
        |  list_sum(lens) = n AS covered_ok
        |FROM ch ORDER BY doc_id""".stripMargin,
    "q_cdc_dedup" ->
      """WITH p AS (
        |  SELECT doc_id, text, length(text) AS n,
        |    list_filter(
        |      CASE WHEN length(text) >= 16 THEN range(16, length(text) + 1)
        |           ELSE []::BIGINT[] END,
        |      i -> substring(md5(substring(text, i - 15, 16)), 1, 2) <= '07'
        |        AND i <> length(text)) AS inner_cuts
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, text, n,
        |    list_concat(list_concat([0]::BIGINT[], inner_cuts), [n]::BIGINT[]) AS cuts
        |  FROM p),
        |e AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(cuts)), j ->
        |    substring(text, CAST(cuts[j] + 1 AS INT),
        |              CAST(cuts[j + 1] - cuts[j] AS INT)))) AS chunk
        |  FROM c)
        |SELECT chunk, CAST(length(chunk) AS INT) AS chunk_len,
        |  count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs,
        |  CAST((count(*) - 1) * length(chunk) AS BIGINT) AS chars_saved
        |FROM e GROUP BY chunk ORDER BY chunk""".stripMargin,
    "q_cdc_containment" ->
      """WITH p AS (
        |  SELECT doc_id, text, length(text) AS n,
        |    list_filter(
        |      CASE WHEN length(text) >= 16 THEN range(16, length(text) + 1)
        |           ELSE []::BIGINT[] END,
        |      i -> substring(md5(substring(text, CAST(i - 15 AS INT), 16)), 1, 2) <= '07'
        |        AND i <> length(text)) AS inner_cuts
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, text, n,
        |    list_concat(list_concat([0]::BIGINT[], inner_cuts), [n]::BIGINT[]) AS cuts
        |  FROM p),
        |e AS (
        |  SELECT DISTINCT doc_id, n, unnest(list_transform(range(1, len(cuts)), j ->
        |    substring(text, CAST(cuts[j] + 1 AS INT),
        |              CAST(cuts[j + 1] - cuts[j] AS INT)))) AS chunk
        |  FROM c),
        |f AS (SELECT chunk FROM e GROUP BY chunk HAVING count(*) <= 20),
        |j AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(sum(length(a.chunk)) AS BIGINT) AS shared_chars,
        |    min(a.n) AS na, min(b.n) AS nb
        |  FROM e a JOIN f USING (chunk) JOIN e b
        |    ON a.chunk = b.chunk AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, shared_chars,
        |  round(shared_chars::DOUBLE / least(na, nb), 6) AS containment
        |FROM j WHERE round(shared_chars::DOUBLE / least(na, nb), 6) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,
    "q_cdc_unicode" ->
      ("""WITH d AS (
        |  SELECT doc_id, replace(text, 'e', 'e""" + "é𝄞" + """') AS text
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, text, length(text) AS n,
        |    list_filter(
        |      CASE WHEN length(text) >= 16 THEN range(16, length(text) + 1)
        |           ELSE []::BIGINT[] END,
        |      i -> substring(md5(substring(text, CAST(i - 15 AS INT), 16)), 1, 2) <= '07'
        |        AND i <> length(text)) AS inner_cuts
        |  FROM d),
        |c AS (
        |  SELECT doc_id, text, n,
        |    list_concat(list_concat([0]::BIGINT[], inner_cuts), [n]::BIGINT[]) AS cuts
        |  FROM p),
        |ch AS (
        |  SELECT doc_id, n,
        |    list_transform(range(1, len(cuts)), j ->
        |      length(substring(text, CAST(cuts[j] + 1 AS INT),
        |                       CAST(cuts[j + 1] - cuts[j] AS INT)))) AS lens
        |  FROM c)
        |SELECT doc_id, CAST(len(lens) AS INT) AS n_chunks,
        |  CAST(list_sum(lens) AS INT) AS total_chunk_chars,
        |  list_sum(lens) = n AS covered_ok
        |FROM ch ORDER BY doc_id""").stripMargin,
    // round-15 promotions (directive #6 and beyond): the signature
    // kernels restated from raw text in SQL (graft.queries.HashSql) —
    // the GoldenGate pins stay in force as defense-in-depth over
    // partition-order stability
    "q_dedup_simhash" -> HashSql.dedupSimhashSql,
    "q_substring_pairs" -> HashSql.substringPairsSql,
    "q_split_leakage_safe" -> HashSql.splitLeakageSafeSql(
      Sampling.hashSplitOracleCase("coalesce(c.component, d.doc_id)", SplitSpec)),
    // the whole classic-MinHash family: signatures, byte-wise band
    // buckets, candidate pruning, exact verify — and for the corpus
    // variant the component election — all re-derived from raw text
    "q_dedup_minhash" -> HashSql.dedupMinhashSql,
    "q_dedup_corpus" -> HashSql.dedupCorpusSql,
    "q_incremental_dedup" -> HashSql.incrementalDedupSql(""),
    // the persisted probe is gated equal to the in-memory one in-query
    // (multiset-hash parity rides in the hashed rows), so one probe
    // restatement serves both — paths_equal is the identity pin
    "q_dedup_index_persist" -> HashSql.incrementalDedupSql(", true AS paths_equal"),
    // the composite cleaning pipeline end to end: the repetition CTEs
    // are the SAME builders the q_repetition_filter oracle uses, so the
    // two restatements cannot drift
    "q_clean_corpus" -> HashSql.cleanCorpusSql(
      repGopherCtes.stripPrefix("WITH "), repGopherSelect, repFilterCase),
    // gear CDC via its windowed algebra (no sequential fold — see the
    // builder's DuckDB list_reduce caveat); the gear table is the
    // kernel's own constants embedded as literals
    "q_cdc_gear" -> HashSql.cdcGearSql,
    "q_neardup_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, lang || '|' || source AS blk,
        |    list_distinct([substring(text, i, 3) FOR i IN range(1, greatest(length(text) - 2, 1) + 1)]) AS s
        |  FROM documents)
        |SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s))::DOUBLE /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id) t
        |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    "q_skew_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN 'hot'
        |         ELSE lang || '|' || source END AS blk,
        |    list_distinct([substring(text, i, 3) FOR i IN range(1, greatest(length(text) - 2, 1) + 1)]) AS s
        |  FROM documents)
        |SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s))::DOUBLE /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id) t
        |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    "q_pii_scrub" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '[EMAIL]', 'g') AS no_email
        |  FROM documents),
        |s2 AS (
        |  SELECT doc_id, text, no_email,
        |    regexp_replace(no_email, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g') AS no_ip
        |  FROM s)
        |SELECT doc_id,
        |  regexp_replace(no_ip, '\+?[0-9][0-9()\- ]{7,}[0-9]', '[PHONE]', 'g') AS text,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(no_email, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ips,
        |  len(regexp_extract_all(no_ip, '\+?[0-9][0-9()\- ]{7,}[0-9]')) AS n_phones
        |FROM s2 ORDER BY doc_id""".stripMargin,
    "q_c4_filter" ->
      """WITH l AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS lines FROM documents),
        |k AS (
        |  SELECT doc_id, lines, list_filter(lines, x ->
        |    len(regexp_extract_all(trim(x), '\S+')) >= 4
        |    AND regexp_matches(trim(x), '[.!?]["'']?$')
        |    AND NOT contains(lower(x), 'javascript')
        |    AND NOT contains(lower(x), 'cookie')
        |    AND NOT contains(lower(x), 'lorem ipsum')
        |    AND NOT contains(lower(x), '{')) AS kept
        |  FROM l)
        |SELECT doc_id, coalesce(array_to_string(kept, chr(10)), '') AS text,
        |  len(lines) AS n_lines, len(kept) AS n_lines_kept
        |FROM k ORDER BY doc_id""".stripMargin,
    "q_token_stats" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(trim(text), '\S+')) AS n_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpeish,
        |  length(text) AS len_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_quality_score" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    regexp_extract_all(lower(trim(text)), '\S+') AS toks,
        |    length(text) AS nc,
        |    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
        |    length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS punct
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    len(toks) AS n_tokens,
        |    CASE WHEN len(toks) > 0
        |      THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
        |      ELSE 0.0 END AS avg_token_len,
        |    punct::DOUBLE / greatest(nc, 1) AS punct_ratio,
        |    CASE WHEN len(toks) > 0
        |      THEN len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','that','it','for','was','der','die','und','das','ist','nicht','ein','mit','auf','sich','el','la','de','los','es','que','un','una','por','con','le','les','et','est','une','dans','pour','qui')))::DOUBLE / len(toks)
        |      ELSE 0.0 END AS stopword_ratio,
        |    alpha::DOUBLE / greatest(nc, 1) AS alpha_ratio
        |  FROM t)
        |SELECT doc_id, n_tokens, round(avg_token_len, 6) AS avg_token_len,
        |  round(stopword_ratio, 6) AS stopword_ratio,
        |  round(alpha_ratio, 6) AS alpha_ratio,
        |  round(least(1.0, n_tokens / 20.0) * 0.4 +
        |        (1.0 - least(1.0, punct_ratio * 4.0)) * 0.3 +
        |        least(1.0, alpha_ratio * 1.25) * 0.3, 6) AS quality_score
        |FROM f ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    list_distinct(regexp_extract_all(lower(trim(text)), '\S+')) AS toks
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |    len(list_intersect(toks, ['the','and','of','to','in','is','that','it','for','was'])) AS s_en,
        |    len(list_intersect(toks, ['der','die','und','das','ist','nicht','ein','mit','auf','sich'])) AS s_de,
        |    len(list_intersect(toks, ['el','la','de','los','es','que','un','una','por','con'])) AS s_es,
        |    len(list_intersect(toks, ['le','la','les','et','est','que','une','dans','pour','qui'])) AS s_fr
        |  FROM s)
        |SELECT doc_id,
        |  CASE WHEN s_en >= GREATEST(s_de, s_es, s_fr, 1) THEN 'en'
        |       WHEN s_de >= GREATEST(s_es, s_fr, 1) THEN 'de'
        |       WHEN s_es >= GREATEST(s_fr, 1) THEN 'es'
        |       WHEN s_fr >= 1 THEN 'fr'
        |       ELSE 'und' END AS lang_pred
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id,
        |  list_min(list_transform(
        |    list_distinct([substring(text, i, 8) FOR i IN range(1, greatest(length(text) - 7, 1) + 1)]),
        |    s -> md5(s))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_repetition" ->
      """WITH l AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS lines,
        |    regexp_extract_all(lower(trim(text)), '\S+') AS toks
        |  FROM documents),
        |lc AS (
        |  SELECT doc_id, line, COUNT(*) AS c, length(line) AS len
        |  FROM (SELECT doc_id, unnest(lines) AS line FROM l) GROUP BY doc_id, line),
        |lstats AS (
        |  SELECT doc_id, SUM(c) AS n_lines, COUNT(*) AS n_distinct,
        |    SUM((c - 1) * len) AS dup_chars, SUM(c * len) AS total_chars
        |  FROM lc GROUP BY doc_id),
        |wc AS (
        |  SELECT doc_id, w, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(toks) AS w FROM l) GROUP BY doc_id, w),
        |wstats AS (SELECT doc_id, MAX(c) AS maxw, SUM(c) AS nw FROM wc GROUP BY doc_id),
        |bc AS (
        |  SELECT doc_id, b, COUNT(*) AS c
        |  FROM (SELECT doc_id,
        |          unnest([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]) AS b
        |        FROM l) GROUP BY doc_id, b),
        |bstats AS (SELECT doc_id, MAX(c) AS maxb, SUM(c) AS nb FROM bc GROUP BY doc_id)
        |SELECT l.doc_id,
        |  round((lstats.n_lines - lstats.n_distinct) * 1.0 / lstats.n_lines, 6) AS dup_line_frac,
        |  round(CASE WHEN lstats.total_chars > 0
        |    THEN lstats.dup_chars * 1.0 / lstats.total_chars ELSE 0 END, 6) AS dup_line_char_frac,
        |  round(COALESCE(wstats.maxw * 1.0 / wstats.nw, 0), 6) AS top_word_frac,
        |  round(COALESCE(bstats.maxb * 1.0 / bstats.nb, 0), 6) AS top_2gram_frac
        |FROM l LEFT JOIN lstats USING (doc_id) LEFT JOIN wstats USING (doc_id)
        |  LEFT JOIN bstats USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_gopher_filter" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    regexp_extract_all(lower(trim(text)), '\S+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    len(toks) AS n,
        |    COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS sum_len,
        |    len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS alpha,
        |    len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','that','it','for','was','der','die','und','das','ist','nicht','ein','mit','auf','sich','el','la','de','los','es','que','un','una','por','con','le','les','et','est','une','dans','pour','qui'))) AS stops,
        |    (length(text) - length(replace(text, '#', ''))) +
        |    (length(text) - length(replace(text, '...', ''))) // 3 AS symbols
        |  FROM t),
        |r AS (
        |  SELECT doc_id, n,
        |    CASE WHEN n < 10 THEN 'too_few_words'
        |         WHEN n > 100000 THEN 'too_many_words'
        |         WHEN sum_len < n * 2 OR sum_len > n * 12 THEN 'mean_word_len'
        |         WHEN symbols * 10 > n THEN 'symbol_ratio'
        |         WHEN alpha * 10 < n * 7 THEN 'alpha_frac'
        |         WHEN stops < 2 THEN 'stopwords'
        |         ELSE NULL END AS drop_reason
        |  FROM s)
        |SELECT doc_id, drop_reason IS NULL AS keep, drop_reason, n AS n_words
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_clean_survivors" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    regexp_extract_all(lower(trim(text)), '\S+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    len(toks) AS n,
        |    COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS sum_len,
        |    len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS alpha,
        |    len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','that','it','for','was','der','die','und','das','ist','nicht','ein','mit','auf','sich','el','la','de','los','es','que','un','una','por','con','le','les','et','est','une','dans','pour','qui'))) AS stops,
        |    (length(text) - length(replace(text, '#', ''))) +
        |    (length(text) - length(replace(text, '...', ''))) // 3 AS symbols
        |  FROM t),
        |r AS (
        |  SELECT doc_id, n,
        |    CASE WHEN n < 10 THEN 'too_few_words'
        |         WHEN n > 100000 THEN 'too_many_words'
        |         WHEN sum_len < n * 2 OR sum_len > n * 12 THEN 'mean_word_len'
        |         WHEN symbols * 10 > n THEN 'symbol_ratio'
        |         WHEN alpha * 10 < n * 7 THEN 'alpha_frac'
        |         WHEN stops < 2 THEN 'stopwords'
        |         ELSE NULL END AS drop_reason
        |  FROM s)
        |SELECT doc_id, n AS n_words FROM r
        |WHERE drop_reason IS NULL ORDER BY doc_id""".stripMargin,
    "q_decontaminate" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(list_slice(toks, i, i + 2), ' ')
        |     FOR i IN range(1, greatest(len(toks) - 2, 0) + 1)])) AS gram
        |  FROM (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS toks
        |        FROM documents))
        |SELECT d.doc_id AS doc_id, b.doc_id AS bench_id, COUNT(*) AS n_shared
        |FROM g d JOIN g b ON d.gram = b.gram
        |WHERE b.doc_id % 53 = 0 AND d.doc_id <> b.doc_id
        |GROUP BY d.doc_id, b.doc_id
        |HAVING COUNT(*) >= 2
        |ORDER BY doc_id, bench_id""".stripMargin,
    // identical result contract to q_decontaminate: hashing the grams must
    // not change the pair set (64-bit collisions are absent in this data)
    "q_decontam_hashed" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(list_slice(toks, i, i + 2), ' ')
        |     FOR i IN range(1, greatest(len(toks) - 2, 0) + 1)])) AS gram
        |  FROM (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS toks
        |        FROM documents))
        |SELECT d.doc_id AS doc_id, b.doc_id AS bench_id, COUNT(*) AS n_shared
        |FROM g d JOIN g b ON d.gram = b.gram
        |WHERE b.doc_id % 53 = 0 AND d.doc_id <> b.doc_id
        |GROUP BY d.doc_id, b.doc_id
        |HAVING COUNT(*) >= 2
        |ORDER BY doc_id, bench_id""".stripMargin,
    "q_decontam_survivors" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(list_slice(toks, i, i + 2), ' ')
        |     FOR i IN range(1, greatest(len(toks) - 2, 0) + 1)])) AS gram
        |  FROM (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS toks
        |        FROM documents)),
        |flagged AS (
        |  SELECT d.doc_id
        |  FROM g d JOIN g b ON d.gram = b.gram
        |  WHERE b.doc_id % 53 = 0 AND d.doc_id <> b.doc_id
        |  GROUP BY d.doc_id, b.doc_id
        |  HAVING COUNT(*) >= 2)
        |SELECT doc_id, lang FROM documents
        |WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM flagged)
        |ORDER BY doc_id""".stripMargin,
    "q_quota_sample" ->
      """SELECT lang, doc_id, sample_rank FROM (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)) || '|' || CAST(doc_id AS VARCHAR))
        |      AS sample_rank
        |  FROM documents) t
        |WHERE sample_rank <= 40 ORDER BY lang, sample_rank""".stripMargin,
    "q_hash_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE md5(CAST(doc_id AS VARCHAR)) < '40000000000000000000000000000000'
        |ORDER BY doc_id""".stripMargin,
    // u = (first-12-hex-chars-of-md5 + 0.5) / 2^48 rebuilt digit by digit
    // (exact integer-valued doubles, order-free), then key = -ln(u)/w
    "q_weighted_sample" ->
      """WITH k AS (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
        |    round(-ln((list_sum(list_transform(range(1, 13), j ->
        |        (strpos('0123456789abcdef',
        |           substring(md5(CAST(doc_id AS VARCHAR)), CAST(j AS INT), 1))
        |         - 1) * 16 ** (12 - j))) + 0.5) / 281474976710656.0)
        |      / CAST(n_chars AS DOUBLE), 9) AS es_key
        |  FROM documents WHERE CAST(n_chars AS DOUBLE) > 0)
        |SELECT doc_id, weight, es_key,
        |  CAST(ROW_NUMBER() OVER (ORDER BY es_key, doc_id) AS INT) AS rank
        |FROM k ORDER BY es_key, doc_id LIMIT 100""".stripMargin,
    "q_shuffle_det" ->
      """SELECT doc_id, CAST(ROW_NUMBER() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)) || '|' || CAST(doc_id AS VARCHAR))
        |  AS BIGINT) AS shuffle_pos
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_mixture_weights" ->
      """WITH d AS (
        |  SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS mass
        |  FROM documents GROUP BY lang),
        |t AS (SELECT SUM(mass) AS total FROM d)
        |SELECT lang, n_docs, mass,
        |  round(mass * 1.0 / total, 6) AS share,
        |  round(CASE lang WHEN 'en' THEN 0.40 WHEN 'de' THEN 0.15 WHEN 'es' THEN 0.15
        |        WHEN 'fr' THEN 0.15 WHEN 'zh' THEN 0.15 ELSE 0.0 END, 6) AS target_share,
        |  round((CASE lang WHEN 'en' THEN 0.40 WHEN 'de' THEN 0.15 WHEN 'es' THEN 0.15
        |         WHEN 'fr' THEN 0.15 WHEN 'zh' THEN 0.15 ELSE 0.0 END)
        |        / (mass * 1.0 / total), 6) AS weight
        |FROM d, t ORDER BY lang""".stripMargin,
    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, len(regexp_extract_all(trim(text), '\S+')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM t)
        |SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |  CAST(floor((cum_tokens - n_tokens) / 2048.0) AS BIGINT) AS bin
        |FROM c ORDER BY doc_id""".stripMargin,
    // Same artifact contract as q_ann_recall: sf-invariant constants +
    // thresholded verdicts, exact measurement Spark-side.
    "q_dedup_quality" ->
      """SELECT method, CAST(recall_floor AS DOUBLE) AS recall_floor,
        |  recall_ok, exact_subset
        |FROM (VALUES
        |  ('cosine_lsh', 0.85, true, true),
        |  ('minhash',    0.90, true, true))
        |  AS t(method, recall_floor, recall_ok, exact_subset)
        |ORDER BY method""".stripMargin,
    // The four formerly-golden-only detectors, same identity-pin shape:
    // the measurement (approx vs exact truth on the detector's own
    // similarity measure) runs Spark-side; a recall drop under any
    // floor, or a single spurious pair from a verify stage, flips a
    // boolean and hash-breaks the row.
    "q_approx_dedup_quality" ->
      """SELECT method, CAST(recall_floor AS DOUBLE) AS recall_floor,
        |  recall_ok, exact_subset
        |FROM (VALUES
        |  ('cosine_lsh_5x12',     0.55, true, true),
        |  ('dct_phash',           1.00, true, true),
        |  ('incremental_minhash', 0.30, true, true),
        |  ('incremental_strict',  0.75, true, true),
        |  ('phash',               1.00, true, true),
        |  ('semdedup',            0.25, true, true),
        |  ('simhash',             1.00, true, true))
        |  AS t(method, recall_floor, recall_ok, exact_subset)
        |ORDER BY method""".stripMargin,
    // The ANN recall gate emits sf-invariant constants + thresholded
    // verdicts (the measurement itself — approximate top-k joined against
    // the brute-force truth — runs Spark-side with fixed seeds); the
    // oracle pins the expected identity, so any method's recall dropping
    // under its floor flips a boolean and hash-breaks the row.
    "q_ann_recall" ->
      """SELECT method, CAST(k AS INTEGER) AS k,
        |  CAST(recall_floor AS DOUBLE) AS recall_floor, recall_ok
        |FROM (VALUES
        |  ('ivf', 5, 0.40, true),
        |  ('lsh', 5, 0.30, true),
        |  ('pq',  5, 0.55, true))
        |  AS t(method, k, recall_floor, recall_ok)
        |ORDER BY method""".stripMargin,
    "q_ann_bruteforce" ->
      """WITH pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) AS num,
        |    sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))) *
        |    sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) AS den
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    round(CASE WHEN den > 0 THEN num / den ELSE 0 END, 6) AS sim
        |  FROM pairs)
        |SELECT query_id, neighbor_id, sim, rank FROM (
        |  SELECT query_id, neighbor_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_hard_negatives" ->
      """WITH pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) AS num,
        |    sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE))) *
        |    sqrt(list_sum(list_transform(generate_series(1, 64),
        |      i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))) AS den
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
        |    AND q.label <> c.label),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    round(CASE WHEN den > 0 THEN num / den ELSE 0 END, 6) AS sim
        |  FROM pairs)
        |SELECT query_id, neighbor_id, sim, rank FROM (
        |  SELECT query_id, neighbor_id, sim,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM scored) t
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_embed_quant" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, scale, embedding,
        |    CASE WHEN scale > 0 THEN
        |      list_transform(embedding, x ->
        |        CAST(greatest(-127.0, least(127.0, floor(x::DOUBLE / scale + 0.5))) AS INT))
        |    ELSE list_transform(embedding, x -> 0) END AS codes
        |  FROM s)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  round(list_max([abs(embedding[i]::DOUBLE - codes[i]::DOUBLE * scale)
        |    FOR i IN range(1, len(embedding) + 1)]), 6) AS max_err
        |FROM q ORDER BY vec_id""".stripMargin,
    "q_events_json" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL OR
        |    epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |sess AS (
        |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM flagged)
        |SELECT user_id, session_idx, COUNT(*) AS n_events,
        |  epoch_us(min(ts)) AS start_us,
        |  epoch_us(max(ts)) AS end_us,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    "q_vocab_topk" ->
      """WITH occ AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS token
        |  FROM documents),
        |v AS (
        |  SELECT token, count(*) AS total_count, count(DISTINCT doc_id) AS doc_freq
        |  FROM occ GROUP BY token)
        |SELECT token, total_count, doc_freq,
        |  CAST(ROW_NUMBER() OVER (ORDER BY total_count DESC, token) AS INT) AS rank
        |FROM v ORDER BY rank LIMIT 50""".stripMargin,
    "q_tfidf_topterms" ->
      """WITH occ AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM occ GROUP BY doc_id, token),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token,
        |    round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
        |  FROM tf JOIN df USING (token) CROSS JOIN n)
        |SELECT doc_id, token, tfidf,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, token) AS INT) AS rank
        |FROM scored QUALIFY rank <= 5
        |ORDER BY doc_id, rank""".stripMargin,
    "q_bm25" ->
      Search.bm25OracleSql("documents", "doc_id", "text", Bm25Terms, 50),
    "q_bm25_indexed" ->
      Search.bm25IndexedOracleSql("documents", "doc_id", "text", Bm25Terms, 50),
    "q_split_assign" ->
      s"""SELECT doc_id, lang,
         |  ${Sampling.hashSplitOracleCase("doc_id", SplitSpec)} AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_chunk_windows" ->
      // a start s > 0 is emitted iff the previous chunk (s - stride) did
      // not reach the document end: s + (window - stride) < n — mirrors
      // the kernel's stop-after-end contract
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, toks, unnest(range(0, len(toks), 16)) AS start FROM t)
        |SELECT doc_id, CAST(start // 16 AS INT) AS chunk_idx,
        |  CAST(least(start + 32, len(toks)) - start AS INT) AS n_tokens,
        |  array_to_string(list_slice(toks, start + 1, least(start + 32, len(toks))), ' ')
        |    AS chunk_text
        |FROM s
        |WHERE start = 0 OR start + 16 < len(toks)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_shingle_stats" ->
      """SELECT doc_id,
        |  CASE WHEN text IS NULL OR len(text) = 0 THEN 0
        |    ELSE CAST(len(list_distinct(
        |      [substr(text, i, 5)
        |       FOR i IN range(1, greatest(len(text) - 4, 1) + 1)])) AS INT)
        |  END AS n_shingles
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_segment_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents),
        |seg AS (
        |  SELECT doc_id, i - 1 AS idx,
        |    array_to_string(list_slice(toks, (i - 1) * 8 + 1, (i - 1) * 8 + 8), ' ') AS seg
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(1, CAST(ceil(len(toks) / 8.0) AS BIGINT) + 1)) AS i
        |        FROM t WHERE len(toks) > 0)),
        |win AS (
        |  SELECT doc_id, idx, seg FROM (
        |    SELECT doc_id, idx, seg,
        |      row_number() OVER (PARTITION BY seg ORDER BY doc_id, idx) AS rn
        |    FROM seg) WHERE rn = 1),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(seg, ' ' ORDER BY idx) AS text_kept
        |  FROM win GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_segments FROM seg GROUP BY doc_id)
        |SELECT tot.doc_id, tot.n_segments, coalesce(agg.n_kept, 0) AS n_kept,
        |  coalesce(agg.text_kept, '') AS text_kept
        |FROM tot LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(lower(trim(text)), '\S+')) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) || '|' || CAST(doc_id AS VARCHAR) AS rk
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY rk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM t)
        |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM c WHERE cum_tokens <= 60000 ORDER BY doc_id""".stripMargin,
    "q_fim_split" ->
      """WITH t AS (
        |  SELECT doc_id, text, CAST(length(text) AS INT) AS n,
        |    CAST(floor(length(text) * (doc_id % 97) / 97.0) AS INT) AS c1,
        |    CAST(floor(length(text) * ((doc_id * 7) % 89) / 89.0) AS INT) AS c2
        |  FROM documents),
        |s AS (SELECT doc_id, text, n,
        |        least(c1, c2) AS lo, greatest(c1, c2) AS hi FROM t)
        |SELECT doc_id, lo AS n_prefix, hi - lo AS n_middle, n - hi AS n_suffix,
        |  '<PRE>' || substring(text, 1, lo) ||
        |  '<SUF>' || substring(text, hi + 1, n - hi) ||
        |  '<MID>' || substring(text, lo + 1, hi - lo) AS psm_text
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_skeleton" ->
      (s"""WITH s AS (
         |  SELECT doc_id, text,
         |    translate(text, 'aeopcxy',
         |      chr(1072)||chr(1077)||chr(1086)||chr(1088)||chr(1089)||chr(1093)||chr(1091))
         |      || chr(8203) || chr(8212) || 'x' || chr(8221) AS injected
         |  FROM documents)
         |SELECT doc_id, length(injected) AS n_in_chars,
         |  length(${TextCleanse.skeletonOracleSql("injected")}) AS n_out_chars,
         |  (${TextCleanse.skeletonOracleSql("injected")}
         |     = text || '-x' || chr(34)) AS restored_ok
         |FROM s ORDER BY doc_id""".stripMargin),
    "q_unicode_nfc" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |    replace(text, 'a', 'a' || chr(769)) AS injected
        |  FROM documents),
        |n AS (SELECT doc_id, text, injected,
        |        nfc_normalize(injected) AS norm FROM s)
        |SELECT doc_id, CAST(length(injected) AS INT) AS n_src_chars,
        |  CAST(length(norm) AS INT) AS n_norm_chars,
        |  strip_accents(norm) = text AS restored_ok
        |FROM n ORDER BY doc_id""".stripMargin,
    "q_boilerplate_matrix" ->
      """WITH w AS (
        |  SELECT DISTINCT source AS g, substring(text, i, 25) AS w
        |  FROM (SELECT source, text,
        |          unnest(range(1, greatest(length(text) - 25 + 1, 0) + 1)) AS i
        |        FROM documents WHERE length(text) >= 25))
        |SELECT a.g AS group_a, b.g AS group_b, count(*) AS n_shared_windows
        |FROM w a JOIN w b ON a.w = b.w AND a.g < b.g
        |GROUP BY a.g, b.g ORDER BY group_a, group_b""".stripMargin,
    "q_exact_substrings" ->
      """WITH w AS (
        |  SELECT doc_id, i AS pos, substring(text, i, 25) AS w
        |  FROM (SELECT doc_id, text,
        |          unnest(range(1, greatest(length(text) - 25 + 1, 0) + 1)) AS i
        |        FROM documents WHERE length(text) >= 25)),
        |dup AS (SELECT w FROM w GROUP BY w HAVING count(*) >= 2),
        |f AS (SELECT doc_id, pos FROM w JOIN dup USING (w)),
        |ord AS (
        |  SELECT doc_id, pos,
        |    max(pos + 25) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM f),
        |isl AS (
        |  SELECT doc_id, pos,
        |    sum(CASE WHEN prev_max IS NULL OR pos > prev_max THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM ord),
        |spans AS (
        |  SELECT doc_id, island, min(pos) AS s, max(pos + 25) AS e
        |  FROM isl GROUP BY doc_id, island),
        |segs AS (
        |  SELECT doc_id, s, e,
        |    lag(e, 1, 1) OVER (PARTITION BY doc_id ORDER BY s) AS prev_e
        |  FROM spans),
        |pieces AS (
        |  SELECT g.doc_id,
        |    string_agg(substring(d.text, g.prev_e, g.s - g.prev_e), ''
        |      ORDER BY g.s) AS mid,
        |    max(g.e) AS last_e, count(*) AS n_spans,
        |    sum(g.e - g.s) AS dup_chars
        |  FROM segs g JOIN documents d USING (doc_id)
        |  GROUP BY g.doc_id),
        |cleaned AS (
        |  SELECT p.doc_id,
        |    p.mid || substring(d.text, p.last_e,
        |      greatest(length(d.text) - p.last_e + 1, 0)) AS cleaned_text,
        |    p.n_spans, p.dup_chars
        |  FROM pieces p JOIN documents d USING (doc_id))
        |SELECT d.doc_id, CAST(length(d.text) AS INT) AS n_chars,
        |  CAST(COALESCE(c.dup_chars, 0) AS INT) AS n_dup_chars,
        |  CAST(COALESCE(c.n_spans, 0) AS INT) AS n_spans,
        |  COALESCE(c.cleaned_text, d.text) AS cleaned_text
        |FROM documents d LEFT JOIN cleaned c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // the contract IS the constant: both decontamination paths must
    // produce identical pair sets (the Spark side computes the real
    // full-outer diff; any collision-induced divergence lands here)
    "q_decontam_hash_agree" ->
      """SELECT CAST(0 AS BIGINT) AS string_only,
        |  CAST(0 AS BIGINT) AS hashed_only,
        |  CAST(0 AS BIGINT) AS count_mismatch""".stripMargin,
    "q_substr_hash_agree" ->
      """SELECT CAST(0 AS BIGINT) AS string_only,
        |  CAST(0 AS BIGINT) AS hashed_only""".stripMargin,
    "q_dsir_weights" ->
      """WITH t AS (
        |  SELECT doc_id, lang, regexp_extract_all(lower(trim(text)), '\S+') AS toks
        |  FROM documents),
        |p AS (SELECT doc_id, unnest(toks) AS token FROM t),
        |tgt AS (
        |  SELECT p.token, count(*) AS c
        |  FROM p JOIN documents d USING (doc_id)
        |  WHERE d.lang = 'en' GROUP BY p.token),
        |raw AS (SELECT token, count(*) AS c FROM p GROUP BY token),
        |v AS (SELECT count(*) AS vsz FROM raw),
        |tt AS (SELECT sum(c) AS s FROM tgt),
        |tr AS (SELECT sum(c) AS s FROM raw),
        |terms AS (
        |  SELECT p.doc_id,
        |    sum(CAST(round(-ln((raw.c + 1.0) / (tr.s + v.vsz)), 9) AS DECIMAL(38,9))
        |      - CAST(round(-ln((COALESCE(tgt.c, 0) + 1.0) / (tt.s + v.vsz)), 9)
        |          AS DECIMAL(38,9))) AS w,
        |    count(*) AS n
        |  FROM p JOIN raw USING (token) LEFT JOIN tgt USING (token)
        |  CROSS JOIN v CROSS JOIN tt CROSS JOIN tr
        |  GROUP BY p.doc_id)
        |SELECT doc_id, CAST(n AS INT) AS n_tokens,
        |  round(CAST(w AS DOUBLE), 6) AS log_weight
        |FROM terms ORDER BY doc_id""".stripMargin,
    "q_nb_lang" ->
      """WITH t AS (
        |  SELECT doc_id, lang, regexp_extract_all(lower(trim(text)), '\S+') AS toks
        |  FROM documents),
        |p AS (SELECT doc_id, unnest(toks) AS token FROM t),
        |lab AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |nd AS (SELECT count(*) AS n FROM documents),
        |tc AS (
        |  SELECT d.lang, p.token, count(*) AS c
        |  FROM p JOIN (SELECT doc_id, lang FROM documents) d USING (doc_id)
        |  GROUP BY d.lang, p.token),
        |tot AS (SELECT lang, sum(c) AS tl FROM tc GROUP BY lang),
        |v AS (SELECT count(DISTINCT token) AS vsz FROM p),
        |terms AS (
        |  SELECT p.doc_id, l.lang AS label,
        |    sum(CAST(round(-ln((COALESCE(tc.c, 0) + 1.0) / (tot.tl + v.vsz)), 9)
        |      AS DECIMAL(38,9))) AS tok_nll,
        |    count(*) AS n
        |  FROM p CROSS JOIN lab l
        |  LEFT JOIN tc ON tc.lang = l.lang AND tc.token = p.token
        |  JOIN tot ON tot.lang = l.lang
        |  CROSS JOIN v
        |  GROUP BY p.doc_id, l.lang),
        |scored AS (
        |  SELECT terms.doc_id, terms.label, terms.n,
        |    CAST(round(-ln(lab.n_docs * 1.0 / nd.n), 9) AS DECIMAL(38,9))
        |      + terms.tok_nll AS nll
        |  FROM terms JOIN lab ON lab.lang = terms.label CROSS JOIN nd),
        |best AS (
        |  SELECT doc_id, label, n, nll,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY nll, label) AS rn
        |  FROM scored)
        |SELECT doc_id, label AS lang_pred, CAST(n AS INT) AS n_tokens,
        |  round(CAST(nll AS DOUBLE), 6) AS nll
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q_bigram_score" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS toks
        |  FROM documents),
        |p AS (SELECT doc_id, unnest(toks) AS token FROM t),
        |v AS (SELECT token, count(*) AS c FROM p GROUP BY token),
        |tot AS (SELECT sum(c) AS t, count(*) AS vsz FROM v),
        |bg AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)),
        |bic AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
        |pre AS (SELECT w1, sum(c) AS cp FROM bic GROUP BY w1),
        |bterms AS (
        |  SELECT bg.doc_id,
        |    sum(CAST(round(-ln((COALESCE(bic.c, 0) + 1.0)
        |      / (COALESCE(pre.cp, 0) + tot.vsz)), 9) AS DECIMAL(38,9))) AS bnll
        |  FROM bg LEFT JOIN bic ON bg.w1 = bic.w1 AND bg.w2 = bic.w2
        |  LEFT JOIN pre ON bg.w1 = pre.w1 CROSS JOIN tot
        |  GROUP BY bg.doc_id),
        |fterm AS (
        |  SELECT t.doc_id, len(t.toks) AS n,
        |    CAST(round(-ln((COALESCE(v.c, 0) + 1.0) / (tot.t + tot.vsz)), 9)
        |      AS DECIMAL(38,9)) AS fnll
        |  FROM t LEFT JOIN v ON t.toks[1] = v.token CROSS JOIN tot
        |  WHERE len(t.toks) >= 1)
        |SELECT f.doc_id, CAST(f.n AS INT) AS n_tokens,
        |  round(CAST(f.fnll + COALESCE(b.bnll, 0) AS DOUBLE) / f.n, 6) AS avg_nll
        |FROM fterm f LEFT JOIN bterms b USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_bigram_kn" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS toks
        |  FROM documents),
        |p AS (SELECT doc_id, unnest(toks) AS token FROM t),
        |vv AS (SELECT count(DISTINCT token) AS vsz FROM p),
        |bg AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)),
        |bic AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
        |pre AS (SELECT w1, sum(c) AS cp, count(*) AS rt FROM bic GROUP BY w1),
        |lt AS (SELECT w2, count(*) AS ltc FROM bic GROUP BY w2),
        |tot AS (SELECT count(*) AS bt FROM bic),
        |bterms AS (
        |  SELECT bg.doc_id,
        |    sum(CAST(round(-ln(
        |      CASE WHEN pre.cp IS NOT NULL THEN
        |        greatest(COALESCE(bic.c, 0) - 0.75, 0.0) / pre.cp
        |        + 0.75 * pre.rt / pre.cp
        |          * ((COALESCE(lt.ltc, 0) + 0.5)
        |             / (tot.bt + 0.5 * (vv.vsz + 1.0)))
        |      ELSE (COALESCE(lt.ltc, 0) + 0.5)
        |           / (tot.bt + 0.5 * (vv.vsz + 1.0)) END
        |    ), 9) AS DECIMAL(38,9))) AS bnll
        |  FROM bg LEFT JOIN bic ON bg.w1 = bic.w1 AND bg.w2 = bic.w2
        |  LEFT JOIN pre ON bg.w1 = pre.w1
        |  LEFT JOIN lt ON bg.w2 = lt.w2
        |  CROSS JOIN tot CROSS JOIN vv
        |  GROUP BY bg.doc_id),
        |fterm AS (
        |  SELECT t.doc_id, len(t.toks) AS n,
        |    CAST(round(-ln((COALESCE(lt.ltc, 0) + 0.5)
        |      / (tot.bt + 0.5 * (vv.vsz + 1.0))), 9) AS DECIMAL(38,9)) AS fnll
        |  FROM t LEFT JOIN lt ON t.toks[1] = lt.w2
        |  CROSS JOIN tot CROSS JOIN vv
        |  WHERE len(t.toks) >= 1)
        |SELECT f.doc_id, CAST(f.n AS INT) AS n_tokens,
        |  round(CAST(f.fnll + COALESCE(b.bnll, 0) AS DOUBLE) / f.n, 6) AS avg_nll
        |FROM fterm f LEFT JOIN bterms b USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // the trigram KN recursion restated as CTEs: tic/ctx are the raw
    // trigram level, cb/cm the bigram CONTINUATION level, lt/tot/vv the
    // Pc floor (all identical to q_bigram_kn's), and each term is the
    // interpolation written in the Scala kernel's association order.
    // Both q_trigram_kn (broadcast maps) and q_trigram_kn_dist
    // (token-keyed joins) must land on this exact hash.
    "q_trigram_kn" -> trigramKnOracle,
    "q_trigram_kn_dist" -> trigramKnOracle,
    // identical semantics to q_bigram_score — only the Spark-side plan differs
    "q_bigram_score_dist" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS toks
        |  FROM documents),
        |p AS (SELECT doc_id, unnest(toks) AS token FROM t),
        |v AS (SELECT token, count(*) AS c FROM p GROUP BY token),
        |tot AS (SELECT sum(c) AS t, count(*) AS vsz FROM v),
        |bg AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)),
        |bic AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
        |pre AS (SELECT w1, sum(c) AS cp FROM bic GROUP BY w1),
        |bterms AS (
        |  SELECT bg.doc_id,
        |    sum(CAST(round(-ln((COALESCE(bic.c, 0) + 1.0)
        |      / (COALESCE(pre.cp, 0) + tot.vsz)), 9) AS DECIMAL(38,9))) AS bnll
        |  FROM bg LEFT JOIN bic ON bg.w1 = bic.w1 AND bg.w2 = bic.w2
        |  LEFT JOIN pre ON bg.w1 = pre.w1 CROSS JOIN tot
        |  GROUP BY bg.doc_id),
        |fterm AS (
        |  SELECT t.doc_id, len(t.toks) AS n,
        |    CAST(round(-ln((COALESCE(v.c, 0) + 1.0) / (tot.t + tot.vsz)), 9)
        |      AS DECIMAL(38,9)) AS fnll
        |  FROM t LEFT JOIN v ON t.toks[1] = v.token CROSS JOIN tot
        |  WHERE len(t.toks) >= 1)
        |SELECT f.doc_id, CAST(f.n AS INT) AS n_tokens,
        |  round(CAST(f.fnll + COALESCE(b.bnll, 0) AS DOUBLE) / f.n, 6) AS avg_nll
        |FROM fterm f LEFT JOIN bterms b USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_ccnet_buckets" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS toks
        |  FROM documents),
        |p AS (SELECT doc_id, unnest(toks) AS token FROM t),
        |v AS (SELECT token, count(*) AS c FROM p GROUP BY token),
        |tot AS (SELECT sum(c) AS t, count(*) AS vsz FROM v),
        |s AS (
        |  SELECT p.doc_id,
        |    sum(CAST(round(-ln((v.c + 1.0) / (tot.t + tot.vsz)), 9)
        |      AS DECIMAL(38,9))) AS nll,
        |    count(*) AS n
        |  FROM p JOIN v USING (token) CROSS JOIN tot
        |  GROUP BY p.doc_id),
        |sc AS (
        |  SELECT doc_id, CAST(n AS INT) AS n_tokens,
        |    round(CAST(nll AS DOUBLE) / n, 6) AS avg_nll
        |  FROM s),
        |q AS (SELECT quantile_cont(avg_nll, CAST(1.0/3 AS DOUBLE)) AS q1,
        |        quantile_cont(avg_nll, CAST(2.0/3 AS DOUBLE)) AS q2 FROM sc)
        |SELECT doc_id, n_tokens, avg_nll,
        |  CASE WHEN avg_nll <= q.q1 THEN 'head'
        |       WHEN avg_nll <= q.q2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sc CROSS JOIN q ORDER BY doc_id""".stripMargin,
    "q_lm_score" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS toks
        |  FROM documents),
        |p AS (SELECT doc_id, unnest(toks) AS token FROM t),
        |v AS (SELECT token, count(*) AS c FROM p GROUP BY token),
        |tot AS (SELECT sum(c) AS t, count(*) AS vsz FROM v),
        |s AS (
        |  SELECT p.doc_id,
        |    sum(CAST(round(-ln((v.c + 1.0) / (tot.t + tot.vsz)), 9)
        |      AS DECIMAL(38,9))) AS nll,
        |    count(*) AS n
        |  FROM p JOIN v USING (token) CROSS JOIN tot
        |  GROUP BY p.doc_id)
        |SELECT doc_id, CAST(n AS INT) AS n_tokens,
        |  round(CAST(nll AS DOUBLE) / n, 6) AS avg_nll
        |FROM s ORDER BY doc_id""".stripMargin,
    // The data-release capstone: all six stages replayed as one CTE
    // chain — dedup election, the q_gopher_filter rule block verbatim,
    // the q_decontaminate gram join split into corpus/bench sides, the
    // shared hashSplit CASE generator, the q_domain_mixture weight and
    // cumsum pattern keyed on lang, and the q_pack_sequences running
    // total.
    "q_data_release" ->
      (s"""WITH d0 AS (
        |  SELECT d.* FROM documents d
        |  JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text) f
        |    USING (doc_id)),
        |gt AS (
        |  SELECT doc_id, text,
        |    regexp_extract_all(lower(trim(text)), '\\S+') AS toks
        |  FROM d0),
        |gs AS (
        |  SELECT doc_id,
        |    len(toks) AS n,
        |    COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS sum_len,
        |    len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS alpha,
        |    len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','that','it','for','was','der','die','und','das','ist','nicht','ein','mit','auf','sich','el','la','de','los','es','que','un','una','por','con','le','les','et','est','une','dans','pour','qui'))) AS stops,
        |    (length(text) - length(replace(text, '#', ''))) +
        |    (length(text) - length(replace(text, '...', ''))) // 3 AS symbols
        |  FROM gt),
        |gr AS (
        |  SELECT doc_id,
        |    CASE WHEN n < 10 THEN 'too_few_words'
        |         WHEN n > 100000 THEN 'too_many_words'
        |         WHEN sum_len < n * 2 OR sum_len > n * 12 THEN 'mean_word_len'
        |         WHEN symbols * 10 > n THEN 'symbol_ratio'
        |         WHEN alpha * 10 < n * 7 THEN 'alpha_frac'
        |         WHEN stops < 2 THEN 'stopwords'
        |         ELSE NULL END AS drop_reason
        |  FROM gs),
        |q AS (
        |  SELECT d0.* FROM d0 JOIN gr USING (doc_id)
        |  WHERE gr.drop_reason IS NULL),
        |cg AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(list_slice(toks, i, i + 2), ' ')
        |     FOR i IN range(1, greatest(len(toks) - 2, 0) + 1)])) AS gram
        |  FROM (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\\S+') AS toks
        |        FROM q WHERE doc_id % 53 <> 0)),
        |bg AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(list_slice(toks, i, i + 2), ' ')
        |     FOR i IN range(1, greatest(len(toks) - 2, 0) + 1)])) AS gram
        |  FROM (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\\S+') AS toks
        |        FROM documents WHERE doc_id % 53 = 0)),
        |contam AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT c.doc_id, b.doc_id AS bid
        |    FROM cg c JOIN bg b ON c.gram = b.gram
        |    GROUP BY c.doc_id, b.doc_id HAVING count(*) >= 2)),
        |tr AS (
        |  SELECT q.doc_id, q.lang,
        |    CAST(len(regexp_extract_all(lower(trim(q.text)), '\\S+')) AS BIGINT) AS n_tokens
        |  FROM q
        |  WHERE q.doc_id % 53 <> 0
        |    AND q.doc_id NOT IN (SELECT doc_id FROM contam)
        |    AND ${Sampling.hashSplitOracleCase("q.doc_id", SplitSpec)} = 'train'),
        |w1 AS (
        |  SELECT lang,
        |    CAST(floor(sqrt(CAST(sum(n_tokens) AS DOUBLE)) * 1e9) AS BIGINT) AS w
        |  FROM tr GROUP BY lang),
        |a1 AS (
        |  SELECT lang,
        |    CAST(floor(20000.0 * w /
        |      (SELECT CAST(sum(w) AS DOUBLE) FROM w1)) AS BIGINT) AS tok_target
        |  FROM w1),
        |cu AS (
        |  SELECT lang, doc_id, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)) || '|' || CAST(doc_id AS VARCHAR)
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct
        |  FROM tr),
        |se AS (
        |  SELECT cu.doc_id, cu.lang, cu.n_tokens
        |  FROM cu JOIN a1 USING (lang) WHERE cu.ct <= a1.tok_target),
        |pk AS (
        |  SELECT doc_id, lang, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM se)
        |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |  CAST(floor((cum_tokens - n_tokens) / 2048.0) AS BIGINT) AS bin
        |FROM pk ORDER BY doc_id""").stripMargin
  )
}
