package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the properties that make these plans survive a
  * 100× scale-up, checked against the actual optimized/physical plans so a
  * regression (lost broadcast, lost pushdown, extra shuffle) fails CI, not
  * the cluster.
  */
class PlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // rawQueries, not queries: the GoldenGate wrapper localCheckpoints
  // pinned outputs, which would hide the plan under inspection
  private def physicalPlan(name: String): String = {
    val df = SparkEntry.rawQueries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("q5 join chain broadcasts every dimension table") {
    val p = physicalPlan("q5_local_revenue")
    // dims (customer/nation/region) broadcast; no shuffle on their side
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(!p.contains("CartesianProduct"))
    // the one fact-side shuffle is the final group-by, plus the
    // lineitem⋈orders join — count the exchanges
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 5, s"too many shuffles ($exchanges):\n$p")
  }

  test("q1 filter is pushed into the parquet scan") {
    val p = physicalPlan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      "shipdate predicate not pushed to parquet:\n" + p.take(800))
  }

  test("scans prune columns to what the query reads") {
    val p = physicalPlan("q1_pricing_summary")
    // lineitem has 16 columns; this query needs 6
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
  }

  test("aggregations are partial (map-side combine) before the shuffle") {
    val p = physicalPlan("q_seq_dist")
    // HashAggregate(partial) ... Exchange ... HashAggregate(final)
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p.take(400))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"per-position distribution should be one shuffle:\n$p")
  }

  test("contiguous k-mers explode start indexes, no per-position lambda") {
    val p = physicalPlan("q_kmer3")
    assert(p.contains("Generate"), p.take(800))
    assert(!p.contains("lambdafunction"), s"per-position lambda is back:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"k-mer counts should be one shuffle:\n$p")
  }

  test("comparison queries look the reference up as a literal, no join") {
    val p = physicalPlan("q_hamming_doc0")
    assert(p.contains("Generate inline"), "reference letters are looked up per row:\n" + p.take(800))
    assert(!p.contains("Join") && !p.contains("BroadcastExchange"),
      "the reference side needs no join or broadcast:\n" + p.take(800))
    // the groupBy's shuffle and the query's own orderBy; none for the refs
    val exchanges = "Exchange ".r.findAllIn(p).length
    assert(exchanges == 2, s"expected the aggregate's and the sort's exchanges only:\n$p")
  }

  test("quality bins: no join against the bins, no range exchange") {
    val long = graft.core.SeqTable.fromReads(spark,
      Seq(("r1", "ACGT", "IIII"), ("r2", "ACGT", "5I5I"))).long
    val p = graft.ops.QualityDist(long, graft.ops.QualityDist.fastqcBins(4))
      .queryExecution.executedPlan.toString
    assert(p.contains("percentile"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Join"), p.take(800))
    assert(!p.contains("rangepartitioning"), s"the bins' sort needs no range shuffle:\n$p")
  }

  test("distributed bigram scoring: token-keyed joins, no cartesian, no window") {
    val p = physicalPlan("q_bigram_score_dist")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("Window"), "no window function belongs in this plan:\n" + p.take(800))
  }

  test("distributed trigram/4-gram KN: token-keyed joins only, no cartesian, no window") {
    for (q <- Seq("q_trigram_kn_dist", "q_fourgram_kn_dist", "q_fivegram_kn_dist")) {
      val p = physicalPlan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n" + p.take(800))
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n" + p.take(800))
      assert(!p.contains("Window"), s"$q: no window belongs here:\n" + p.take(800))
    }
  }

  test("perceptual hashing is map-only; banded pairs shuffle on chunk keys only") {
    // signatures: one scan, no exchange anywhere
    val p = physicalPlan("q_media_phash")
    assert(!p.contains("Exchange hashpartitioning"),
      "signature extraction must ride the scan:\n" + p.take(800))
    // banded pairs: equi-join on (chunk, chunk_val) — never a cartesian
    // or nested loop (the all-pairs shapes the blocking exists to avoid)
    val docs = Tables(spark, dir, "documents")
    val pairs = graft.ops.Multimodal.phashNearDuplicates(
      graft.ops.Multimodal.asMedia(docs, "doc_id", "text", "text/plain"))
    val pp = pairs.queryExecution.executedPlan.toString
    assert(!pp.contains("CartesianProduct") && !pp.contains("BroadcastNestedLoopJoin"),
      pp.take(800))
  }

  test("whole-stage codegen covers the relational pipeline") {
    // AQE only materializes WholeStageCodegen nodes in the final plan —
    // execute, then inspect
    val df = SparkEntry.rawQueries("q1_pricing_summary")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen'd spans print as "*(n) Operator" in the final adaptive plan
    val spans = "\\*\\(\\d+\\)".r.findAllIn(p).toList.distinct
    assert(spans.size >= 2, s"expected codegen spans, found $spans in:\n${p.take(600)}")
  }

  test("bloom-pruned join filters the fact side before its shuffle") {
    val p = physicalPlan("q_bloom_join")
    // the bloom predicate must sit under the orders scan side, upstream of
    // any exchange — i.e. a Filter containing the UDF appears in the plan
    // and the big-side scan is not shuffled unfiltered
    assert(p.contains("Filter"), p.take(600))
    assert("(?i)mightContain|UDF".r.findFirstIn(p).isDefined,
      "bloom probe not in the physical plan:\n" + p.take(800))
  }

  test("salted aggregation is two map-side-combined stages") {
    val df = SparkEntry.rawQueries("q_salted_agg")(spark, dir)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    // the adaptive plan string repeats the tree as Final + Initial —
    // assert on the final section only
    val p = full.split("== Initial Plan ==").head
    // stage 1 groups on (key, salt), stage 2 on the key: two hash
    // exchanges, each preceded by a partial aggregate
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges >= 2 && exchanges <= 3, s"expected 2-stage agg:\n$p")
    assert(p.contains("partial_"), "no map-side combine:\n" + p.take(600))
  }

  test("SAM alignment plan has no shuffle beyond the aggregate") {
    val sam = graft.queries.SamDomain.queries("q_sam_dist")(spark, dir)
    val p = sam.queryExecution.executedPlan.toString
    // the kernel flatMap + explode are map-only; groupBy(position, base)
    // is the only hash exchange (plus the final sort for presentation)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"alignment must stay map-only before the agg:\n$p")
    // round-3: realignment is the native align_read expression inside the
    // codegen stage, not a ScalaUDF (which would show as a black-box
    // `UDF(...)` projection with converter overhead per read)
    assert(p.contains("align_read"), s"ingest must use the native expression:\n${p.take(800)}")
    assert(!p.contains("UDF("), s"no ScalaUDF may remain on the ingest path:\n${p.take(800)}")
  }

  test("LSH similarity plans are bucketed joins, never cartesian") {
    for (q <- Seq("q_ann_lsh", "q_cosine_neardup")) {
      val p = physicalPlan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q must join on (band, bucket), not all-pairs:\n${p.take(800)}")
    }
  }

  test("wide insertion view assembles without a cross join (round-2 rework)") {
    import spark.implicits._
    val st = graft.core.SeqTable.fromSam(Seq(
      ("A", "ref1", 1, "2M1I2M", "ACGTT", "IIIII"),
      ("B", "ref1", 1, "5M", "AACCG", "IIIII")).toDF(
      "header", "rname", "pos", "cigar", "seq", "qual"))
    val p = st.viewWithInsertionsWide().queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"wide view must be a single groupBy, not reads x slots:\n${p.take(800)}")
  }

  test("ANN top-k selection is a partial aggregate, never a per-query window sort") {
    // round-2 verdict: row_number over Window.partitionBy(query_id) funnels
    // each query's whole candidate set through one task. The bounded-heap
    // aggregate must show up as ObjectHashAggregate with a partial stage,
    // and no Window operator may appear anywhere in the three ANN plans
    // (ivf's cell assignment windows included).
    for (q <- Seq("q_ann_bruteforce", "q_ann_lsh", "q_ann_ivf")) {
      val p = physicalPlan(q)
      assert(!p.contains("Window"),
        s"$q still ranks through a window sort:\n${p.take(800)}")
      assert(p.contains("ObjectHashAggregate"),
        s"$q top-k is not an object-hash aggregate:\n${p.take(800)}")
      assert(p.contains("partial_"),
        s"$q top-k has no map-side partial stage:\n${p.take(800)}")
    }
  }

  test("packing's running total never plans a single-partition exchange") {
    // the naive global ordered window funnels the corpus through one
    // task; the two-phase cumsum must keep every stage partitioned
    val p = physicalPlan("q_pack_sequences")
    assert(!p.contains("Exchange SinglePartition"),
      s"global cumsum collapsed to one task:\n${p.take(800)}")
    assert(p.contains("Window"),
      s"expected the partition-local cumsum window:\n${p.take(800)}")
  }

  test("decontamination broadcasts the benchmark side, corpus never pre-shuffles") {
    // the corpus explodes map-side into the broadcast join; the only hash
    // exchanges are the tiny bench-side distinct and the matching-pair
    // aggregate — never a corpus-sized sort-merge join
    for (q <- Seq("q_decontaminate", "q_decontam_hashed")) {
      val p = physicalPlan(q)
      assert(p.contains("BroadcastHashJoin"),
        s"$q: bench grams must broadcast:\n${p.take(800)}")
      assert(!p.contains("SortMergeJoin"),
        s"$q: corpus side must not shuffle into the join:\n${p.take(800)}")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges <= 2,
        s"$q: expected only the bench distinct + pair aggregate shuffles, got $exchanges:\n$p")
    }
  }

  test("quota sampling is a partial top-k aggregate, never a per-stratum window") {
    val p = physicalPlan("q_quota_sample")
    assert(!p.contains("Window"),
      s"quota selection fell back to a window sort:\n${p.take(800)}")
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_"),
      s"bounded-heap top-k must partial-aggregate map-side:\n${p.take(800)}")
  }

  test("deterministic shuffle position never funnels through one task") {
    val p = physicalPlan("q_shuffle_det")
    assert(!p.contains("Exchange SinglePartition"),
      s"global rank collapsed to a single partition:\n${p.take(800)}")
  }

  test("media header sniffing is map-only: one UDF over the scan, no shuffle") {
    val p = physicalPlan("q_media_sniff")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 0,
      s"sniff is per-payload — no hash shuffle expected:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"))
  }

  test("text-quality kernels stay map-only before the presentation sort") {
    for (q <- Seq("q_repetition", "q_gopher_filter", "q_lang_id", "q_token_stats",
      "q_repetition_gopher", "q_repetition_filter")) {
      val p = physicalPlan(q)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges == 0,
        s"$q is per-document — no hash shuffle expected:\n${p.take(600)}")
    }
  }

  test("vocabulary top-k: one token shuffle + heap selection, no window, k-side broadcast") {
    val p = physicalPlan("q_vocab_topk")
    assert(!p.contains("Window"),
      s"top-k fell back to a window sort over the vocabulary:\n${p.take(800)}")
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_"),
      s"bounded-heap top-k must partial-aggregate map-side:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"the k winners must broadcast back onto the vocabulary frame:\n${p.take(800)}")
  }

  test("bm25 scoring is map-only into the bounded-heap selection") {
    val p = physicalPlan("q_bm25")
    assert(!p.contains("Window"),
      s"bm25 selection fell back to a window sort:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"bm25 must not join the corpus:\n${p.take(800)}")
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_"),
      s"bounded-heap top-k must partial-aggregate map-side:\n${p.take(800)}")
  }

  test("minhash shingle frame: repartition present and stage-reuse-eligible") {
    // the shingle frame feeds banding + both verify-join sides; the
    // repartition(id) exists so downstream work parallelizes beyond the
    // input split count and so the three identical subtrees are
    // reuse-ELIGIBLE for AQE (whether the scheduler reuses is
    // runtime-dependent, so the pin checks canonical equality, not
    // ReusedQueryStage markers). If this fails, the scan+shingle kernel
    // silently serializes on one input split again (the round-6 hot spot).
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = SparkEntry.rawQueries("q_dedup_minhash")(spark, dir)
    val reparts = df.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin.toString == "REPARTITION_BY_COL" =>
        e.canonicalized
    }
    assert(reparts.size >= 3,
      s"expected the shingle repartition in all three consumer subtrees, got ${reparts.size}")
    assert(reparts.distinct.size == 1,
      "the three shingle exchanges must be canonically identical (reuse-eligible)")
  }

  test("hash split and chunking are pure map plans (no shuffle at all)") {
    for (q <- Seq("q_split_assign", "q_chunk_windows")) {
      val p = physicalPlan(q)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges == 0,
        s"$q is per-document — no hash shuffle expected:\n${p.take(600)}")
      assert(!p.contains("Exchange SinglePartition"),
        s"$q funnelled through one task:\n${p.take(600)}")
    }
  }

  test("broadcast-model scoring (NB, DSIR, LM) is map-only over the corpus") {
    // training collects vocab-bounded aggregates at plan-build time; the
    // SCORED frame must then see zero hash shuffles and no window — the
    // only exchange is the presentation sort's range partitioning
    for (q <- Seq("q_nb_lang", "q_dsir_weights", "q_lm_score", "q_bigram_score")) {
      val p = physicalPlan(q)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges == 0,
        s"$q scoring is per-document — no hash shuffle expected:\n${p.take(600)}")
      assert(!p.contains("Window"), s"$q must not sort per document:\n${p.take(600)}")
    }
  }

  test("segment dedup: two keyed aggregates + id join, no window, no cartesian") {
    val p = physicalPlan("q_segment_dedup")
    assert(!p.contains("Window"),
      s"first-occurrence election must be an aggregate, not a window:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"segment dedup must stay keyed:\n${p.take(800)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 4,
      s"segment dedup grew extra shuffles ($exchanges):\n$p")
    assert(p.contains("partial_min") || p.contains("partial_"),
      s"the election aggregate must combine map-side:\n${p.take(800)}")
  }

  test("incremental minhash probe joins bucketed, never cartesian, no window") {
    val p = physicalPlan("q_incremental_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"probe must join on (band, band_hash):\n${p.take(800)}")
    assert(!p.contains("Window"), p.take(800))
  }

  test("exact substring dedup: count aggregate + joins, no window, no cartesian") {
    // the ORACLE does gaps-and-islands with SQL windows; the Spark plan
    // must instead be the two keyed aggregates + joins the scaladoc
    // promises — a Window here would mean the span merge fell out of the
    // compiled kernel into a per-doc sort
    val p = physicalPlan("q_exact_substrings")
    assert(!p.contains("Window"), s"span merge must stay in the kernel:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"duplicated-window detection must combine map-side:\n${p.take(800)}")
  }

  test("boilerplate matrix: one bitmask aggregate, no self-join, no window") {
    val p = physicalPlan("q_boilerplate_matrix")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"),
      s"group membership must aggregate as a bitmask, not join:\n${p.take(800)}")
    assert(!p.contains("Window"), p.take(800))
    assert(p.contains("partial_bit_or"),
      s"the bit_or must combine map-side:\n${p.take(800)}")
  }

  test("tokenize-chunk-pack never plans a single-partition exchange") {
    val p = physicalPlan("q_tokenize_pack")
    assert(!p.contains("Exchange SinglePartition"),
      s"packing's running total must stay two-phase:\n${p.take(800)}")
    // the partition-local cumsum window is expected; a global one is not
    assert(p.contains("Window"),
      s"expected the partition-local cumsum window:\n${p.take(800)}")
  }

  test("as-of join is one union-merge window, never an inequality join") {
    val p = physicalPlan("q_asof_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of must not plan an inequality join:\n${p.take(800)}")
    assert(p.contains("Window"), s"expected the running last() window:\n${p.take(800)}")
    assert(p.contains("Union"), s"expected the tagged union:\n${p.take(800)}")
  }

  test("interval join is a binned equi-join, never a cartesian") {
    val p = physicalPlan("q_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval join must meet on (keys, bin):\n${p.take(800)}")
    assert(p.contains("Generate explode") || p.contains("Generate"),
      s"expected the interval bin explode:\n${p.take(800)}")
  }

  test("heavy hitters recount filters to sketch candidates before the shuffle") {
    val df = SparkEntry.rawQueries("q_heavy_hitters")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // pass 2 is a filtered partial aggregate — the candidate IN-filter must
    // sit below the exchange so only candidate tokens shuffle
    assert(p.contains("partial_"), s"recount must combine map-side:\n${p.take(800)}")
    assert(!p.contains("Window"), p.take(800))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"recount should be one token shuffle:\n$p")
  }

  test("temperature sample is heap top-k + broadcast allocation, no window") {
    val p = physicalPlan("q_temperature_mix")
    assert(!p.contains("Window"),
      s"per-group selection must stay in the bounded heap:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the 5-row allocation frame must broadcast:\n${p.take(800)}")
  }

  test("cohort retention: one user-keyed aggregate, no join, no window") {
    val p = physicalPlan("q_cohort_retention")
    assert(!p.contains("Window"), p.take(800))
    assert(!p.contains("Join"),
      s"cohort must ride the single user aggregate, not a join-back:\n${p.take(800)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected user + cell exchanges only ($exchanges):\n$p")
  }

  test("funnel stages reuse the user_id partitioning (no excess exchanges)") {
    val p = physicalPlan("q_funnel")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // 3 stage aggregates + 2 survivor joins + 3 scalar counts; each stage
    // keys on user_id so AQE can reuse/align the exchanges
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 8, s"funnel planned too many shuffles ($exchanges):\n$p")
  }

  test("hybrid RRF fusion: heap-selected, no window anywhere in the fused plan") {
    val p = physicalPlan("q_hybrid_rrf")
    assert(!p.contains("Window"),
      s"both retrievers and the fusion must select via the bounded heap:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("tfidf: df side broadcast at this scale, heap top-m, no window") {
    val p = physicalPlan("q_tfidf_topterms")
    assert(!p.contains("Window"),
      s"per-doc top-m must be the bounded-heap aggregate:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"vocabulary df frame should broadcast at sf0.001:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("KL drift: keyed aggregates with map-side combine, no window") {
    val p = physicalPlan("q_kl_sources")
    assert(!p.contains("Window"), p.take(800))
    assert(p.contains("partial_"),
      s"token counting must combine map-side:\n${p.take(800)}")
  }

  test("HLL distinct: one partial-combined aggregate, values never shuffle raw") {
    val p = physicalPlan("q_hll_distinct")
    assert(!p.contains("Window"), p.take(800))
    assert(p.contains("partial_"),
      s"register arrays must merge map-side:\n${p.take(800)}")
  }

  test("source overlap: no cartesian, no window; token intersection is an equi-join") {
    val p = physicalPlan("q_source_overlap")
    assert(!p.contains("CartesianProduct"),
      s"pair enumeration must never cross-join raw frames:\n${p.take(800)}")
    assert(!p.contains("Window"), p.take(800))
    assert(p.contains("partial_"),
      s"distinct/size aggregates must map-side combine:\n${p.take(800)}")
  }

  test("partitioned layout prunes at file listing (PartitionFilters on lang)") {
    val p = physicalPlan("q_partition_prune")
    assert(p.contains("PartitionFilters: [") &&
      p.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("lang"),
      s"lang filter must prune directories before I/O:\n${p.take(1200)}")
    assert(!p.contains("PushedFilters: [IsNotNull(lang)"),
      "lang must be a partition column, not a data-filter column")
  }

  test("column profile: no Expand (distinct isolated from sketch buffers), no window") {
    val p = physicalPlan("q_column_profile")
    // mixing countDistinct into the stats aggregate re-plans as an Expand
    // and/or drags the 16 KiB HLL++ buffer onto millions of distinct keys
    // (measured 45x at sf0.1) — pin the melted two-aggregate shape
    assert(!p.contains("Expand"),
      s"exact distinct must stay isolated from the stats aggregate:\n${p.take(800)}")
    assert(!p.contains("Window"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("partial_"),
      s"both aggregates must map-side combine:\n${p.take(800)}")
  }

  test("quantile sketch: partial-combined aggregates, broadcast gate joins, no window") {
    val p = physicalPlan("q_quantile_sketch")
    assert(!p.contains("Window"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("partial_"),
      s"percentile_approx state must merge map-side:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      s"3-row approx/rank frames must broadcast back onto lineitem:\n${p.take(800)}")
  }

  test("Count-Min probe: partial-combined sketch, probe join broadcast, no window") {
    val p = physicalPlan("q_countmin")
    assert(!p.contains("Window"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      s"tiny probe/exact frames must broadcast-join:\n${p.take(800)}")
    // the sketch pass itself runs before this plan (collected aggregate);
    // assert it map-side-combines by building it directly
    val tf = ops.Vocabulary.docTermFrequencies(
      Tables(spark, dir, "documents"), "doc_id", "text")
    val agg = org.apache.spark.sql.functions.udaf(
      new ops.Sketches.CountMinAggregator(4, 2048))
    val sk = tf.agg(agg(
      org.apache.spark.sql.functions.xxhash64(
        org.apache.spark.sql.functions.col("token")),
      org.apache.spark.sql.functions.col("tf").cast("long")))
    val sp = sk.queryExecution.executedPlan.toString
    assert(sp.contains("partial_"),
      s"sketch arrays must merge map-side:\n${sp.take(800)}")
  }

  test("URL family: normalize is map-only; dedup and stats shuffle once on their keys") {
    // normalization must ride inside the scan's codegen span — the only
    // exchange allowed is the presentation sort's range partitioning
    val pn = physicalPlan("q_url_normalize")
    assert("Exchange hashpartitioning".r.findAllIn(pn).isEmpty,
      s"url normalization must not hash-shuffle:\n${pn.take(800)}")
    assert(!pn.contains("CartesianProduct") && !pn.contains("Window"), pn.take(800))

    // URL dedup: ONE hash aggregate on url_norm (partial + final around
    // a single exchange), nothing else
    val pd = physicalPlan("q_url_dedup")
    assert("Exchange hashpartitioning".r.findAllIn(pd).length == 1,
      s"url dedup is one keyed aggregate:\n${pd.take(800)}")
    assert(pd.contains("partial_"), s"dedup must map-side combine:\n${pd.take(800)}")

    // HTML extraction: map-only chrome — pure built-in expressions, no
    // UDF, no hash exchange (only the presentation sort's range
    // partitioning); at 100 TB this rides inside the scan
    val ph = physicalPlan("q_html_extract")
    assert("Exchange hashpartitioning".r.findAllIn(ph).isEmpty,
      s"html extraction must not hash-shuffle:\n${ph.take(800)}")
    assert(!ph.contains("ScalaUDF"),
      s"html extraction must stay UDF-free:\n${ph.take(800)}")

    // HTTP wire gate: the encode → split → wire-decode → extract chain
    // is deliberately UDF-bearing (byte-level framing has no built-in)
    // but must stay MAP-ONLY — one task pass per row, no hash
    // exchange, no window, nothing driver-side; only the presentation
    // sort's range partitioning is allowed
    val px = physicalPlan("q_http_extract")
    assert("Exchange hashpartitioning".r.findAllIn(px).isEmpty,
      s"http extraction must not hash-shuffle:\n${px.take(800)}")
    assert(!px.contains("CartesianProduct") && !px.contains("Window"), px.take(800))

    // domain stats: two count(DISTINCT) → canonical Expand plan; the
    // Expand factor is 3 (one slice per distinct + one for plain aggs)
    // and both exchanges stay keyed on domain(+distinct col) — bounded,
    // skew-safe shape at any corpus size
    val ps = physicalPlan("q_domain_stats")
    assert(ps.contains("Expand"), s"multi-distinct should plan Expand:\n${ps.take(800)}")
    assert("Exchange hashpartitioning".r.findAllIn(ps).length <= 2,
      s"domain stats exceed the two-exchange multi-distinct shape:\n${ps.take(800)}")
  }

  test("data-release capstone: no cartesian, bounded shuffles, single-pass stages") {
    // Since the round-15 stage checkpoints, the final plan is the
    // post-checkpoint tail (budget window + broadcast targets + the
    // two-phase pack); the decontaminate anti-join runs inside the
    // construction segment and its broadcast shape is pinned by the
    // standalone decontaminate tests above. What this pin now guards:
    // the tail never cartesians, never funnels the corpus through one
    // task beyond the mixture's scalar weight-total, and reads each
    // pinned stage ONCE (no parquet scan may survive into the tail —
    // a scan here would mean a stage silently escaped its checkpoint
    // and re-runs multiplicatively, the round-15 before-plan bug: 30
    // scans of the documents parquet in one plan).
    val p = physicalPlan("q_data_release")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("Window"),
      s"expected the two-phase cumsum's partition-local window:\n${p.take(800)}")
    assert(!p.contains("Scan parquet"),
      s"a parquet scan escaped the stage checkpoints:\n${p.take(1200)}")
    val singles = "Exchange SinglePartition".r.findAllIn(p).length
    assert(singles <= 1,
      s"only the scalar weight-total may single-partition ($singles found):\n${p.take(1200)}")
  }

  test("CDC family: chunking is one native-kernel projection; dedup shuffles only on its keys") {
    // per-doc view: the only exchange is the presentation sort's range
    // partitioning; the kernel is a native expression, not a ScalaUDF
    val pc = physicalPlan("q_cdc_chunks")
    assert("Exchange hashpartitioning".r.findAllIn(pc).isEmpty,
      s"cdc chunking must not hash-shuffle:\n${pc.take(800)}")
    assert(!pc.contains("ScalaUDF") && pc.contains("cdc_chunks"),
      s"chunking should run the native cdc_chunks expression:\n${pc.take(800)}")

    // gear path: same map-only contract as the md5 path — native
    // expression (one O(n) pass), no UDF, no hash exchange
    val pg = physicalPlan("q_cdc_gear")
    assert("Exchange hashpartitioning".r.findAllIn(pg).isEmpty,
      s"gear chunking must not hash-shuffle:\n${pg.take(800)}")
    assert(!pg.contains("ScalaUDF") && pg.contains("gear_chunks"),
      s"chunking should run the native gear_chunks expression:\n${pg.take(800)}")

    // corpus dedup: explode → the two-exchange count(DISTINCT doc_id)
    // aggregate keyed on chunk — nothing else, no window, no join
    val pd = physicalPlan("q_cdc_dedup")
    assert("Exchange hashpartitioning".r.findAllIn(pd).length <= 2,
      s"chunk dedup exceeds the distinct-aggregate shape:\n${pd.take(800)}")
    assert(!pd.contains("Window") && !pd.contains("CartesianProduct"), pd.take(800))
    assert(pd.contains("partial_"), s"chunk counts must map-side combine:\n${pd.take(800)}")
  }

  test("snapshot diff and domain mixture keep their one-keyed-shuffle shapes") {
    // diff: ONE full-outer sort-merge/hash join on the id — both sides
    // exchange on the same key; shuffle rows carry 8-byte digests
    val pd = physicalPlan("q_snapshot_diff")
    assert(pd.contains("FullOuter"), s"diff must plan a full-outer join:\n${pd.take(800)}")
    assert(!pd.contains("CartesianProduct") && !pd.contains("BroadcastNestedLoop"), pd.take(800))

    // mixture: weights broadcast back; the only wide exchanges are the
    // group-partitioned window and the weight aggregate
    val pm = physicalPlan("q_domain_mixture")
    assert(pm.contains("BroadcastHashJoin"),
      s"per-domain targets must broadcast back:\n${pm.take(800)}")
    assert(pm.contains("Window"), s"greedy fill is a domain-partitioned window:\n${pm.take(800)}")
    assert(!pm.contains("CartesianProduct"), pm.take(800))
  }

  test("link graph: resolver map-only, edges one keyed aggregate, scalar-only nested loops") {
    // q_outlinks: extraction + resolution + normalization are map-only —
    // the only exchange is the presentation sort's range partitioning
    val po = physicalPlan("q_outlinks")
    assert("Exchange hashpartitioning".r.findAllIn(po).isEmpty,
      s"outlink resolution must not shuffle:\n${po.take(800)}")
    assert(!po.contains("CartesianProduct"), po.take(800))

    // q_link_graph: the only nested-loop join is the broadcast of the
    // 1-row modulus scalar; neighbor joins are hash joins on the id;
    // the edge rollup map-side combines
    val pl = physicalPlan("q_link_graph")
    assert(!pl.contains("CartesianProduct"), pl.take(800))
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(pl).length
    assert(bnl <= 1, s"only the 1-row modulus may nested-loop ($bnl):\n${pl.take(800)}")
    assert(pl.contains("partial_count") || pl.contains("partial_"),
      s"edge counts must map-side combine:\n${pl.take(800)}")
  }

  test("SFC keys: pure projection inside codegen, zero hash exchanges") {
    // zorderKey is shift/mask builtins riding the scan; hilbertKey's
    // aggregate-HOF is still a per-row projection — neither may shuffle
    // (the presentation orderBy adds only a rangepartitioning exchange)
    for (name <- Seq("q_zorder_key", "q_hilbert_key")) {
      val p = physicalPlan(name)
      assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
        s"$name: key computation must not shuffle:\n${p.take(800)}")
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
        p.take(800))
      // the key must be computed IN the projection over the scan (all
      // codegen-able builtins), never via a UDF or a generator
      assert(p.contains("Project") && p.contains("FileScan parquet"),
        s"$name: expected key-in-projection over the scan:\n${p.take(800)}")
      assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
        s"$name: key must be pure builtins:\n${p.take(800)}")
    }
  }

  test("dictionary match is map-only; weighted sample is a TakeOrdered heap") {
    // Aho-Corasick: broadcast automaton + generate — the only exchange is
    // the presentation sort's range partitioning
    val pd = physicalPlan("q_dict_match")
    assert("Exchange hashpartitioning".r.findAllIn(pd).isEmpty,
      s"dictionary matching must not shuffle:\n${pd.take(800)}")
    assert(!pd.contains("CartesianProduct"))

    // ES sampling: no global sort — the limit folds into a bounded
    // per-partition heap (TakeOrderedAndProject)
    val pw = physicalPlan("q_weighted_sample")
    assert(pw.contains("TakeOrderedAndProject"),
      s"weighted sample lost the bounded-heap TakeOrdered:\n${pw.take(800)}")
  }

  test("upsert apply: one change-side aggregate, one id join, no window") {
    val p = physicalPlan("q_upsert_apply")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      p.take(800))
    assert(p.contains("partial_max_by") || p.contains("max_by"),
      s"last-writer election must map-side combine:\n${p.take(800)}")
  }

  test("deletion-vector reads: broadcast anti-join above the scan, pushdown intact below it") {
    // a DV'd committed table must keep the scan-side contract: the
    // user's predicate pushes into the parquet scan UNDER the position
    // anti-join, the positions side is BROADCAST (the scan never
    // shuffles for DV application), and column pruning still holds
    import org.apache.spark.sql.functions._
    val base = spark.range(20000).select(
      col("id"), ((col("id") * 7919L) % 1000).as("x"),
      ((col("id") * 104729L) % 997).as("y"))
    val dir2 = java.nio.file.Files.createTempDirectory("graft_dv_plan").toString
    graft.ops.Layout.writeClustered(base, dir2,
      pmod(col("x"), lit(256L)), nFiles = 8, statsCols = Seq("x"))
    graft.ops.Layout.deleteWhereDv(spark, dir2,
      col("x") < 100, Seq(("x", 0L, 99L)))
    val df = graft.ops.Layout.readCommitted(spark, dir2)
      .filter(col("y") > 500).select(col("id"), col("y"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"DV application must be a broadcast anti-join:\n${p.take(1200)}")
    assert(p.contains("PushedFilters: [IsNotNull(y), GreaterThan(y,500)"),
      s"user predicate must push below the DV join:\n${p.take(1200)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"DV application must not shuffle the scan side:\n${p.take(1200)}")
    // row parity against the logical answer while we're here
    assert(df.count() ==
      base.filter(col("x") >= 100 && col("y") > 500).count())
  }

  test("PCA moments: ONE partial-combined aggregate, vectors never shuffle raw") {
    // the only exchange carries the ~17 KB Long-array buffer (SinglePartition
    // merge of partials), never the embedding rows themselves
    val df = graft.ops.Pca.momentsPlan(
      Tables(spark, dir, "embeddings"), "embedding", 64, 1L << 24)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_"), s"moment aggregate must map-side combine:\n${p.take(800)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"only the SinglePartition partial merge may move data:\n${p.take(800)}")
  }
}
