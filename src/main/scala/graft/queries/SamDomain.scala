package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.SeqTable
import graft.functions.SeqFunctions
import graft.ops.{Compare, Distributions, InsertionStats, Merge, QualityDist}

/** Queries that drive the SAM-ingest → CIGAR-realignment → analytics spine
  * end-to-end against the DuckDB oracle.
  *
  * SAM rows are synthesized deterministically from `documents`: the text
  * maps to an ACGT read, `pos = doc_id % 20 + 1`. For M-only and M/I
  * cigars the realignment is SQL-expressible (substring placement), so the
  * oracle checks the WHOLE pipeline — window aggregation, per-read
  * projection, insertion side-table assembly, long-form explode — not just
  * the final aggregate. I/D/S/N corner semantics are pinned by AlignSpec.
  */
object SamDomain {

  private val NtMap = (" abcdefghijklmnopqrstuvwy", "ACGTACGTACGTACGTACGTACGTA")

  /** documents → (header, rname, pos, cigar, seq, qual) with the given
    * cigar pattern; read = 20 mapped chars.
    */
  private def samFrame(s: SparkSession, dir: String, cigar: String): DataFrame =
    Tables(s, dir, "documents").select(
      concat(lit("d"), col("doc_id")).as("header"),
      lit("ref1").as("rname"),
      (pmod(col("doc_id"), lit(20)) + 1).cast("int").as("pos"),
      lit(cigar).as("cigar"),
      translate(rpad(substring(col("text"), 1, 20), 20, "a"),
        NtMap._1, NtMap._2).as("seq"),
      lit("*").as("qual"))

  private val sqlNts =
    """nts AS (
      |  SELECT doc_id, doc_id % 20 + 1 AS pos,
      |    translate(rpad(substring(text, 1, 20), 20, 'a'),
      |      ' abcdefghijklmnopqrstuvwy', 'ACGTACGTACGTACGTACGTACGTA') AS nt
      |  FROM documents)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S2+T1+A1: SAM → aligned window → per-position base distribution over
    // covered cells.
    "q_sam_dist" -> ((s, dir) => {
      val st = SeqTable.fromSam(samFrame(s, dir, "20M"))
      Distributions.seqDist(st.long.filter(col("base") =!= "$"))
        .orderBy(col("position"), col("base"))
    }),

    // S4 BAM ingest: the q_sam_dist pipeline, but routed through a real
    // binary round-trip — SAM frame → distributed BGZF/BAM sink (one shard
    // per partition) → binary BAM source → fromSam. Shares q_sam_dist's
    // oracle, so the decoder's coordinate contract (BAM 0-based pos + 1 on
    // ingest, seqtables.py:266) is hash-checked, not just unit-tested.
    "q_bam_dist" -> ((s, dir) => {
      val sam = samFrame(s, dir, "20M")
        .withColumn("flag", lit(0)).withColumn("mapq", lit(60))
        .withColumn("rnext", lit("*")).withColumn("pnext", lit(0))
        .withColumn("tlen", lit(0))
      val tmp = s"/tmp/graft_bam_fixture/${new java.io.File(dir).getName}"
      // two big shards with small (4 KiB) BGZF blocks, read through 16 KiB
      // splits: at the sf0.01 gate each shard spans >=4 splits, so block
      // sync + record resync run under the oracle hash — not just the
      // happy single-split case. (32 tiny default shards would each fit
      // one split and never exercise the path; 4 KiB splits at sf0.1 paid
      // ~5 ms/task overhead for no extra coverage.)
      graft.io.Bam.write(sam.coalesce(2), tmp, blockData = 4096)
      val st = SeqTable.fromSam(graft.io.Bam.read(s, tmp, splitSize = 16384))
      Distributions.seqDist(st.long.filter(col("base") =!= "$"))
        .orderBy(col("position"), col("base"))
    }),

    // Indexed region fetch under the oracle (round 3): coordinate-sorted
    // single-shard BAM, indexed as Bam.write writes it →
    // Bam.fetch("ref1", 1, 12) → the q_sam_dist pipeline over only the
    // overlapping reads. Every read
    // spans 20 bases, so "overlaps [1,12]" is exactly pos <= 12 — the
    // oracle filters the same predicate, hash-checking the whole
    // .bai path (binning, chunk merge, virtual-offset seek, overlap
    // filter), not just its unit tests.
    "q_bam_fetch" -> ((s, dir) => {
      val sam = samFrame(s, dir, "20M")
        .withColumn("flag", lit(0)).withColumn("mapq", lit(60))
        .withColumn("rnext", lit("*")).withColumn("pnext", lit(0))
        .withColumn("tlen", lit(0))
      val tmp = s"/tmp/graft_bam_fetch/${new java.io.File(dir).getName}"
      // .bai requires coordinate order. coalesce(1) is the single-shard
      // FIXTURE path only — the production layout is
      // Bam.writeSharded (range-partitioned coordinate-sorted shards,
      // one .bai each) + Bam.fetch over the directory (driver-side .bai
      // prune, then one job of byte-range reads of the surviving chunks
      // only), spec-pinned against the full-scan filter in BamScanSpec.
      // Do NOT copy this coalesce into a production layout.
      graft.io.Bam.write(
        sam.coalesce(1).sortWithinPartitions("rname", "pos"),
        tmp, blockData = 4096)
      val bam = new java.io.File(tmp).listFiles()
        .map(_.getAbsolutePath).filter(_.endsWith(".bam")).head
      val st = SeqTable.fromSam(graft.io.Bam.fetch(s, bam, "ref1", 1, 12))
      Distributions.seqDist(st.long.filter(col("base") =!= "$"))
        .orderBy(col("position"), col("base"))
    }),

    // The PRODUCTION sharded layout under the oracle (round 8): the same
    // reads range-partitioned into 4 coordinate-sorted shards via
    // writeSharded (one .bai each), region-fetched through
    // SeqTable.fromBam(dir, region) — the same Bam.fetch as q_bam_fetch,
    // here over four shards: a driver-side .bai prune per shard, then one
    // job of byte-range chunk reads. Many reads share each start here, and
    // the range key's read-name tie-break spreads them, so the region's
    // reads span several shards that share boundary positions — the fetch
    // must not assume disjoint shard ranges. Same oracle as q_bam_fetch,
    // so the multi-shard path (shard pruning, per-shard binning, chunk
    // merge) is hash-checked end to end, not just spec-pinned.
    "q_bam_fetch_sharded" -> ((s, dir) => {
      val sam = samFrame(s, dir, "20M")
        .withColumn("flag", lit(0)).withColumn("mapq", lit(60))
        .withColumn("rnext", lit("*")).withColumn("pnext", lit(0))
        .withColumn("tlen", lit(0))
      val tmp = s"/tmp/graft_bam_fetch_sharded/${new java.io.File(dir).getName}"
      graft.io.Bam.writeSharded(sam, tmp, nShards = 4, blockData = 4096)
      val st = graft.core.SeqTable.fromBam(s, tmp, region = Some(("ref1", 1, 12)))
      Distributions.seqDist(st.long.filter(col("base") =!= "$"))
        .orderBy(col("position"), col("base"))
    }),

    // read_info carry-through (constructor_ops.py:184-187): optional SAM
    // fields (mapq, TAG:TYPE:VALUE map) ride through fromSam on the reads
    // frame and are filterable/aggregatable downstream.
    "q_sam_read_info" -> ((s, dir) => {
      val sam = Tables(s, dir, "documents").select(
        concat(lit("d"), col("doc_id")).as("header"),
        lit("ref1").as("rname"),
        (pmod(col("doc_id"), lit(20)) + 1).cast("int").as("pos"),
        lit("20M").as("cigar"),
        translate(rpad(substring(col("text"), 1, 20), 20, "a"),
          NtMap._1, NtMap._2).as("seq"),
        lit("*").as("qual"),
        (pmod(col("doc_id"), lit(60)) + 1).cast("int").as("mapq"),
        map(lit("NM"), pmod(col("doc_id"), lit(7)).cast("string")).as("opt"))
      val st = SeqTable.fromSam(sam)
      st.reads
        .withColumn("nm", element_at(col("opt"), "NM").cast("bigint"))
        .filter(col("nm") <= 3)
        .groupBy(col("nm"))
        .agg(count(lit(1)).as("n_reads"), min(col("read_id")).as("first_read"),
          round(avg(col("mapq")), 6).as("avg_mapq"))
        .orderBy(col("nm"))
    }),

    // T1 insertion path + A5: per-(position, loc) insertion letter counts.
    "q_sam_insertions" -> ((s, dir) => {
      val st = SeqTable.fromSam(samFrame(s, dir, "5M2I13M"))
      InsertionStats.seqDist(st.insertions)
        .orderBy(col("position"), col("loc"), col("base"))
    }),

    // V1: dense + insertion cells unioned on the (position, loc) key.
    "q_view_ins_dist" -> ((s, dir) => {
      val st = SeqTable.fromSam(samFrame(s, dir, "5M2I13M"))
      st.viewWithInsertions()
        .groupBy(col("position"), col("loc"), col("base"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("position"), col("loc"), col("base"))
    }),

    // U1 axis-0 merge: two half-window tables stacked over the union window.
    "q_merge_stack" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      def half(prefix: String, from: Int, pos: Int) = SeqTable(
        docs.select(
          concat(lit(prefix), col("doc_id")).as("read_id"),
          rpad(substring(col("text"), from, 15), 15, "X").as("seq"),
          lit("!" * 15).as("qual")),
        SeqTable.emptyInsertions(s),
        graft.model.SeqTableMeta("AA"), pos, pos + 14)
      Merge.stackReads(Seq(half("a", 1, 1), half("b", 16, 16)))
        .reads.select(col("read_id"), col("seq"))
        .orderBy(col("read_id"))
    }),

    // U1 axis-1 merge: outer-align two tables on read_id, later-wins
    // overlay over the later window — doc text split into [1,20] and
    // [21,40] slices whose merge reconstructs chars 1-10 + 21-40.
    "q_merge_align" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      def slice(from: Int, pos: Int) = SeqTable(
        docs.select(
          col("doc_id").cast("string").as("read_id"),
          rpad(substring(col("text"), from, 20), 20, "X").as("seq"),
          lit("!" * 20).as("qual")),
        SeqTable.emptyInsertions(s),
        graft.model.SeqTableMeta("AA"), pos, pos + 19)
      Merge.alignReads(slice(1, 1), slice(21, 11))
        .reads.select(col("read_id"), col("seq"))
        .orderBy(col("read_id"))
    }),

    // J4 all-pairs hamming on a bounded subset (exact mode; the scale path
    // is the LSH family in Pipeline).
    "q_pairwise_hamming" -> ((s, dir) => {
      val reads = Tables(s, dir, "documents")
        .filter(col("doc_id") < 40)
        .select(col("doc_id").cast("string").as("read_id"),
          rpad(substring(col("text"), 1, 30), 30, "X").as("seq"))
      Compare.pairwiseHamming(reads)
        .select(col("read_id_a"), col("read_id_b"), col("dist").cast("long").as("dist"))
        .orderBy(col("read_id_a"), col("read_id_b"))
    }),

    // F2 via the registered SQL surface: global codon usage.
    "q_codon_usage" -> ((s, dir) => {
      SeqFunctions.register(s)
      samFrame(s, dir, "20M").createOrReplaceTempView("sam_nt")
      s.sql("""
        SELECT codon, COUNT(*) AS cnt FROM (
          SELECT explode(get_codons(seq)) AS codon FROM sam_nt)
        GROUP BY codon ORDER BY codon""")
    }),

    // A2 quality stats per position bin, including the program-required
    // percentile union {0,10,25,50,75,90,100} (ref numpy_ops.py:246) —
    // Spark's exact `percentile` interpolates like numpy/DuckDB
    // quantile_cont, so the percentile columns are oracle-checked too.
    "q_quality_dist" -> ((s, dir) => {
      val reads = Tables(s, dir, "documents").select(
        col("doc_id").cast("string").as("read_id"),
        rpad(substring(col("text"), 1, 30), 30, "X").as("seq"),
        concat_ws("",
          transform(sequence(lit(1), lit(30)),
            p => chr(lit(33) + pmod(col("doc_id") + p, lit(40))))).as("qual"))
      val st = SeqTable(reads, SeqTable.emptyInsertions(s),
        graft.model.SeqTableMeta("AA", hasQuality = true), 1, 30)
      QualityDist(st.long, QualityDist.evenBins(1, 30, 3))
        .select(Seq(col("bin_label"), col("n"), round(col("mean"), 6).as("mean"),
          col("min"), col("max")) ++
          QualityDist.ProgramRequired.map(p =>
            round(col(s"p${p.toInt}"), 6).as(s"p${p.toInt}")): _*)
        .orderBy(col("bin_label"))
    }),

    // A9 pLogo statistic over the distribution (binomial log-odds; not
    // SQL-expressible — rows-only at the driver, but integer counts +
    // per-row CDF make it deterministic, so the output hash is
    // golden-pinned per sf (GoldenGate, applied by SparkEntry); the
    // arithmetic itself is pinned by DistributionsSpec).
    "q_plogo" -> ((s, dir) => {
      val st = SeqTable.fromSam(samFrame(s, dir, "20M"))
      Distributions.plogo(st.long.filter(col("base") =!= "$"), backgroundFreq = 0.25)
        .orderBy(col("position"), col("base"))
    }),

    // J6 transition/transversion profile vs the doc-0 NT reference.
    "q_tstv" -> ((s, dir) => {
      val st = SeqTable.fromSam(samFrame(s, dir, "20M"))
      val ref0 = samFrame(s, dir, "20M").filter(col("header") === "d0")
        .select(col("seq"), col("pos")).head()
      Compare.tsTvProfile(
        st.long.filter(col("base") =!= "$"),
        Seq(graft.ops.RefSeq("d0", ref0.getString(0), ref0.getInt(1))))
        .select(round(col("ts_freq"), 6).as("ts_freq"),
          round(col("tv_freq"), 6).as("tv_freq"),
          round(col("ratio"), 6).as("ratio"))
    }),

    // A6 information content per position (small-sample corrected bits).
    "q_bits" -> ((s, dir) => {
      val st = SeqTable.fromSam(samFrame(s, dir, "20M"))
      Distributions.bits(st.long.filter(col("base") =!= "$"), alphabetSize = 4)
        .select(col("position"), round(col("bits"), 6).as("bits"))
        .orderBy(col("position"))
    }),

    // A8 KL divergence vs the uniform ACGT background.
    "q_rel_entropy" -> ((s, dir) => {
      val st = SeqTable.fromSam(samFrame(s, dir, "20M"))
      Distributions.relativeEntropy(st.long.filter(col("base") =!= "$"), alphabetSize = 4)
        .select(col("position"), round(col("rel_entropy"), 6).as("rel_entropy"))
        .orderBy(col("position"))
    }),

    // F3 IUPAC degenerate-pattern search: reads whose NT matches ACNGT
    // anywhere (regex expanded by seq_to_regex on both sides).
    "q_regex_match" -> ((s, dir) => {
      val pattern = graft.model.Alphabets.seqToRegex("ACNGT")
      samFrame(s, dir, "20M")
        .filter(col("seq").rlike(pattern))
        .select(col("header").as("read_id"))
        .orderBy(col("read_id"))
    }),

    // F8 breakdown_bits: synthesized flags (doc_id mod 4096) exploded into
    // their set SAM flag bits, counted per bit position.
    "q_flag_bits" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(pmod(col("doc_id"), lit(4096)).cast("int").as("flag"))
        .select(explode(graft.io.Sam.breakdownBits("flag")).as("bit"))
        .groupBy(col("bit"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bit")))
  )

  val oracle: Map[String, String] = Map(
    "q_sam_dist" ->
      s"""WITH $sqlNts
         |SELECT pos + gs.i - 1 AS position, substring(nt, gs.i, 1) AS base, COUNT(*) AS cnt
         |FROM nts CROSS JOIN generate_series(1, 20) AS gs(i)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_sam_read_info" ->
      """SELECT doc_id % 7 AS nm, COUNT(*) AS n_reads,
        |  MIN('d' || doc_id) AS first_read,
        |  round(AVG(doc_id % 60 + 1), 6) AS avg_mapq
        |FROM documents WHERE doc_id % 7 <= 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical to q_sam_dist: the BAM binary round-trip must be invisible
    "q_bam_dist" ->
      s"""WITH $sqlNts
         |SELECT pos + gs.i - 1 AS position, substring(nt, gs.i, 1) AS base, COUNT(*) AS cnt
         |FROM nts CROSS JOIN generate_series(1, 20) AS gs(i)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q_sam_dist restricted to the fetched region: 20-base reads overlap
    // [1,12] iff pos <= 12, so the .bai fetch must reproduce exactly this
    "q_bam_fetch" ->
      s"""WITH $sqlNts
         |SELECT pos + gs.i - 1 AS position, substring(nt, gs.i, 1) AS base, COUNT(*) AS cnt
         |FROM nts CROSS JOIN generate_series(1, 20) AS gs(i)
         |WHERE pos <= 12
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // identical region semantics through the sharded production layout:
    // writeSharded + a directory fetch must reproduce the single-shard fetch
    "q_bam_fetch_sharded" ->
      s"""WITH $sqlNts
         |SELECT pos + gs.i - 1 AS position, substring(nt, gs.i, 1) AS base, COUNT(*) AS cnt
         |FROM nts CROSS JOIN generate_series(1, 20) AS gs(i)
         |WHERE pos <= 12
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_sam_insertions" ->
      s"""WITH $sqlNts
         |SELECT pos + 5 AS position, v.loc, substring(nt, 8 + v.loc, 1) AS base, COUNT(*) AS cnt
         |FROM nts CROSS JOIN (VALUES (-2), (-1)) AS v(loc)
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q_view_ins_dist" ->
      s"""WITH $sqlNts,
         |dense AS (
         |  SELECT gs.p AS position, 0 AS loc,
         |    CASE WHEN gs.p BETWEEN pos AND pos + 4 THEN substring(nt, gs.p - pos + 1, 1)
         |         WHEN gs.p BETWEEN pos + 5 AND pos + 17 THEN substring(nt, gs.p - pos + 3, 1)
         |         ELSE '$$' END AS base
         |  FROM nts CROSS JOIN generate_series(1, 37) AS gs(p)),
         |ins AS (
         |  SELECT pos + 5 AS position, v.loc, substring(nt, 8 + v.loc, 1) AS base
         |  FROM nts CROSS JOIN (VALUES (-2), (-1)) AS v(loc))
         |SELECT position, loc, base, COUNT(*) AS cnt FROM (
         |  SELECT * FROM dense UNION ALL SELECT * FROM ins) t
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q_merge_stack" ->
      """SELECT read_id, seq FROM (
        |  SELECT 'a' || doc_id AS read_id,
        |    rpad(substring(text, 1, 15), 15, 'X') || repeat('-', 15) AS seq
        |  FROM documents
        |  UNION ALL
        |  SELECT 'b' || doc_id AS read_id,
        |    repeat('-', 15) || rpad(substring(text, 16, 15), 15, 'X') AS seq
        |  FROM documents) t
        |ORDER BY read_id""".stripMargin,
    "q_merge_align" ->
      """SELECT CAST(doc_id AS VARCHAR) AS read_id,
        |  substring(rpad(substring(text, 1, 20), 20, 'X'), 1, 10) ||
        |  rpad(substring(text, 21, 20), 20, 'X') AS seq
        |FROM documents ORDER BY read_id""".stripMargin,
    "q_pairwise_hamming" ->
      """WITH r AS (
        |  SELECT doc_id, rpad(substring(text, 1, 30), 30, 'X') AS seq
        |  FROM documents WHERE doc_id < 40)
        |SELECT CAST(a.doc_id AS VARCHAR) AS read_id_a,
        |  CAST(b.doc_id AS VARCHAR) AS read_id_b,
        |  CAST(SUM(CASE WHEN substring(a.seq, gs.i, 1) <> substring(b.seq, gs.i, 1)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS dist
        |FROM r a JOIN r b ON CAST(a.doc_id AS VARCHAR) < CAST(b.doc_id AS VARCHAR)
        |CROSS JOIN generate_series(1, 30) AS gs(i)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_codon_usage" ->
      s"""WITH $sqlNts,
         |split AS (
         |  SELECT substring(nt, (gs.i - 1) * 3 + 1, 3) AS codon
         |  FROM nts CROSS JOIN generate_series(1, 6) AS gs(i))
         |SELECT codon, COUNT(*) AS cnt FROM split
         |GROUP BY codon ORDER BY codon""".stripMargin,
    "q_tstv" ->
      s"""WITH $sqlNts,
         |ref0 AS (SELECT nt AS rnt FROM nts WHERE doc_id = 0),
         |cells AS (
         |  SELECT d.pos + gs.i - 1 AS position, substring(d.nt, gs.i, 1) AS read_base
         |  FROM nts d CROSS JOIN generate_series(1, 20) AS gs(i)),
         |ev AS (
         |  SELECT substring(r.rnt, c.position, 1) AS ref_base, c.read_base
         |  FROM cells c, ref0 r
         |  WHERE c.position BETWEEN 1 AND 20
         |    AND substring(r.rnt, c.position, 1) <> c.read_base),
         |agg AS (
         |  SELECT
         |    SUM(CASE WHEN ref_base || read_base IN ('AG','GA','CT','TC') THEN 1 ELSE 0 END)::DOUBLE AS ts,
         |    SUM(CASE WHEN ref_base || read_base IN ('AG','GA','CT','TC') THEN 0 ELSE 1 END)::DOUBLE AS tv
         |  FROM ev)
         |SELECT round(ts / (ts + tv), 6) AS ts_freq,
         |  round(tv / (ts + tv), 6) AS tv_freq,
         |  round((ts / (ts + tv)) / (tv / (ts + tv)), 6) AS ratio
         |FROM agg""".stripMargin,
    "q_bits" ->
      s"""WITH $sqlNts,
         |c AS (
         |  SELECT pos + gs.i - 1 AS position, substring(nt, gs.i, 1) AS base, COUNT(*) AS cnt
         |  FROM nts CROSS JOIN generate_series(1, 20) AS gs(i) GROUP BY 1, 2),
         |f AS (SELECT position, cnt::DOUBLE / SUM(cnt) OVER (PARTITION BY position) AS freq FROM c),
         |h AS (SELECT position, -SUM(freq * ln(freq) / ln(2)) AS entropy FROM f GROUP BY position),
         |n AS (SELECT position, SUM(cnt) AS n FROM c GROUP BY position)
         |SELECT h.position,
         |  round(greatest(0.0, 2.0 - (h.entropy + 3.0 / (2 * ln(2) * n.n))), 6) AS bits
         |FROM h JOIN n ON h.position = n.position
         |ORDER BY h.position""".stripMargin,
    "q_rel_entropy" ->
      s"""WITH $sqlNts,
         |c AS (
         |  SELECT pos + gs.i - 1 AS position, substring(nt, gs.i, 1) AS base, COUNT(*) AS cnt
         |  FROM nts CROSS JOIN generate_series(1, 20) AS gs(i) GROUP BY 1, 2),
         |f AS (SELECT position, cnt::DOUBLE / SUM(cnt) OVER (PARTITION BY position) AS freq FROM c)
         |SELECT position, round(SUM(freq * ln(freq / 0.25) / ln(2)), 6) AS rel_entropy
         |FROM f GROUP BY position ORDER BY position""".stripMargin,
    "q_regex_match" ->
      s"""WITH $sqlNts
         |SELECT 'd' || doc_id AS read_id FROM nts
         |WHERE regexp_matches(nt, '${graft.model.Alphabets.seqToRegex("ACNGT")}')
         |ORDER BY read_id""".stripMargin,
    "q_quality_dist" ->
      """WITH bins(bin_label, lo, hi) AS (VALUES ('1-10', 1, 10), ('11-20', 11, 20), ('21-30', 21, 30)),
        |q AS (
        |  SELECT d.doc_id, gs.p AS position, (d.doc_id + gs.p) % 40 AS qual
        |  FROM documents d CROSS JOIN generate_series(1, 30) AS gs(p))
        |SELECT bin_label, COUNT(*) AS n, round(AVG(qual), 6) AS mean,
        |  MIN(qual) AS min, MAX(qual) AS max,
        |  round(quantile_cont(qual, 0.00), 6) AS p0,
        |  round(quantile_cont(qual, 0.10), 6) AS p10,
        |  round(quantile_cont(qual, 0.25), 6) AS p25,
        |  round(quantile_cont(qual, 0.50), 6) AS p50,
        |  round(quantile_cont(qual, 0.75), 6) AS p75,
        |  round(quantile_cont(qual, 0.90), 6) AS p90,
        |  round(quantile_cont(qual, 1.00), 6) AS p100
        |FROM q JOIN bins ON q.position BETWEEN lo AND hi
        |WHERE qual > 0
        |GROUP BY bin_label ORDER BY bin_label""".stripMargin,
    "q_flag_bits" ->
      """SELECT CAST(b AS INT) AS bit, COUNT(*) AS n
        |FROM documents CROSS JOIN range(0, 12) t(b)
        |WHERE ((doc_id % 4096) >> b) & 1 = 1
        |GROUP BY b ORDER BY bit""".stripMargin
  )
}
