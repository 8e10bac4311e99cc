package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.SeqTable
import graft.model.{CodonTable, SeqTableMeta}
import graft.ops.{Compare, Distributions, Kmers, RefSeq}

/** SURVEY §2 sequence-domain operators exercised end-to-end over the driver
  * testdata, with DuckDB oracles.
  *
  * The `documents` table stands in for a read set: the first `W` characters
  * of `text` are the aligned window (padded with 'X' where shorter — none
  * are), and a deterministic synthetic phred string exercises the quality
  * plane, mirroring how the reference fabricates quality in its in-silica
  * generators (ref: insilica_sequences.py:112-137). Every query goes through
  * the real SeqTable wide→long path so the oracle checks the whole pipeline,
  * not just the final aggregate.
  */
object SeqDomain {

  private val W = 30 // analysis window [1, W]

  /** documents → SeqTable with deterministic synthetic quality:
    * phred(read, pos) = (doc_id + pos) % 40, encoded at +33.
    */
  private def docTable(s: SparkSession, dir: String): SeqTable = {
    val reads = Tables(s, dir, "documents").select(
      col("doc_id").cast("string").as("read_id"),
      rpad(substring(col("text"), 1, W), W, "X").as("seq"),
      concat_ws("",
        transform(sequence(lit(1), lit(W)),
          p => chr(lit(33) + pmod(col("doc_id") + p, lit(40))))).as("qual"))
    SeqTable(reads, SeqTable.emptyInsertions(s),
      SeqTableMeta("AA", hasQuality = true), 1, W)
  }

  /** The padded window expression, in DuckDB SQL. */
  private val sqlSeq = s"rpad(substring(d.text, 1, $W), $W, 'X')"

  /** doc 0's text as the comparison reference (driver-side single-row
    * lookup — reference sets are small by construction, SURVEY §2.4).
    */
  private def doc0Ref(s: SparkSession, dir: String): RefSeq = {
    val t = Tables(s, dir, "documents").filter(col("doc_id") === 0)
      .select(rpad(substring(col("text"), 1, W), W, "X")).head().getString(0)
    RefSeq("doc0", t, 1)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1 per-position letter distribution through the wide→long explode.
    "q_seq_dist" -> ((s, dir) =>
      Distributions.seqDist(docTable(s, dir).long)
        .orderBy(col("position"), col("base"))),

    // A3 consensus (modal letter per position).
    "q_consensus" -> ((s, dir) =>
      Distributions.consensus(docTable(s, dir).long)
        .orderBy(col("position"))),

    // P1 sel/isel positional slice: restrict the table to window [5, 15],
    // then the A1 distribution — checks the slice bound propagation
    // through the wide→long path.
    "q_slice_dist" -> ((s, dir) =>
      Distributions.seqDist(docTable(s, dir).slicePositions(5, 15).long)
        .orderBy(col("position"), col("base"))),

    // A7 per-position Shannon entropy (bits).
    "q_entropy" -> ((s, dir) =>
      Distributions.entropy(docTable(s, dir).long)
        .select(col("position"), round(col("entropy"), 6).as("entropy"))
        .orderBy(col("position"))),

    // J1-J3 hamming distance vs a driver-held reference (a literal lookup).
    "q_hamming_doc0" -> ((s, dir) =>
      Compare.hammingDistance(docTable(s, dir).long, Seq(doc0Ref(s, dir)))
        .orderBy(col("read_id"))),

    // J5 mutation profile (ref base → read base counts) vs doc0.
    "q_mutation_profile" -> ((s, dir) =>
      Compare.mutationProfile(docTable(s, dir).long, Seq(doc0Ref(s, dir)))
        .orderBy(col("ref_base"), col("read_base"))),

    // A4 contiguous 3-mer counts by start position.
    "q_kmer3" -> ((s, dir) =>
      Kmers.contiguous(docTable(s, dir).reads, 3, 1)
        .orderBy(col("start_position"), col("kmer"))),

    // P4 quality filter: ≥50% of non-null-quality bases at phred ≥20.
    "q_quality_filter" -> ((s, dir) =>
      docTable(s, dir).qualityFilter(20, 50.0).reads
        .select(col("read_id")).orderBy(col("read_id"))),

    // P5 low-quality masking (phred < 12 → fill) then A1 distribution —
    // exercises the mask + re-aggregate composition.
    "q_mask_dist" -> ((s, dir) =>
      Distributions.seqDist(
        docTable(s, dir).convertLowBasesToNull(12).long)
        .orderBy(col("position"), col("base"))),

    // V2 re-stringify a range extending past the window (right-pad fill).
    "q_slice_sequences" -> ((s, dir) =>
      docTable(s, dir).sliceSequences(11, 35)
        .select(col("read_id"), col("subseq"))
        .orderBy(col("read_id"))),

    // F1 NT→AA translation: deterministic char→base map, then the codon
    // table UDF over 10 codons.
    "q_translate" -> ((s, dir) => {
      val toNt = translate(
        rpad(substring(col("text"), 1, W), W, "a"),
        " abcdefghijklmnopqrstuvwy", "ACGTACGTACGTACGTACGTACGTA")
      val tr = udf((nt: String) => CodonTable.translate(nt))
      Tables(s, dir, "documents")
        .select(col("doc_id").cast("string").as("read_id"), tr(toNt).as("aa"))
        .orderBy(col("read_id"))
    }),

    // J7 PWM score: weights w(p, c) = ((p*31 + ascii(c)) % 10 + 1) / 10,
    // Σ log w over the window.
    "q_pwm_score" -> ((s, dir) => {
      val chars = " abcdefghijklmnopqrstuvwyX".map(_.toString)
      val pwm = s.createDataFrame(
        for { p <- 1 to W; c <- chars }
          yield (p, c, ((p * 31 + c.head.toInt) % 10 + 1) / 10.0)
      ).toDF("position", "base", "weight")
      Compare.pwmScore(docTable(s, dir).long, pwm)
        .select(col("read_id"), round(col("score"), 6).as("score"))
        .orderBy(col("read_id"))
    })
  )

  private val codonValues = CodonTable.Standard
    .filterNot(_._1.contains('N')) // synthetic NT has no wildcards
    .toSeq.sorted
    .map { case (c, aa) => s"('$c','${if (aa == '*') "*" else aa}')" }
    .mkString(", ")

  val oracle: Map[String, String] = Map(
    "q_seq_dist" ->
      s"""SELECT gs.pos AS position, substring($sqlSeq, gs.pos, 1) AS base, COUNT(*) AS cnt
         |FROM documents d CROSS JOIN generate_series(1, $W) AS gs(pos)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_slice_dist" ->
      s"""SELECT gs.pos AS position, substring($sqlSeq, gs.pos, 1) AS base, COUNT(*) AS cnt
         |FROM documents d CROSS JOIN generate_series(5, 15) AS gs(pos)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_consensus" ->
      s"""WITH c AS (
         |  SELECT gs.pos AS position, substring($sqlSeq, gs.pos, 1) AS base, COUNT(*) AS cnt
         |  FROM documents d CROSS JOIN generate_series(1, $W) AS gs(pos) GROUP BY 1, 2)
         |SELECT position, base FROM (
         |  SELECT position, base, ROW_NUMBER() OVER (PARTITION BY position ORDER BY cnt DESC, base) AS rn
         |  FROM c) t WHERE rn = 1 ORDER BY position""".stripMargin,
    "q_entropy" ->
      s"""WITH c AS (
         |  SELECT gs.pos AS position, substring($sqlSeq, gs.pos, 1) AS base, COUNT(*) AS cnt
         |  FROM documents d CROSS JOIN generate_series(1, $W) AS gs(pos) GROUP BY 1, 2),
         |f AS (SELECT position, cnt::DOUBLE / SUM(cnt) OVER (PARTITION BY position) AS freq FROM c)
         |SELECT position, round(-SUM(freq * log2(freq)), 6) AS entropy
         |FROM f GROUP BY position ORDER BY position""".stripMargin,
    "q_hamming_doc0" ->
      s"""SELECT CAST(d.doc_id AS VARCHAR) AS read_id, 'doc0' AS ref_name,
         |  CAST(SUM(CASE WHEN substring($sqlSeq, gs.pos, 1) <>
         |    substring(rpad(substring(d0.text, 1, $W), $W, 'X'), gs.pos, 1) THEN 1 ELSE 0 END) AS DOUBLE) AS dist
         |FROM documents d
         |CROSS JOIN generate_series(1, $W) AS gs(pos)
         |JOIN documents d0 ON d0.doc_id = 0
         |GROUP BY 1, 2 ORDER BY read_id""".stripMargin,
    "q_mutation_profile" ->
      s"""SELECT 'doc0' AS ref_name,
         |  substring(rpad(substring(d0.text, 1, $W), $W, 'X'), gs.pos, 1) AS ref_base,
         |  substring($sqlSeq, gs.pos, 1) AS read_base,
         |  COUNT(*) AS cnt
         |FROM documents d
         |CROSS JOIN generate_series(1, $W) AS gs(pos)
         |JOIN documents d0 ON d0.doc_id = 0
         |WHERE substring($sqlSeq, gs.pos, 1) <> substring(rpad(substring(d0.text, 1, $W), $W, 'X'), gs.pos, 1)
         |GROUP BY 1, 2, 3 ORDER BY ref_base, read_base""".stripMargin,
    "q_kmer3" ->
      s"""SELECT gs.pos AS start_position, substring($sqlSeq, gs.pos, 3) AS kmer, COUNT(*) AS cnt
         |FROM documents d CROSS JOIN generate_series(1, ${W - 2}) AS gs(pos)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_quality_filter" ->
      s"""SELECT read_id FROM (
         |  SELECT CAST(d.doc_id AS VARCHAR) AS read_id,
         |    SUM(CASE WHEN (d.doc_id + gs.pos) % 40 >= 20 THEN 1 ELSE 0 END) AS good,
         |    SUM(CASE WHEN (d.doc_id + gs.pos) % 40 > 0 THEN 1 ELSE 0 END) AS denom
         |  FROM documents d CROSS JOIN generate_series(1, $W) AS gs(pos)
         |  GROUP BY 1) t
         |WHERE good * 100 >= 50 * denom ORDER BY read_id""".stripMargin,
    "q_mask_dist" ->
      s"""SELECT gs.pos AS position,
         |  CASE WHEN (d.doc_id + gs.pos) % 40 < 12 AND (d.doc_id + gs.pos) % 40 > 0
         |    THEN 'X' ELSE substring($sqlSeq, gs.pos, 1) END AS base,
         |  COUNT(*) AS cnt
         |FROM documents d CROSS JOIN generate_series(1, $W) AS gs(pos)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_slice_sequences" ->
      s"""SELECT CAST(doc_id AS VARCHAR) AS read_id,
         |  substring(rpad(substring(text, 1, $W), $W, 'X'), 11, 20) || repeat('X', 5) AS subseq
         |FROM documents ORDER BY read_id""".stripMargin,
    "q_translate" ->
      s"""WITH codons(c, aa) AS (VALUES $codonValues),
         |nts AS (
         |  SELECT doc_id, translate(rpad(substring(text, 1, $W), $W, 'a'),
         |    ' abcdefghijklmnopqrstuvwy', 'ACGTACGTACGTACGTACGTACGTA') AS nt
         |  FROM documents),
         |split AS (
         |  SELECT doc_id, gs.i, substring(nt, (gs.i - 1) * 3 + 1, 3) AS c
         |  FROM nts CROSS JOIN generate_series(1, ${W / 3}) AS gs(i))
         |SELECT CAST(doc_id AS VARCHAR) AS read_id, string_agg(aa, '' ORDER BY i) AS aa
         |FROM split JOIN codons USING (c)
         |GROUP BY doc_id ORDER BY read_id""".stripMargin,
    "q_pwm_score" ->
      s"""SELECT CAST(d.doc_id AS VARCHAR) AS read_id,
         |  round(SUM(ln(((gs.pos * 31 + ord(substring($sqlSeq, gs.pos, 1))) % 10 + 1) / 10.0)), 6) AS score
         |FROM documents d CROSS JOIN generate_series(1, $W) AS gs(pos)
         |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
