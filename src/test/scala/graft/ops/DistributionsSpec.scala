package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.SeqTable

class DistributionsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val st = SeqTable.fromReads(spark, Seq(
    ("r1", "AAGT", null), ("r2", "ACGT", null),
    ("r3", "ACGA", null), ("r4", "TCGA", null)))

  test("seqDist counts per (position, base)") {
    val d = Distributions.seqDist(st.long)
      .collect().map(r => ((r.getInt(0), r.getString(1)), r.getLong(2))).toMap
    assert(d((1, "A")) == 3 && d((1, "T")) == 1)
    assert(d((2, "C")) == 3 && d((2, "A")) == 1)
    assert(d((3, "G")) == 4)
    assert(d((4, "T")) == 2 && d((4, "A")) == 2)
  }

  test("seqDist honors ignore and per-read weights") {
    import spark.implicits._
    val w = Seq(("r1", 10.0), ("r2", 1.0), ("r3", 1.0), ("r4", 1.0))
      .toDF("read_id", "weight")
    val d = Distributions.seqDist(st.long, weights = Some(w))
      .collect().map(r => ((r.getInt(0), r.getString(1)), r.getDouble(2))).toMap
    assert(d((1, "A")) == 12.0)
    val ign = Distributions.seqDist(st.long, ignoreChars = Seq('A'))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(!ign.exists(_._2 == "A"))
  }

  test("consensus picks mode with deterministic ties and cutoff fill") {
    val c = Distributions.consensus(st.long)
      .collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(c(1) == "A" && c(2) == "C" && c(3) == "G")
    assert(c(4) == "A") // tie A/T at 2-2 → lexicographic A
    // a 3/4 majority is still ≤ 80% of total → filled
    val cut = Distributions.consensus(st.long, modeCutoff = 0.8)
      .collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(cut(3) == "G") // 4/4 > 0.8
    assert(cut(1) == "N") // 3/4 ≤ 0.8
    assert(Distributions.consensusString(st.long) == "ACGA")
  }

  test("entropy: uniform column = 2 bits, constant column = 0") {
    val e = Distributions.entropy(st.long)
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
    assert(math.abs(e(3)) < 1e-12) // all G
    assert(math.abs(e(4) - 1.0) < 1e-12) // 2+2 split = 1 bit
    val st2 = SeqTable.fromReads(spark, Seq(
      ("a", "A", null), ("b", "C", null), ("c", "G", null), ("d", "T", null)))
    val e2 = Distributions.entropy(st2.long).head().getDouble(1)
    assert(math.abs(e2 - 2.0) < 1e-12)
  }

  test("bits applies small-sample correction and clamps at 0") {
    val b = Distributions.bits(st.long)
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
    val en = 3.0 / (2 * math.log(2.0) * 4) // (|A|-1)/(2N ln2)
    assert(math.abs(b(3) - (2.0 - en)) < 1e-9) // H=0 at position 3
    assert(b.values.forall(_ >= 0.0))
  }

  test("relative entropy vs uniform background") {
    val re = Distributions.relativeEntropy(st.long)
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
    // position 3: all G → KL = log2(1/0.25) = 2
    assert(math.abs(re(3) - 2.0) < 1e-12)
  }

  test("plogo statistic sign tracks enrichment vs depletion") {
    // strongly enriched: 90 of 100 at p=0.25 → positive;
    // strongly depleted: 2 of 100 → negative
    assert(Distributions.plogoStat(90, 100, 0.25) > 0)
    assert(Distributions.plogoStat(2, 100, 0.25) < 0)
  }

  test("quality dist bins percentiles per position range") {
    val stq = SeqTable.fromReads(spark, Seq(
      ("r1", "ACGT", "!5I5"), ("r2", "ACGT", "55II")))
    val bins = QualityDist(stq.long, Seq((1, 2), (3, 4)))
      .collect().map(r => (r.getString(0), r.getLong(3), r.getDouble(4))).toList
    // bin 1-2: quals r1=(0 excluded),20  r2=20,20 → n=3, mean=20
    assert(bins.head == ("1-2", 3, 20.0))
    // bin 3-4: r1=40,20 r2=40,40 → n=4, mean=35
    assert(bins(1) == ("3-4", 4, 35.0))
  }

  test("reference docstring input golden: quality dist over 3 reads, 2 bins") {
    // Input transcribed from get_quality_dist's docstring
    // (ref: seqtables.py:1350-1360); quality strings truncated to read
    // length (the docstring's 11-char qualities are a typo for 10-char
    // reads). Expectations hand-computed at phred+33.
    val st = SeqTable.fromReads(spark, Seq(
      ("r1", "AAAAAAAAAA", "6AA9-C9--6"),
      ("r2", "AAAAAAAAAC", "6AA!1C9BA6"),
      ("r3", "CCCCCCCCCC", "6AA!!C9!-6")))
    val bins = QualityDist(st.long, Seq((1, 5), (6, 10)))
      .collect().map(r => (r.getString(0),
        (r.getLong(3), r.getDouble(4), r.getInt(6), r.getInt(7)))).toMap
    // bin 1-5: 12 non-null quals, sum 307
    assert(bins("1-5")._1 == 12)
    assert(math.abs(bins("1-5")._2 - 307.0 / 12) < 1e-9)
    assert(bins("1-5")._3 == 12 && bins("1-5")._4 == 32)
    // bin 6-10: 14 non-null quals, sum 338
    assert(bins("6-10")._1 == 14)
    assert(math.abs(bins("6-10")._2 - 338.0 / 14) < 1e-9)
    assert(bins("6-10")._3 == 12 && bins("6-10")._4 == 34)
  }

  test("fastqc bin preset shapes") {
    val b = QualityDist.fastqcBins(320)
    assert(b.take(9) == (1 to 9).map(i => (i, i)))
    assert(b.contains((10, 14)))
    assert(b.contains((300, 309)))
  }

  test("program-required percentiles always present and exact (numpy semantics)") {
    val st = SeqTable.fromReads(spark, Seq(
      ("r1", "AAAA", "#$%&"), ("r2", "AAAA", "'()*"))) // quals 2..9
    val row = QualityDist(st.long, Seq((1, 4))).head()
    val cols = Seq("p0", "p10", "p25", "p50", "p75", "p90", "p100")
    val vals = cols.map(c => row.getDouble(row.fieldIndex(c)))
    // quals are 2,3,4,5,6,7,8,9: numpy linear interpolation percentiles
    assert(vals(0) == 2.0) // p0 = min
    assert(math.abs(vals(1) - 2.7) < 1e-9) // p10: 2 + 0.7*(3-2)
    assert(math.abs(vals(2) - 3.75) < 1e-9) // p25
    assert(math.abs(vals(3) - 5.5) < 1e-9) // p50
    assert(math.abs(vals(4) - 7.25) < 1e-9) // p75
    assert(math.abs(vals(5) - 8.3) < 1e-9) // p90
    assert(vals(6) == 9.0) // p100 = max
    // extra user percentile joins the union without displacing required ones
    val row5 = QualityDist(st.long, Seq((1, 4)), percentiles = Seq(5))
      .head()
    assert(math.abs(row5.getDouble(row5.fieldIndex("p5")) - 2.35) < 1e-9)
  }

  test("boxPlotSample reproduces the reference's 20-point stratum layout") {
    val st = SeqTable.fromReads(spark, Seq(
      ("r1", "AAAA", "#$%&"), ("r2", "AAAA", "'()*")))
    val dist = QualityDist(st.long, Seq((1, 4)))
    val row = QualityDist.boxPlotSample(dist).head()
    val sample = row.getSeq[Double](row.fieldIndex("box_sample"))
    assert(sample.length == 20)
    def p(c: String) = row.getDouble(row.fieldIndex(c))
    // [p10 x3, p25 x4, p50 x6, p75 x4, p90 x3] (ref numpy_ops.py:311-325)
    val expected = Seq.fill(3)(p("p10")) ++ Seq.fill(4)(p("p25")) ++
      Seq.fill(6)(p("p50")) ++ Seq.fill(4)(p("p75")) ++ Seq.fill(3)(p("p90"))
    assert(sample == expected)
  }
}
