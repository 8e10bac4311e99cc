package graft.core

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SeqTableSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("fromReads pads shorter reads and infers seq type") {
    val st = SeqTable.fromReads(spark, Seq(
      ("r1", "ACGT", "IIII"), ("r2", "AC", "IJ")))
    assert(st.meta.seqType == "NT")
    assert(st.minPos == 1 && st.maxPos == 4)
    val rows = st.reads.orderBy("read_id").collect()
    assert(rows(1).getString(1) == "ACNN") // fill letter
    assert(rows(1).getString(2) == "IJ!!") // null quality pad
  }

  test("AA inference for protein alphabets") {
    val st = SeqTable.fromReads(spark, Seq(("r1", "MKVLEW", null)))
    assert(st.meta.seqType == "AA")
  }

  test("long form explodes to (read, position, base, qual)") {
    val st = SeqTable.fromReads(spark, Seq(("r1", "ACG", "!5I")), pos = 10)
    val rows = st.long.orderBy("position").collect()
    assert(rows.map(_.getInt(1)).toSeq == Seq(10, 11, 12))
    assert(rows.map(_.getString(2)).toSeq == Seq("A", "C", "G"))
    // '!'=33 → 0, '5'=53 → 20, 'I'=73 → 40
    assert(rows.map(_.getInt(3)).toSeq == Seq(0, 20, 40))
  }

  test("slicePositions narrows window and insertions") {
    import spark.implicits._
    val st0 = SeqTable.fromReads(spark, Seq(("r1", "ACGTACGT", null)))
    val ins = Seq(("r1", 2, -1, "G", 30), ("r1", 7, -1, "T", 30))
      .toDF("read_id", "position", "loc", "base", "qual")
    val st = st0.copy(insertions = ins).slicePositions(2, 5)
    assert(st.minPos == 2 && st.maxPos == 5)
    assert(st.reads.head().getString(1) == "CGTA")
    assert(st.insertions.collect().map(_.getInt(1)).toSeq == Seq(2))
  }

  test("qualityFilter keeps reads meeting the percent-above-q bar") {
    // r1: quals 40,40,40,40 → 100% ≥ 30; r2: 40,40,0,20 → non-null = 3,
    // ≥30 count = 2 → 66.7%
    val st = SeqTable.fromReads(spark, Seq(
      ("r1", "ACGT", "IIII"), ("r2", "ACGT", "II!5")))
    assert(st.qualityFilter(30, 70).reads.collect().map(_.getString(0)).toSeq == Seq("r1"))
    val both = st.qualityFilter(30, 60).reads.collect().map(_.getString(0)).toSet
    assert(both == Set("r1", "r2"))
    // ignoreNullQual=false counts the '!' in the denominator: 2/4 = 50%
    assert(st.qualityFilter(30, 60, ignoreNullQual = false)
      .reads.collect().map(_.getString(0)).toSeq == Seq("r1"))
  }

  test("convertLowBasesToNull masks 0<q<cutoff only") {
    // quals: 'I'=40, '5'=20, '!'=0 (null quality must NOT be masked)
    val st = SeqTable.fromReads(spark, Seq(("r1", "ACGT", "I5!I")))
    val masked = st.convertLowBasesToNull(30)
    assert(masked.reads.head().getString(1) == "ANGT")
  }

  test("sliceSequences pads beyond-window flanks with fill") {
    val st = SeqTable.fromReads(spark, Seq(("r1", "ACGT", "IIII")), pos = 5)
    val row = st.sliceSequences(3, 10).head()
    assert(row.getString(1) == "NNACGTNN")
    assert(row.getString(2) == "!!IIII!!")
  }

  test("subsample prunes insertions consistently") {
    import spark.implicits._
    val reads = (1 to 100).map(i => (s"r$i", "ACGT", "IIII"))
    val st0 = SeqTable.fromReads(spark, reads)
    val ins = (1 to 100).map(i => (s"r$i", 1, -1, "G", 30))
      .toDF("read_id", "position", "loc", "base", "qual")
    val st = st0.copy(insertions = ins).subsample(0.3, seed = 7)
    val keptReads = st.reads.select("read_id").collect().map(_.getString(0)).toSet
    val keptIns = st.insertions.select("read_id").collect().map(_.getString(0)).toSet
    assert(keptIns == keptReads.intersect(keptIns))
    assert(keptReads.nonEmpty && keptReads.size < 100)
  }

  test("fromSam end-to-end: dense matrix + insertion side-table") {
    import spark.implicits._
    val df = Seq(
      // read A: plain 4M at pos 2
      ("A", "ref1", 2, "4M", "ACGT", "IIII"),
      // read B: insertion of GG anchored left of pos 4
      ("B", "ref1", 1, "3M2I2M", "AAAGGTT", "1234567"),
      // read C: deletion at 3-4
      ("C", "ref1", 2, "1M2D1M", "CA", "89"),
      // read D: unaligned → dropped
      ("D", "*", 0, "*", "TTTT", "IIII")
    ).toDF("header", "rname", "pos", "cigar", "seq", "qual")
    val st = SeqTable.fromSam(df)
    // window: min pos 1; max end = max(2+4-1, 1+5+0-2... , 2+1+2) per cigar math
    assert(st.minPos == 1 && st.maxPos == 5)
    val rows = st.reads.orderBy("read_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows(0) == (("A", "$ACGT", "!IIII")))
    assert(rows(1) == (("B", "AAATT", "12367")))
    assert(rows(2) == (("C", "$C--A", "!8!!9")))
    assert(rows.length == 3)
    val ins = st.insertions.orderBy("loc").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3), r.getInt(4)))
    // GG anchored at ref position 4 (left-of), locs -2 then -1;
    // qual '4'=19, '5'=20 after phred adjust
    assert(ins.toSeq == Seq(("B", 4, -2, "G", 19), ("B", 4, -1, "G", 20)))
    assert(st.meta.references == Seq("ref1"))
  }

  test("fromSam: one scan gives the window and the sorted reference names") {
    import spark.implicits._
    val df = Seq(
      ("A", "refC", 5, "4M", "ACGT", "IIII"),
      ("B", "refA", 2, "4M", "ACGT", "IIII"),
      ("C", "refB", 3, "2M1D2M", "ACGT", "IIII"),
      // placed but not aligned: its contig is named, its span is not windowed
      ("D", "refZ", 900, "*", "ACGT", "IIII"),
      ("E", "*", 0, "*", "TTTT", "IIII")
    ).toDF("header", "rname", "pos", "cigar", "seq", "qual")
    var st: SeqTable = null
    val jobs = TestSpark.jobsRun { st = SeqTable.fromSam(df) }
    assert(jobs == 1, s"fromSam ran $jobs eager jobs")
    assert(st.meta.references == Seq("refA", "refB", "refC", "refZ"))
    assert(st.minPos == 2 && st.maxPos == 8)
    // a given window still names the contigs
    assert(SeqTable.fromSam(df, window = Some((1, 10))).meta.references ==
      Seq("refA", "refB", "refC", "refZ"))
    // at most 100 names, the smallest
    val many = (0 until 150).reverse.map(i => (s"r$i", f"c$i%03d", 1, "4M", "ACGT", "IIII"))
      .toDF("header", "rname", "pos", "cigar", "seq", "qual")
    assert(SeqTable.fromSam(many).meta.references == (0 until 100).map(i => f"c$i%03d"))
  }

  test("subsampleExact: exact count, seeded determinism, insertions pruned") {
    import spark.implicits._
    val df = (0 until 50).map(i => (s"r$i", "ref1", 1,
      if (i % 10 == 0) "2M1I2M" else "5M", "ACGTT", "IIIII"))
      .toDF("header", "rname", "pos", "cigar", "seq", "qual")
    val st = SeqTable.fromSam(df)
    val s1 = st.subsampleExact(12, seed = 7L)
    val s2 = st.subsampleExact(12, seed = 7L)
    assert(s1.reads.count() == 12)
    val ids1 = s1.reads.select("read_id").collect().map(_.getString(0)).toSet
    val ids2 = s2.reads.select("read_id").collect().map(_.getString(0)).toSet
    assert(ids1 == ids2, "same seed must draw the same reads")
    assert(ids1 != st.subsampleExact(12, seed = 8L)
      .reads.select("read_id").collect().map(_.getString(0)).toSet ||
      true) // different seeds usually differ; no hard guarantee
    // insertion table only holds insertions of surviving reads
    val insIds = s1.insertions.select("read_id").distinct()
      .collect().map(_.getString(0)).toSet
    assert(insIds.subsetOf(ids1))
    // partition-invariance of the hash order
    val repart = SeqTable(st.reads.repartition(7), st.insertions, st.meta,
      st.minPos, st.maxPos).subsampleExact(12, seed = 7L)
    assert(repart.reads.select("read_id").collect().map(_.getString(0)).toSet == ids1)
  }

  test("subsampleExact with replacement draws a multiset of size n") {
    import spark.implicits._
    val df = (0 until 5).map(i => (s"r$i", "ACGT", "IIII"))
    val st = SeqTable.fromReads(spark, df)
    val s = st.subsampleExact(20, withReplacement = true, seed = 3L)
    assert(s.reads.count() == 20) // exact n, duplicates allowed
    val distinct = s.reads.select("read_id").distinct().count()
    assert(distinct <= 5 && distinct >= 1)
    assert(s.subsampleExact(20, withReplacement = true, seed = 3L)
      .reads.count() == 20) // deterministic re-draw
  }

  test("subsampleExact with replacement: exact multiset pinned to the seeded RNG") {
    import spark.implicits._
    // independent oracle: rank reads by (xxhash64(seed, read_id), read_id)
    // driver-side, replay the same scala.util.Random index stream, and the
    // drawn multiset must match subsampleExact's output exactly — this pin
    // must survive any re-implementation of the ranking plan
    val df = (0 until 37).map(i => (s"r$i", "ACGT", "IIII"))
    val st = SeqTable.fromReads(spark, df)
    val seed = 42L
    val ordered = st.reads
      .select(col("read_id"), xxhash64(lit(seed), col("read_id")).as("h"))
      .orderBy(col("h"), col("read_id"))
      .collect().map(_.getString(0))
    val rnd = new scala.util.Random(seed)
    val expected = Seq.fill(100)((rnd.nextLong() % 37 + 37) % 37)
      .map(i => ordered(i.toInt))
      .groupBy(identity).view.mapValues(_.size).toMap
    val got = st.subsampleExact(100, withReplacement = true, seed = seed)
      .reads.groupBy("read_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    assert(got == expected)
  }

  test("subsampleExact with replacement keeps mate rows sharing a read_id separately drawable") {
    import spark.implicits._
    // paired-end shape: every read_id appears twice with DIFFERENT seq —
    // collapsing to one representative per read_id would rewrite one mate
    // into copies of the other; the full-row-fingerprint ranking must
    // instead preserve each distinct physical row's identity
    val df = (0 until 8).flatMap(i =>
      Seq((s"q$i", "AAAA", "IIII"), (s"q$i", "TTTT", "IIII")))
    val st = SeqTable.fromReads(spark, df)
    val drawn = st.subsampleExact(64, withReplacement = true, seed = 11L)
      .reads.groupBy("read_id", "seq").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(drawn.values.sum == 64L)
    // both mates of at least one pair must be drawable — under the old
    // read_id collapse, every drawn read_id yielded exactly ONE seq
    val bySeq = drawn.keys.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(bySeq.exists(_._2.size == 2),
      s"no read_id drew both mates — rows were collapsed by read_id: $drawn")
    // determinism across re-draws, including the mate split
    val again = st.subsampleExact(64, withReplacement = true, seed = 11L)
      .reads.groupBy("read_id", "seq").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(again == drawn)
  }

  test("subsampleExact with replacement never plans a single-partition exchange") {
    import spark.implicits._
    val df = (0 until 40).map(i => (s"r$i", "ACGT", "IIII"))
    val st = SeqTable.fromReads(spark, df)
    val plan = st.subsampleExact(10, withReplacement = true, seed = 1L)
      .reads.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"global rank collapsed to one task:\n${plan.take(800)}")
  }

  test("viewWithInsertions lowercase option renders insertion bases ascii+32") {
    import spark.implicits._
    val df = Seq(("B", "ref1", 1, "3M2I2M", "AAAGGTT", "1234567"))
      .toDF("header", "rname", "pos", "cigar", "seq", "qual")
    val st = SeqTable.fromSam(df)
    val v = st.viewWithInsertions(lowercaseInsertions = true)
      .filter(col("loc") < 0).orderBy("loc").collect()
    assert(v.map(_.getString(3)).toSeq == Seq("g", "g"))
    // dense cells stay uppercase
    val dense = st.viewWithInsertions(lowercaseInsertions = true)
      .filter(col("loc") === 0 && col("base") === "A")
    assert(dense.count() == 3)
    val wide = st.viewWithInsertionsWide(lowercaseInsertions = true).head()
    assert(wide.getString(1) == "AAAggTT")
  }

  test("fromSam carries read_info columns and prunes them with reads") {
    import spark.implicits._
    val df = Seq(
      ("A", "ref1", 1, "4M", "ACGT", "IIII", 60, Map("NM" -> "0")),
      ("B", "ref1", 1, "4M", "CCCC", "####", 10, Map("NM" -> "3")), // phred 2
      ("C", "*", 0, "*", "TTTT", "IIII", 0, Map("NM" -> "9"))) // dropped
      .toDF("header", "rname", "pos", "cigar", "seq", "qual", "mapq", "opt")
    val st = SeqTable.fromSam(df)
    assert(st.reads.columns.toSeq ==
      Seq("read_id", "seq", "qual", "mapq", "opt"))
    val byId = st.reads.collect()
      .map(r => r.getString(0) -> (r.getInt(3), r.getMap[String, String](4)("NM")))
      .toMap
    assert(byId == Map("A" -> ((60, "0")), "B" -> ((10, "3"))))
    // filters prune the carried columns with the reads they belong to
    val filtered = st.qualityFilter(q = 20, p = 100.0)
    assert(filtered.reads.select("read_id", "mapq").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq == Seq(("A", 60)))
    // keepReadInfo = false restores the bare frame
    assert(SeqTable.fromSam(df, keepReadInfo = false).reads.columns.toSeq ==
      Seq("read_id", "seq", "qual"))
  }
}

class SeqTableExtrasSpec extends org.scalatest.funsuite.AnyFunSuite {
  private val spark = graft.TestSpark.spark

  test("trimStr pads/trims into the window (T2)") {
    assert(SeqTable.trimStr("ACGT", 3, 1, 8, 'N') == "NNACGTNN")
    assert(SeqTable.trimStr("ACGT", 1, 2, 3, 'N') == "CG")
    assert(SeqTable.trimStr("AC", 5, 1, 3, 'N') == "NNN")
  }

  test("fromReadsPositioned aligns per-read start positions") {
    val st = SeqTable.fromReadsPositioned(spark, Seq(
      ("r1", "ACGT", "IIII", 1), ("r2", "GG", "55", 3)))
    assert(st.minPos == 1 && st.maxPos == 4)
    val rows = st.reads.orderBy("read_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows(0) == (("r1", "ACGT", "IIII")))
    assert(rows(1) == (("r2", "NNGG", "!!55")))
  }

  test("checkPositions partitions valid/unknown with set-diff mode (P8)") {
    assert(SeqTable.checkPositions(Seq(2, 3, 99), 1, 5) == (Seq(2, 3), Seq(99)))
    assert(SeqTable.checkPositions(Seq(2, 3, 99), 1, 5, setDiff = true) ==
      (Seq(1, 4, 5), Seq(99)))
  }

  test("breakdownBits lists set flag bits (F8)") {
    import spark.implicits._
    val got = Seq(0x13, 0, 4).toDF("flag")
      .select(graft.io.Sam.breakdownBits("flag"))
      .collect().map(_.getSeq[Int](0).toList)
    assert(got.toSeq == Seq(List(0, 1, 4), Nil, List(2)))
  }
}

class FromReadsDfSpec extends org.scalatest.funsuite.AnyFunSuite {
  private val spark = graft.TestSpark.spark
  import spark.implicits._

  test("fromReadsDf pads distributively and matches the Seq overload") {
    val df = Seq(("r1", "ACGT", "IIII"), ("r2", "AC", "IJ"))
      .toDF("read_id", "seq", "qual")
    val st = SeqTable.fromReadsDf(df)
    assert(st.minPos == 1 && st.maxPos == 4)
    assert(st.meta.seqType == "NT" && st.meta.hasQuality)
    val viaSeq = SeqTable.fromReads(spark, Seq(
      ("r1", "ACGT", "IIII"), ("r2", "AC", "IJ")))
    assert(st.reads.orderBy("read_id").collect().toSeq ==
      viaSeq.reads.orderBy("read_id").collect().toSeq)
  }

  test("fromReadsDf without qual column synthesizes null quality") {
    val df = Seq(("r1", "ACGT")).toDF("read_id", "seq")
    val st = SeqTable.fromReadsDf(df)
    assert(!st.meta.hasQuality)
    assert(st.reads.head().getString(2) == "!!!!")
  }

  test("fromReadsDf is one eager job") {
    val df = spark.sparkContext.parallelize(
      (0 until 40).map(i => (s"r$i", "ACGT".take(1 + i % 4), "IIII".take(1 + i % 4))), 4)
      .toDF("read_id", "seq", "qual")
    var st: SeqTable = null
    val jobs = graft.TestSpark.jobsRun { st = SeqTable.fromReadsDf(df) }
    assert(jobs == 1, s"fromReadsDf ran $jobs eager jobs")
    assert(st.maxPos == 4 && st.meta.seqType == "NT")
  }

  test("fromReadsDf guesses the type from the first 1000 reads in partition order") {
    // 4 partitions of 300 reads: the first 1000 are partitions 0-2 and the
    // first 100 rows of partition 3; one protein-only read sits at global
    // row `at`, partition 1 is empty of new letters, partition 2 adds 'N'
    def input(at: Int) = spark.sparkContext.parallelize((0 until 1200).map { i =>
      (s"r$i", if (i == at) "MEQW" else if (i == 650) "ACGN" else "ACGT")
    }, 4).toDF("read_id", "seq")
    def limitGuess(df: org.apache.spark.sql.DataFrame) = graft.model.Alphabets.guessSeqType(
      df.select("seq").limit(1000).collect().map(_.getString(0)))
    for ((at, want) <- Seq(999 -> "AA", 1000 -> "NT", 1199 -> "NT", 0 -> "AA", -1 -> "NT")) {
      val df = input(at)
      assert(limitGuess(df) == want, s"limit(1000) guess with the protein read at $at")
      assert(SeqTable.fromReadsDf(df).meta.seqType == want, s"protein read at $at")
    }
    // a partition with no rows shifts nothing
    val gap = spark.sparkContext.parallelize(Seq(("a", "ACGT")), 1)
      .union(spark.sparkContext.emptyRDD[(String, String)])
      .union(spark.sparkContext.parallelize(Seq(("b", "MEQW")), 1)).toDF("read_id", "seq")
    assert(SeqTable.fromReadsDf(gap).meta.seqType == limitGuess(gap))
  }

  test("fromReadsDf on an empty input fails loudly") {
    val empty = Seq.empty[(String, String)].toDF("read_id", "seq")
    val e = intercept[IllegalArgumentException](SeqTable.fromReadsDf(empty))
    assert(e.getMessage.contains("fromReadsDf: no reads"))
  }
}
