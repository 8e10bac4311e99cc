package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class FastaSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("reads multi-line records and round-trips") {
    val dir = Files.createTempDirectory("fasta").toFile
    val f = new java.io.File(dir, "a.fa")
    Files.writeString(f.toPath,
      ">seq_1 desc here\nACGTACGT\nACGT\n>seq_2\nTTTT\n")
    val df = Fasta.read(spark, f.getAbsolutePath)
    val rows = df.orderBy("read_id").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("seq_1", "ACGTACGTACGT"), ("seq_2", "TTTT")))
    val out = new java.io.File(dir, "out").getAbsolutePath
    Fasta.write(df, out)
    val back = Fasta.read(spark, out).orderBy("read_id").collect()
    assert(back.map(_.getString(1)).toSeq == Seq("ACGTACGTACGT", "TTTT"))
  }
}

class FastqSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("4-line record assembly incl. '@' in quality lines") {
    val dir = Files.createTempDirectory("fastq").toFile
    val f = new java.io.File(dir, "a.fq")
    // second record's quality starts with '@' — the classic parsing trap
    Files.writeString(f.toPath,
      "@r1 extra\nACGT\n+\nIIII\n@r2\nTTGG\n+\n@@II\n")
    val rows = Fastq.read(spark, f.getAbsolutePath).orderBy("read_id").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
      Seq(("r1", "ACGT", "IIII"), ("r2", "TTGG", "@@II")))
  }

  test("round-trip write/read") {
    import spark.implicits._
    val df = Seq(("x", "ACGT", "IIII")).toDF("read_id", "seq", "qual")
    val dir = Files.createTempDirectory("fastq2").toFile
    val out = new java.io.File(dir, "out").getAbsolutePath
    Fastq.write(df, out)
    val back = Fastq.read(spark, out).collect()
    assert(back.head.getString(1) == "ACGT" && back.head.getString(2) == "IIII")
  }

  test("split boundaries never duplicate or drop records ('@' quality traps included)") {
    val dir = Files.createTempDirectory("fastq3").toFile
    val f = new java.io.File(dir, "many.fq")
    // every quality line starts with '@' to stress the resync check
    val recs = (0 until 200).map(i => s"@r$i desc\nACGTACGTAC\n+\n@@IIIIIII${(33 + i % 60).toChar}")
    Files.writeString(f.toPath, recs.mkString("", "\n", "\n"))
    val whole = Fastq.read(spark, f.getAbsolutePath).orderBy("read_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(whole.size == 200)
    // tiny splits force many mid-record entries; result must be identical
    for (splitSize <- Seq(7L, 31L, 64L, 1000L)) {
      val split = Fastq.read(spark, f.getAbsolutePath, splitSize = splitSize)
        .orderBy("read_id").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
      assert(split == whole, s"splitSize=$splitSize mismatch: ${split.size} records")
    }
    // a non-ASCII read name is decoded as UTF-8, whole and with a split
    // boundary inside its header line (inside the two bytes of 'é')
    val utf8 = new java.io.File(Files.createTempDirectory("fastq3u").toFile, "utf8.fq")
    Files.writeString(utf8.toPath, "@réad_1 desc\nACGT\n+\nIIII\n@r2\nTTTT\n+\nIIII\n")
    for (splitSize <- Seq(1L << 20, 3L)) {
      val ids = Fastq.read(spark, utf8.getAbsolutePath, splitSize = splitSize)
        .collect().map(_.getString(0)).sorted.toSeq
      assert(ids == Seq("r2", "réad_1"), s"splitSize=$splitSize: $ids")
    }
  }

  test("multi-file reads assemble per file (no cross-file line-index shift)") {
    val dir = Files.createTempDirectory("fastq4").toFile
    // file a ends with a trailing blank line (line count % 4 != 0 globally)
    Files.writeString(new java.io.File(dir, "a.fq").toPath,
      "@a1\nAAAA\n+\nIIII\n\n")
    Files.writeString(new java.io.File(dir, "b.fq").toPath,
      "@b1\nCCCC\n+\nIIII\n@b2\nGGGG\n+\nIIII\n")
    val rows = Fastq.read(spark, dir.getAbsolutePath).orderBy("read_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("a1", "AAAA"), ("b1", "CCCC"), ("b2", "GGGG")))
  }

  test("truncated trailing record fails loudly") {
    val dir = Files.createTempDirectory("fastq5").toFile
    val f = new java.io.File(dir, "bad.fq")
    Files.writeString(f.toPath, "@r1\nACGT\n+\nIIII\n@r2\nTTTT\n+\n")
    val ex = intercept[org.apache.spark.SparkException] {
      Fastq.read(spark, f.getAbsolutePath).collect()
    }
    assert(ex.getMessage.contains("truncated FASTQ") ||
      Option(ex.getCause).exists(_.getMessage.contains("truncated FASTQ")))
  }

  test("gzipped fastq reads as a single-split file") {
    val dir = Files.createTempDirectory("fastq6").toFile
    val f = new java.io.File(dir, "a.fq.gz")
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(f))
    out.write("@g1\nACGT\n+\nIIII\n@g2\nTTGG\n+\n@@II\n".getBytes)
    out.close()
    val rows = Fastq.read(spark, f.getAbsolutePath).orderBy("read_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(rows == Seq(("g1", "ACGT", "IIII"), ("g2", "TTGG", "@@II")))
  }

  test("fuzzed round-trip: random reads with adversarial quality strings") {
    import spark.implicits._
    for (seed <- Seq(3, 7, 11)) {
      val rnd = new scala.util.Random(seed)
      val recs = (0 until 40).map { i =>
        val len = 1 + rnd.nextInt(50)
        val seq = Seq.fill(len)("ACGTN"(rnd.nextInt(5))).mkString
        // quality: any printable char incl. '@' and '+' — the parser traps
        val qual = Seq.fill(len)((33 + rnd.nextInt(94)).toChar).mkString
        (s"read_${seed}_$i", seq, qual)
      }
      val dir = Files.createTempDirectory(s"fqfuzz$seed").toFile
      val out = new java.io.File(dir, "out").getAbsolutePath
      Fastq.write(recs.toDF("read_id", "seq", "qual"), out)
      val back = Fastq.read(spark, out).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(back == recs.toSet, s"seed $seed: round-trip mismatch")
    }
  }

  test("fastq scan plan has zero exchanges") {
    val dir = Files.createTempDirectory("fastq7").toFile
    val f = new java.io.File(dir, "a.fq")
    Files.writeString(f.toPath, "@r1\nACGT\n+\nIIII\n")
    val plan = Fastq.read(spark, f.getAbsolutePath)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"FASTQ scan must be shuffle-free:\n$plan")
  }
}

class SamSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val samText =
    """@HD	VN:1.0	SO:unsorted
      |@SQ	SN:ref1	LN:300
      |readA	0	ref1	10	42	4M	*	0	0	ACGT	IIII	NM:i:0	MD:Z:4
      |readB	16	ref1	12	7	2S2M	*	0	0	TTAC	IIII	NM:i:1
      |readC	4	*	0	0	*	*	0	0	GGGG	IIII
      |readD	0	phix174	5	40	4M	*	0	0	CCCC	IIII
      |""".stripMargin

  private def samDf = {
    val dir = Files.createTempDirectory("sam").toFile
    val f = new java.io.File(dir, "a.sam")
    Files.writeString(f.toPath, samText)
    Sam.read(spark, f.getAbsolutePath)
  }

  test("parses standard fields and optional TAG:TYPE:VALUE map") {
    val rows = samDf.orderBy("header").collect()
    assert(rows.length == 4)
    val a = rows(0)
    assert(a.getString(0) == "readA" && a.getInt(1) == 0 &&
      a.getString(2) == "ref1" && a.getInt(3) == 10 &&
      a.getString(5) == "4M" && a.getString(9) == "ACGT")
    val opt = a.getMap[String, String](11)
    assert(opt("NM") == "0" && opt("MD") == "4")
  }

  test("classifyReads flags unaligned, phix and computes pos_end") {
    val c = Sam.classifyReads(samDf).orderBy("header").collect()
    val errs = c.map(r => (r.getString(0), r.getString(r.fieldIndex("error"))))
    assert(errs.toSeq == Seq(
      ("readA", null), ("readB", null), ("readC", "unaligned"), ("readD", "phix")))
    val posEnd = c.map(r => (r.getString(0), r.getInt(r.fieldIndex("pos_end")))).toMap
    assert(posEnd("readA") == 13) // 10 + 4 - 1
    assert(posEnd("readB") == 13) // 12 + 4 - 2 clip - 1
  }

  test("flag helpers") {
    import spark.implicits._
    val df = Seq(0, 16, 4).toDF("flag")
    val got = df.select(Sam.readNum(col("flag"))).collect().map(_.getString(0))
    assert(got.toSeq == Seq("R1", "R2", "R1"))
  }
}

class BgzfSpec extends AnyFunSuite {

  test("block codec round-trips and stays stock-gzip compatible") {
    val rnd = new scala.util.Random(5)
    val data = (Array.fill(150000)(rnd.nextPrintableChar().toByte))
    val gz = Bgzf.compress(data)
    assert(Bgzf.inflate(gz).toSeq == data.toSeq)
    // BGZF is concatenated gzip members: stock GZIPInputStream must agree
    val stock = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(gz)).readAllBytes()
    assert(stock.toSeq == data.toSeq)
    // terminal EOF marker present
    assert(gz.takeRight(28).toSeq == Bgzf.EofMarker.toSeq)
  }

  test("the block writer cuts the same blocks however its input arrives, and tracks virtual offsets") {
    val rnd = new scala.util.Random(7)
    val data = Array.fill(5000)(rnd.nextInt(4).toByte)
    val whole = Bgzf.compress(data, 1000)
    // block starts, the EOF marker's included
    val starts = Iterator.iterate(0)(p => p + Bgzf.inflateBlockAt(whole, p)._2)
      .takeWhile(_ < whole.length).toVector
    val out = new java.io.ByteArrayOutputStream()
    val w = new Bgzf.Writer(out, 1000)
    var at = 0
    while (at < data.length) {
      val n = math.min(rnd.nextInt(700), data.length - at)
      if (n == 0) w.write(data(at).toInt) else w.write(data, at, n)
      at += math.max(n, 1)
      // a full block is deflated at once: its end reads as the next start
      assert(w.voffset == ((starts(at / 1000).toLong << 16) | (at % 1000)), s"after $at bytes")
    }
    w.close()
    assert(w.voffset == starts.last.toLong << 16, "after close: the EOF marker's offset")
    assert(out.toByteArray.toSeq == whole.toSeq)
  }

  test("empty payload is just the EOF marker; inflate survives it") {
    val gz = Bgzf.compress(Array.emptyByteArray)
    assert(gz.toSeq == Bgzf.EofMarker.toSeq)
    assert(Bgzf.inflate(gz).isEmpty)
  }
}

class BamSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def rec(
      name: String, pos: Int, seq: String, qual: String,
      cigar: String = "4M", flag: Int = 0,
      opt: Map[String, String] = Map.empty) =
    Bam.BamRecord(name, flag, "chr1", pos, 60, cigar, "*", 0, 0, seq, qual, opt)

  test("record codec round-trips all fields including typed-ish tags") {
    val recs = Seq(
      rec("r1", 5, "ACGT", "IIII", opt = Map("NM" -> "3", "XS" -> "hello:world")),
      rec("r2", 1, "TTGGA", "!#@AB", cigar = "2M1I2M", flag = 16),
      rec("r3", 9, "NNNN", "*")) // missing quality -> 0xFF bytes
    val payload = Bam.encode(recs.iterator, Seq(("chr1", 1000)))
    val back = Bam.decode(payload).toSeq
    assert(back.map(r => (r.header, r.flag, r.rname, r.pos, r.cigar, r.seq, r.qual)) ==
      recs.map(r => (r.header, r.flag, r.rname, r.pos, r.cigar, r.seq, r.qual)))
    assert(back.head.opt == Map("NM" -> "3", "XS" -> "hello:world"))
  }

  test("encode fails, naming the read, on a CIGAR it cannot spell") {
    for (cigar <- Seq("3M2B4M", "10M5Q", "M10", "4M ")) {
      val e = intercept[IllegalArgumentException](Bam.encode(
        Iterator(rec("bad1", 5, "ACGT", "IIII", cigar = cigar)), Seq(("chr1", 1000))))
      assert(e.getMessage.contains(s"CIGAR '$cigar' of bad1"), e.getMessage)
    }
  }

  test("pysam pos contract: BAM stores 0-based, reader emits 1-based") {
    // seqtables.py:266 adds 1 to pysam's reference_start on ingest
    val payload = Bam.encode(Iterator(rec("r1", 5, "ACGT", "IIII")), Seq(("chr1", 1000)))
    // locate the record: after magic+header-text+refs; block starts with
    // block_size i32, then refID i32, then pos i32
    val headerText = "@SQ\tSN:chr1\tLN:1000\n"
    val refBlock = 4 + 4 + "chr1".length + 1 + 4
    val recStart = 4 + 4 + headerText.length + refBlock
    val rawPos = (payload(recStart + 8) & 0xff) | ((payload(recStart + 9) & 0xff) << 8) |
      ((payload(recStart + 10) & 0xff) << 16) | ((payload(recStart + 11) & 0xff) << 24)
    assert(rawPos == 4, s"BAM body must store 0-based pos (got $rawPos)")
    assert(Bam.decode(payload).next().pos == 5)
  }

  test("typed tag decode: int and B-array branches via a crafted payload") {
    // hand-built record with NM:i:42 and XB:B:c,1,2 — branches the string-
    // writing encoder never emits
    def fi32(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
      o.write(v & 0xff); o.write((v >> 8) & 0xff)
      o.write((v >> 16) & 0xff); o.write((v >> 24) & 0xff)
    }
    val body = new java.io.ByteArrayOutputStream()
    fi32(body, 0); fi32(body, 0) // refID, pos (0-based 0)
    body.write(3); body.write(60) // l_read_name "r1\0", mapq
    body.write(0); body.write(0) // bin
    body.write(0); body.write(0) // n_cigar
    body.write(0); body.write(0) // flag
    fi32(body, 0) // l_seq
    fi32(body, -1); fi32(body, -1); fi32(body, 0) // next_refID, next_pos, tlen
    body.write('r'); body.write('1'); body.write(0)
    body.write('N'); body.write('M'); body.write('i'); fi32(body, 42)
    body.write('X'); body.write('B'); body.write('B'); body.write('c')
    fi32(body, 2); body.write(1); body.write(2)
    val recBytes = body.toByteArray
    val full = new java.io.ByteArrayOutputStream()
    full.write(Array[Byte]('B', 'A', 'M', 1))
    fi32(full, 0) // l_text
    fi32(full, 1) // n_ref
    fi32(full, 5) // l_name "chr1\0"
    full.write("chr1".getBytes); full.write(0)
    fi32(full, 1000) // l_ref
    fi32(full, recBytes.length)
    full.write(recBytes)
    val r = Bam.decode(full.toByteArray).next()
    assert(r.pos == 1) // stored 0 -> 1-based 1
    assert(r.rnext == "*") // next_refID -1
    assert(r.opt("NM") == "42")
    assert(r.opt("XB") == "c,1,2")
    assert(r.qual == "*" && r.seq == "*" && r.cigar == "*")
  }

  test("minMapq mirrors the reference's min_mapping_quality ingest filter") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bamq").toFile.getAbsolutePath
    val df = Seq(
      ("hi", 0, "chr1", 1, 60, "4M", "*", 0, 0, "ACGT", "IIII", Map.empty[String, String]),
      ("lo", 0, "chr1", 2, 5, "4M", "*", 0, 0, "TTTT", "IIII", Map.empty[String, String]))
      .toDF("header", "flag", "rname", "pos", "mapq", "cigar", "rnext",
        "pnext", "tlen", "seq", "qual", "opt")
    Bam.write(df, dir)
    assert(Bam.read(spark, dir).count() == 2)
    val kept = Bam.read(spark, dir, minMapq = 20).collect()
    assert(kept.map(_.getString(0)).toSeq == Seq("hi"))
  }

  test("distributed sink + source round-trip through Spark") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bam").toFile.getAbsolutePath
    val df = Seq(
      ("r1", 0, "chr1", 5, 60, "4M", "*", 0, 0, "ACGT", "IIII", Map("NM" -> "1")),
      ("r2", 16, "chr2", 1, 30, "2M2S", "*", 0, 0, "TTGG", "@@II", Map.empty[String, String]),
      ("r3", 0, "chr1", 9, 60, "4M", "*", 0, 0, "GGCC", "!!!!", Map.empty[String, String]))
      .toDF("header", "flag", "rname", "pos", "mapq", "cigar", "rnext",
        "pnext", "tlen", "seq", "qual", "opt")
    // a 2-partition write over a 4-shard one leaves no stale shard behind
    assert(Bam.write(df.union(df).union(df).repartition(4), dir).size == 4)
    val paths = Bam.write(df.repartition(2), dir)
    assert(paths.nonEmpty && paths.forall(_.endsWith(".bam")))
    val back = Bam.read(spark, dir).orderBy("header")
    val rows = back.collect()
    assert(rows.length == 3)
    assert(rows.map(r => (r.getString(0), r.getInt(3), r.getString(9), r.getString(10))).toSeq ==
      Seq(("r1", 5, "ACGT", "IIII"), ("r2", 1, "TTGG", "@@II"), ("r3", 9, "GGCC", "!!!!")))
    assert(rows.head.getMap[String, String](11).toMap == Map("NM" -> "1"))
    // the frame is Sam.read-shaped: fromSam accepts it unchanged
    val st = graft.core.SeqTable.fromSam(back.filter(col("cigar") === "4M"))
    assert(st.reads.count() == 2)
  }
}

class AlignerBridgeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("pipes FASTQ through an external process and parses the SAM it emits") {
    import spark.implicits._
    // stand-in aligner: awk turning each FASTQ record into an aligned SAM
    // line (pos 1, full-length match), plus header lines the parser drops
    val fakeAligner = Seq("awk",
      """BEGIN { print "@HD\tVN:1.6"; print "@SQ\tSN:ref1\tLN:100" }
        |NR%4==1 { h = substr($1, 2) }
        |NR%4==2 { s = $0 }
        |NR%4==0 { print h"\t0\tref1\t1\t60\t"length(s)"M\t*\t0\t0\t"s"\t"$0"\tNM:i:0" }""".stripMargin)
    val reads = Seq(
      ("r1", "ACGT", "IIII"),
      ("r2", "TTGGAA", "@@IIII"),
      ("r3", "CCC", "!!!")).toDF("read_id", "seq", "qual")
    val sam = AlignerBridge.alignWith(reads.repartition(2), fakeAligner)
    val rows = sam.orderBy("header").collect()
    assert(rows.length == 3)
    assert(rows.map(r => (r.getString(0), r.getInt(3), r.getString(5), r.getString(9))).toSeq ==
      Seq(("r1", 1, "4M", "ACGT"), ("r2", 1, "6M", "TTGGAA"), ("r3", 1, "3M", "CCC")))
    assert(rows.head.getMap[String, String](11).toMap == Map("NM" -> "0"))
    // the bridge output feeds the standard spine unchanged
    val st = graft.core.SeqTable.fromSam(sam)
    assert(st.reads.count() == 3 && st.minPos == 1)
  }

  test("writeReferenceFasta materializes the (name, seq) list") {
    val dir = Files.createTempDirectory("refs").toFile
    val p = AlignerBridge.writeReferenceFasta(
      Seq(("ref1", "ACGTACGT"), ("phix", "GGGG")),
      new java.io.File(dir, "refs.fasta").getAbsolutePath)
    val back = Fasta.read(spark, p).orderBy("read_id").collect()
    assert(back.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("phix", "GGGG"), ("ref1", "ACGTACGT")))
  }
}
