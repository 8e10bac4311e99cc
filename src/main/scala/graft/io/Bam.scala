package graft.io

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S4 BAM ingest (ref: seqtables/core/seqtables.py:227-283 `from_pysam`) —
  * binary BAM record decode over BGZF, producing the exact frame
  * [[Sam.read]] produces from SAM text, so everything downstream
  * (`SeqTable.fromSam`, filters, distributions) is format-agnostic.
  *
  * The pysam contract is preserved: BAM stores 0-based `reference_start`;
  * the reference adds 1 on ingest ("add 1 to the position because pysam
  * treats positions from 0 index", seqtables.py:266,280) and this reader
  * does the same, so SAM-text and BAM paths agree on coordinates.
  * Unmapped reads (refID −1, pos −1) come out as rname "*", pos 0 — the
  * SAM text convention.
  *
  * Scale shape: the parallel unit is the BYTE RANGE, like a text scan —
  * each file is cut into `splitSize` splits and every task block-syncs +
  * record-resyncs inside its range (see [[BamScan]]), so one huge BAM
  * shards exactly as a huge CSV does; many-BAM corpora parallelize across
  * files AND within them. [[fetch]] is the random-access path, for one
  * file or a sharded layout alike: each file's .bai index ([[Bai]]) maps
  * a genomic region to the handful of BGZF blocks holding overlapping
  * reads, and one job reads them — pysam `fetch(region)` parity.
  * [[write]] is the inverse: one BAM shard per partition, so a decode →
  * transform → re-encode pipeline never funnels through the driver.
  * [[writeSharded]] range-partitions on (rname, pos) with a read-name
  * hash as tie-break, so a deep pile-up at one position is spread over
  * shards; neighbouring shards may share a boundary position, and every
  * reader here treats a sharded directory as an unordered set of files.
  */
object Bam {

  /** One alignment record in SAM-text field conventions (pos 1-based). */
  case class BamRecord(
      header: String, flag: Int, rname: String, pos: Int, mapq: Int,
      cigar: String, rnext: String, pnext: Int, tlen: Int,
      seq: String, qual: String, opt: Map[String, String])

  private val CigarOps = "MIDNSHP=X"
  private val SeqNibbles = "=ACMGRSVTWYHKDBN"

  // ---- decode -----------------------------------------------------------

  /** Decode an entire (inflated) BAM payload. */
  def decode(bam: Array[Byte]): Iterator[BamRecord] = {
    require(bam.length >= 4 && bam(0) == 'B' && bam(1) == 'A' &&
      bam(2) == 'M' && bam(3) == 1, "not a BAM payload (bad magic)")
    var pos = 4
    val lText = readI32(bam, pos); pos += 4 + lText
    val nRef = readI32(bam, pos); pos += 4
    val refNames = new Array[String](nRef)
    var r = 0
    while (r < nRef) {
      val lName = readI32(bam, pos); pos += 4
      refNames(r) = new String(bam, pos, lName - 1, US_ASCII) // drop NUL
      pos += lName + 4 // skip l_ref
      r += 1
    }
    val start = pos
    new Iterator[BamRecord] {
      private var p = start
      def hasNext: Boolean = p + 4 <= bam.length
      def next(): BamRecord = {
        val blockSize = readI32(bam, p)
        // unchecked, a corrupt final record would surface as a raw
        // ArrayIndexOutOfBounds deep in decodeRecord
        require(blockSize >= 32 && p + 4 + blockSize <= bam.length,
          s"truncated BAM record at offset $p: block_size $blockSize with " +
            s"${bam.length - p - 4} bytes remaining")
        val rec = decodeRecord(bam, p + 4, blockSize, refNames)
        p += 4 + blockSize
        rec
      }
    }
  }

  private[io] def decodeRecord(
      b: Array[Byte], off: Int, len: Int, refs: Array[String]): BamRecord = {
    var p = off
    val refId = readI32(b, p); p += 4
    val pos0 = readI32(b, p); p += 4
    val lReadName = b(p) & 0xff; p += 1
    val mapq = b(p) & 0xff; p += 1
    p += 2 // bin
    val nCigar = Bgzf.readU16(b, p); p += 2
    val flag = Bgzf.readU16(b, p); p += 2
    val lSeq = readI32(b, p); p += 4
    val nextRefId = readI32(b, p); p += 4
    val nextPos0 = readI32(b, p); p += 4
    val tlen = readI32(b, p); p += 4
    val name = new String(b, p, lReadName - 1, US_ASCII); p += lReadName
    val cigar =
      if (nCigar == 0) "*"
      else {
        val sb = new StringBuilder
        var i = 0
        while (i < nCigar) {
          val v = readU32i(b, p + i * 4)
          sb.append((v >>> 4).toString).append(CigarOps.charAt((v & 0xf).toInt))
          i += 1
        }
        sb.toString
      }
    p += nCigar * 4
    val seq =
      if (lSeq == 0) "*"
      else {
        val sb = new StringBuilder(lSeq)
        var i = 0
        while (i < lSeq) {
          val byte = b(p + i / 2) & 0xff
          val nib = if (i % 2 == 0) byte >> 4 else byte & 0xf
          sb.append(SeqNibbles.charAt(nib))
          i += 1
        }
        sb.toString
      }
    p += (lSeq + 1) / 2
    val qual =
      if (lSeq == 0 || (b(p) & 0xff) == 0xff) "*"
      else {
        val sb = new StringBuilder(lSeq)
        var i = 0
        while (i < lSeq) { sb.append((33 + (b(p + i) & 0xff)).toChar); i += 1 }
        sb.toString
      }
    p += lSeq
    val tagEnd = off + len
    val opt = Map.newBuilder[String, String]
    while (p < tagEnd) {
      val tag = new String(b, p, 2, US_ASCII)
      val typ = b(p + 2).toChar
      p += 3
      val (v, np) = decodeTagValue(b, p, typ)
      opt += tag -> v
      p = np
    }
    def refName(id: Int) = if (id < 0) "*" else refs(id)
    BamRecord(name, flag, refName(refId), pos0 + 1, mapq, cigar,
      refName(nextRefId), nextPos0 + 1, tlen, seq, qual, opt.result())
  }

  /** SAM-text rendering of one typed tag value; returns (value, nextPos). */
  private def decodeTagValue(b: Array[Byte], p: Int, typ: Char): (String, Int) =
    typ match {
      case 'A' => (b(p).toChar.toString, p + 1)
      case 'c' => (b(p).toString, p + 1)
      case 'C' => ((b(p) & 0xff).toString, p + 1)
      case 's' => (Bgzf.readU16(b, p).toShort.toString, p + 2)
      case 'S' => (Bgzf.readU16(b, p).toString, p + 2)
      case 'i' => (readI32(b, p).toString, p + 4)
      case 'I' => (readU32i(b, p).toString, p + 4)
      case 'f' =>
        (java.lang.Float.intBitsToFloat(readI32(b, p)).toString, p + 4)
      case 'Z' | 'H' =>
        var e = p
        while (b(e) != 0) e += 1
        (new String(b, p, e - p, US_ASCII), e + 1)
      case 'B' =>
        val sub = b(p).toChar
        val n = readI32(b, p + 1)
        val width = sub match {
          case 'c' | 'C' => 1
          case 's' | 'S' => 2
          case _ => 4
        }
        val vals = (0 until n).map { i =>
          decodeTagValue(b, p + 5 + i * width, sub)._1
        }
        ((sub +: vals).mkString(","), p + 5 + n * width)
      case other => throw new IllegalArgumentException(s"unknown tag type $other")
    }

  /** BAM files/glob/dir → the [[Sam.read]] frame (11 std columns + opt).
    * [[SplitFiles.scan]] lists the `.bam` files (hidden and zero-length
    * ones skipped), cuts each into `splitSize` byte ranges and pools
    * contiguous ranges into tasks; each range is scanned with block +
    * record resync ([[BamScan.splitRecords]]), so a single huge BAM is
    * read by many tasks, not one.
    * `minMapq` mirrors the reference's `min_mapping_quality`
    * (seqtables.py:254-256: reads below it are skipped on ingest).
    */
  def read(
      spark: SparkSession,
      path: String,
      minMapq: Int = -1,
      splitSize: Long = 64L * 1024 * 1024): DataFrame = {
    import spark.implicits._
    val df = SplitFiles.scan(spark, path, splitSize, isBam) { (fs, s) =>
      BamScan.splitRecords(fs, new Path(s.path), s.fileLen, s.start, s.end, s.mtime)
    }.toDF()
    if (minMapq >= 0) df.filter(col("mapq") >= minMapq) else df
  }

  /** pysam-`fetch(contig, start, stop)` parity
    * (ref: seqtables.py:233-246 passes `fetch_args` to `Samfile.fetch`):
    * region-restricted read of the coordinate-sorted, indexed BAMs under
    * `path` — one file, a glob or a sharded directory ([[writeSharded]]),
    * listed by [[SplitFiles.list]]. `beg1`/`end1` are 1-based inclusive, matching
    * the frame's `pos`. Returned reads OVERLAP the region (pysam
    * semantics): their span `[pos, pos + max(1, refSpan) - 1]` intersects
    * `[beg1, end1]`, a test [[BamScan.chunkRecords]] makes on each
    * record's raw bytes — it is the one definition, and no filter on the
    * decoded rows follows it.
    *
    * The driver reads each file's header and `<file>.bai` (the index
    * [[Bai.buildAll]] writes; [[Bai.build]] + [[Bai.write]] for a single
    * file) — kilobytes per file, never record data — and keeps the BGZF
    * chunks overlapping the region. A file whose header lacks `rname`, or
    * whose bins miss the region, prunes to nothing; if no file names
    * `rname` the call fails. One Spark job then byte-range-reads only the
    * surviving chunks, each carrying its file's reference names, so no
    * task re-reads a header. The `.bai`s are the manifest.
    *
    * Trade-off: the probe is serial on the driver, one header + index
    * open per file before the job starts. That is nothing at one shard
    * per core, the layouts the suite and the benchmark write; a layout of
    * thousands of shards pays it thousands of times.
    */
  def fetch(
      spark: SparkSession,
      path: String,
      rname: String,
      beg1: Int,
      end1: Int): DataFrame = {
    import spark.implicits._
    require(beg1 >= 1 && end1 >= beg1, s"bad region $rname:$beg1-$end1")
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val headers = SplitFiles.list(fs, path, isBam)
      .map(st => (st.getPath, BamScan.readHeader(fs, st.getPath).refs))
    require(headers.nonEmpty, s"no .bam files under $path")
    val named = headers.filter(_._2.contains(rname))
    require(named.nonEmpty, {
      val seen = headers.flatMap(_._2).distinct
      s"reference '$rname' not in $path header " +
        s"(has ${seen.take(5).mkString(", ")}${if (seen.length > 5) ", …" else ""})"
    })
    val chunks: Seq[(String, Array[String], Int, Long, Long)] = named.flatMap { case (hp, refs) =>
      val idx = Bai.read(fs, new Path(hp.toString + ".bai"))
      val refId = refs.indexOf(rname)
      Bai.chunksFor(idx, refId, beg1 - 1, end1)
        .map(c => (hp.toString, refs, refId, c.beg, c.end))
    }
    SplitFiles.launch(spark, chunks, chunks.size)(_._1) { case (f, (p, refs, refId, cb, ce)) =>
      BamScan.chunkRecords(f, new Path(p), refs, cb, ce, refId, beg1, end1)
    }.toDF()
  }

  /** Multi-shard coordinate-sorted BAM layout — the production form of
    * the single-shard fixture `q_bam_fetch` builds: range-partition on
    * (rname, pos, xxhash64(header)), sort within shards on (rname, pos)
    * (the `.bai` precondition), write one BAM per shard through the
    * existing per-partition sink, and index every shard. Returns the
    * shard paths.
    *
    * The read-name hash is a deterministic tie-break: a range partitioner
    * cannot split one key, so without it every read of a deep amplicon
    * (most reads at one start, the normal shape of amplicon NGS) lands in
    * one shard, and every reader whose unit of work is a shard runs that
    * one task alone. With it, a run of equal positions spreads over as
    * many shards as its share of the rows asks for. Each shard still
    * covers one coordinate slice, but neighbouring shards may share their
    * boundary position, so no reader may assume shard ranges are disjoint.
    */
  def writeSharded(
      df: DataFrame,
      dir: String,
      nShards: Int,
      refLength: Int = 500000000,
      blockData: Int = Bgzf.MaxBlockData): Seq[String] = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val sorted = df
      .repartitionByRange(nShards, col("rname"), col("pos"), xxhash64(col("header")))
      .sortWithinPartitions(col("rname"), col("pos"))
    val files = write(sorted, dir, refLength, blockData)
    Bai.buildAll(df.sparkSession, dir)
    files
  }

  /** [[fetch]] under the name the sharded-layout callers use: a
    * [[writeSharded]] directory is one of the paths `fetch` takes.
    */
  def fetchSharded(
      spark: SparkSession, dir: String, rname: String, beg1: Int, end1: Int): DataFrame =
    fetch(spark, dir, rname, beg1, end1)

  // ---- encode -----------------------------------------------------------

  /** Encode records (SAM-text conventions, 1-based pos) into one BAM
    * payload. `refs` is the reference-sequence dictionary; tags are
    * written as Z (string) values — the decoder handles every typed form,
    * the encoder's job is round-tripping [[Sam.read]]'s string-valued map.
    *
    * LIMITATION: because every tag re-emits as 'Z', a decode→re-encode of
    * a foreign BAM rewrites typed tags (NM:i, AS:i, B arrays) as strings.
    * Internal round-trips are unaffected (this library's readers parse
    * both forms identically), but strict external validators
    * (pysam/samtools) may reject the predefined-tag types; emit SAM text
    * via [[Sam]] when interchange fidelity of tag TYPES matters.
    */
  def encode(records: Iterator[BamRecord], refs: Seq[(String, Int)]): Array[Byte] = {
    val out = new ByteArrayOutputStream(1 << 20)
    val header = refs.map { case (n, l) => s"@SQ\tSN:$n\tLN:$l" }
      .mkString("", "\n", "\n")
    out.write(Array[Byte]('B', 'A', 'M', 1))
    writeI32(out, header.length)
    out.write(header.getBytes(US_ASCII))
    writeI32(out, refs.size)
    refs.foreach { case (name, len) =>
      writeI32(out, name.length + 1)
      out.write(name.getBytes(US_ASCII)); out.write(0)
      writeI32(out, len)
    }
    val refId = refs.map(_._1).zipWithIndex.toMap
    records.foreach { rec =>
      // l_read_name is a single byte; an unchecked write would silently
      // truncate modulo 256 and desynchronize every following field
      require(rec.header.length <= 254,
        s"BAM read name exceeds 254 chars: ${rec.header.take(40)}…")
      require(rec.qual == "*" || rec.qual == null ||
        rec.qual.length == (if (rec.seq == "*") 0 else rec.seq.length),
        s"qual length ${rec.qual.length} != seq length for ${rec.header}")
      val body = new ByteArrayOutputStream(256)
      writeI32(body, refId.get(rec.rname).getOrElse(-1))
      writeI32(body, rec.pos - 1)
      body.write(rec.header.length + 1)
      body.write(rec.mapq)
      writeU16(body, 0) // bin (unused by this reader)
      val cigarOps: Seq[Int] =
        if (rec.cigar == "*" || rec.cigar == null) Nil
        else "(\\d+)([MIDNSHP=X])".r.findAllMatchIn(rec.cigar).map { m =>
          (m.group(1).toInt << 4) | CigarOps.indexOf(m.group(2).charAt(0))
        }.toSeq
      writeU16(body, cigarOps.size)
      writeU16(body, rec.flag)
      val seq = if (rec.seq == "*") "" else rec.seq
      writeI32(body, seq.length)
      writeI32(body, refId.get(rec.rnext).getOrElse(-1))
      writeI32(body, rec.pnext - 1)
      writeI32(body, rec.tlen)
      body.write(rec.header.getBytes(US_ASCII)); body.write(0)
      cigarOps.foreach(writeI32(body, _))
      var i = 0
      while (i < seq.length) {
        val hi = nibble(seq.charAt(i))
        val lo = if (i + 1 < seq.length) nibble(seq.charAt(i + 1)) else 0
        body.write((hi << 4) | lo)
        i += 2
      }
      if (rec.qual == "*" || rec.qual == null)
        seq.foreach(_ => body.write(0xff))
      else rec.qual.foreach(q => body.write(q - 33))
      rec.opt.toSeq.sortBy(_._1).foreach { case (tag, v) =>
        body.write(tag.getBytes(US_ASCII))
        body.write('Z')
        body.write(v.getBytes(US_ASCII)); body.write(0)
      }
      val bytes = body.toByteArray
      writeI32(out, bytes.length)
      out.write(bytes)
    }
    out.toByteArray
  }

  private def nibble(c: Char): Int = {
    val i = SeqNibbles.indexOf(c.toUpper)
    if (i < 0) 15 else i // unknown base → N
  }

  /** Distributed BAM sink: one BGZF-compressed shard per partition of `df`
    * (which must carry [[Sam.StdFields]] (+ optional `opt`)). The
    * reference-sequence dictionary is the distinct rname set (small by
    * nature — a genome has dozens of contigs). Returns the shard paths.
    * Writes through the Hadoop FileSystem API, so any configured scheme
    * (local, HDFS, object stores) works; the partition-parallel shape —
    * no driver funnel — is the point. The `.bam` files `dir` already
    * holds, and their `.bai`s, are deleted first: a write of fewer
    * partitions must not leave stale shards that [[read]], [[fetch]] and
    * [[Bai.buildAll]] would mix into their results.
    */
  def write(
      df: DataFrame, dir: String, refLength: Int = 500000000,
      blockData: Int = Bgzf.MaxBlockData): Seq[String] = {
    val spark = df.sparkSession
    import spark.implicits._
    val dirPath = new Path(dir)
    val dirFs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    SplitFiles.list(dirFs, dir, isBam).foreach { st =>
      dirFs.delete(st.getPath, false)
      dirFs.delete(new Path(st.getPath.toString + ".bai"), false)
    }
    dirFs.mkdirs(dirPath)
    val refs = df.select(col("rname")).where(col("rname") =!= "*").distinct()
      .collect().map(_.getString(0)).sorted.map(n => (n, refLength)).toSeq
    val serConf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val withOpt =
      if (df.columns.contains("opt")) df
      else df.withColumn("opt", map().cast("map<string,string>"))
    withOpt.select(
      col("header"), col("flag"), col("rname"), col("pos"), col("mapq"),
      col("cigar"), col("rnext"), col("pnext"), col("tlen"), col("seq"),
      col("qual"), col("opt"))
      .as[BamRecord]
      .mapPartitions { it =>
        if (it.isEmpty) Iterator.empty
        else {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val shard = new Path(s"$dir/part-$pid.bam")
          val payload = encode(it, refs)
          val out = shard.getFileSystem(serConf.value).create(shard, true)
          try out.write(Bgzf.compress(payload, blockData)) finally out.close()
          Iterator.single(shard.toString)
        }
      }
      .collect().toSeq
  }

  /** The name test [[SplitFiles.list]] applies for every BAM reader. */
  private[io] def isBam(name: String): Boolean = name.endsWith(".bam")

  // ---- little-endian helpers -------------------------------------------

  private def readI32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def readU32i(b: Array[Byte], off: Int): Long = Bgzf.readU32(b, off)

  private def writeI32(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
    out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
  }

  private def writeU16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }
}
