package graft.io

import java.io.{ByteArrayOutputStream, OutputStream}
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
  private val CigarOp = "(\\d+)([MIDNSHP=X])".r
  private val SeqNibbles = "=ACMGRSVTWYHKDBN"

  // ---- decode -----------------------------------------------------------

  /** Decode an entire (inflated) BAM payload. */
  def decode(bam: Array[Byte]): Iterator[BamRecord] = {
    require(bam.length >= 4 && bam(0) == 'B' && bam(1) == 'A' &&
      bam(2) == 'M' && bam(3) == 1, "not a BAM payload (bad magic)")
    var pos = 4
    val lText = LE.i32(bam, pos); pos += 4 + lText
    val nRef = LE.i32(bam, pos); pos += 4
    val refNames = new Array[String](nRef)
    var r = 0
    while (r < nRef) {
      val lName = LE.i32(bam, pos); pos += 4
      refNames(r) = new String(bam, pos, lName - 1, US_ASCII) // drop NUL
      pos += lName + 4 // skip l_ref
      r += 1
    }
    val start = pos
    new Iterator[BamRecord] {
      private var p = start
      def hasNext: Boolean = p + 4 <= bam.length
      def next(): BamRecord = {
        val blockSize = LE.i32(bam, p)
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
    val refId = LE.i32(b, p); p += 4
    val pos0 = LE.i32(b, p); p += 4
    val lReadName = b(p) & 0xff; p += 1
    val mapq = b(p) & 0xff; p += 1
    p += 2 // bin
    val nCigar = LE.u16(b, p); p += 2
    val flag = LE.u16(b, p); p += 2
    val lSeq = LE.i32(b, p); p += 4
    val nextRefId = LE.i32(b, p); p += 4
    val nextPos0 = LE.i32(b, p); p += 4
    val tlen = LE.i32(b, p); p += 4
    val name = new String(b, p, lReadName - 1, US_ASCII); p += lReadName
    val cigar =
      if (nCigar == 0) "*"
      else {
        val sb = new StringBuilder
        var i = 0
        while (i < nCigar) {
          val v = LE.u32(b, p + i * 4)
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
      case 's' => (LE.u16(b, p).toShort.toString, p + 2)
      case 'S' => (LE.u16(b, p).toString, p + 2)
      case 'i' => (LE.i32(b, p).toString, p + 4)
      case 'I' => (LE.u32(b, p).toString, p + 4)
      case 'f' =>
        (java.lang.Float.intBitsToFloat(LE.i32(b, p)).toString, p + 4)
      case 'Z' | 'H' =>
        var e = p
        while (b(e) != 0) e += 1
        (new String(b, p, e - p, US_ASCII), e + 1)
      case 'B' =>
        val sub = b(p).toChar
        val n = LE.i32(b, p + 1)
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
    * The driver reads each file's header and `<file>.bai` ([[write]]
    * indexes each sorted shard; [[Bai.buildAll]] other BAMs) — kilobytes
    * per file, never record data — and keeps the BGZF chunks overlapping
    * the region. A file whose header lacks `rname`, or whose bins miss the
    * region, prunes to nothing; if no file names `rname` the call fails.
    * One Spark job then byte-range-reads only the surviving chunks, each
    * carrying its file's reference names, so no task re-reads a header.
    * The `.bai`s are the manifest.
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
    * (the `.bai` precondition), and write one BAM per shard through
    * [[write]], which indexes every shard as it writes it. Returns the
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
    write(sorted, dir, refLength, blockData)
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
    encodeTo(out, records, refs)((_, _, _) => ())
    out.toByteArray
  }

  /** [[encode]] into any stream: the header, then each record, with
    * `starts(refId, pos0, refSpan)` called as each record begins — the
    * hook [[write]] indexes through.
    */
  private[io] def encodeTo(out: OutputStream, records: Iterator[BamRecord],
      refs: Seq[(String, Int)])(starts: (Int, Int, Int) => Unit): Unit = {
    val header = refs.map { case (n, l) => s"@SQ\tSN:$n\tLN:$l" }
      .mkString("", "\n", "\n")
    out.write(Array[Byte]('B', 'A', 'M', 1))
    LE.put32(out, header.length)
    out.write(header.getBytes(US_ASCII))
    LE.put32(out, refs.size)
    refs.foreach { case (name, len) =>
      LE.put32(out, name.length + 1)
      out.write(name.getBytes(US_ASCII)); out.write(0)
      LE.put32(out, len)
    }
    val refId = refs.map(_._1).zipWithIndex.toMap
    val body = new ByteArrayOutputStream(256)
    records.foreach { rec =>
      // l_read_name is a single byte; an unchecked write would silently
      // truncate modulo 256 and desynchronize every following field
      require(rec.header.length <= 254,
        s"BAM read name exceeds 254 chars: ${rec.header.take(40)}…")
      require(rec.qual == "*" || rec.qual == null ||
        rec.qual.length == (if (rec.seq == "*") 0 else rec.seq.length),
        s"qual length ${rec.qual.length} != seq length for ${rec.header}")
      val cigarOps: Seq[Int] =
        if (rec.cigar == "*" || rec.cigar == null) Nil
        else {
          val ops = CigarOp.findAllMatchIn(rec.cigar).toSeq
          require(ops.map(_.matched).mkString == rec.cigar,
            s"CIGAR '${rec.cigar}' of ${rec.header} is not a run of <length><op in $CigarOps>")
          ops.map(m => (m.group(1).toInt << 4) | CigarOps.indexOf(m.group(2).charAt(0)))
        }
      val rid = refId.getOrElse(rec.rname, -1)
      starts(rid, rec.pos - 1, cigarOps.filter(o => BamScan.RefOps(o & 0xf)).map(_ >>> 4).sum)
      body.reset()
      LE.put32(body, rid)
      LE.put32(body, rec.pos - 1)
      body.write(rec.header.length + 1)
      body.write(rec.mapq)
      LE.put16(body, 0) // bin (unused by this reader)
      LE.put16(body, cigarOps.size)
      LE.put16(body, rec.flag)
      val seq = if (rec.seq == "*") "" else rec.seq
      LE.put32(body, seq.length)
      LE.put32(body, refId.getOrElse(rec.rnext, -1))
      LE.put32(body, rec.pnext - 1)
      LE.put32(body, rec.tlen)
      body.write(rec.header.getBytes(US_ASCII)); body.write(0)
      cigarOps.foreach(LE.put32(body, _))
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
      LE.put32(out, body.size)
      body.writeTo(out)
    }
  }

  private def nibble(c: Char): Int = {
    val i = SeqNibbles.indexOf(c.toUpper)
    if (i < 0) 15 else i // unknown base → N
  }

  /** Distributed BAM sink: one BGZF-compressed shard per partition of `df`
    * (which must carry [[Sam.StdFields]] (+ optional `opt`)). The
    * reference-sequence dictionary is the distinct rname set (small by
    * nature — a genome has dozens of contigs), sorted, one for all
    * shards. Returns the shard paths.
    * Writes through the Hadoop FileSystem API, so any configured scheme
    * (local, HDFS, object stores) works; the partition-parallel shape —
    * no driver funnel — is the point. The `.bam` files `dir` already
    * holds, and their `.bai`s, are deleted first: a write of fewer
    * partitions must not leave stale shards that [[read]], [[fetch]] and
    * [[Bai.buildAll]] would mix into their results.
    *
    * The dictionary job (each partition's rname set) and the write job
    * run over one RDD. The input is parsed once only when `df`'s plan ends
    * in an exchange, as in [[writeSharded]], whose write job reuses the
    * shuffle output; otherwise each job recomputes `df`. Each shard is written
    * in one pass ([[writeShard]]), with its `.bai` when its mapped records
    * are coordinate-sorted; a record such a shard cannot index fails the write.
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
    val serConf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val withOpt =
      if (df.columns.contains("opt")) df
      else df.withColumn("opt", map().cast("map<string,string>"))
    val records = withOpt
      .select(org.apache.spark.sql.Encoders.product[BamRecord].schema.fieldNames.map(col): _*)
      .as[BamRecord].rdd
    val refs = records.mapPartitions(it => Iterator.single(it.map(_.rname).toSet))
      .collect().flatten.distinct.filter(n => n != null && n != "*")
      .sorted.map(n => (n, refLength)).toSeq
    records.mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else {
        val shard = new Path(s"$dir/part-${org.apache.spark.TaskContext.getPartitionId()}.bam")
        writeShard(shard.getFileSystem(serConf.value), shard, it, refs, blockData)
        Iterator.single(shard.toString)
      }
    }.collect().toSeq
  }

  /** One shard in one pass: [[encodeTo]] streams into a [[Bgzf.Writer]]
    * over the file and feeds a [[Bai.Builder]]. A record's end is the next
    * record's start, or the EOF marker's offset after close, so a record
    * that ends a block ends at the next block's start, as [[Bai.build]]
    * reads it. The `.bai` is written if the records were sorted. A failure
    * (an unencodable record, an unindexable sorted shard) deletes the shard
    * and its `.bai` and rethrows the first exception.
    */
  private[io] def writeShard(fs: org.apache.hadoop.fs.FileSystem, shard: Path,
      records: Iterator[BamRecord], refs: Seq[(String, Int)], blockData: Int): Unit = {
    val baiPath = new Path(shard.toString + ".bai")
    val bgzf = new Bgzf.Writer(fs.create(shard, true), blockData)
    val bai = new Bai.Builder(refs.map(_._1).toArray, shard)
    var held: Long => Unit = _ => () // indexes the last record, given its end
    try {
      encodeTo(bgzf, records, refs) { (refId, pos0, span) =>
        val vBeg = bgzf.voffset
        held(vBeg)
        held = bai.add(refId, pos0, span, vBeg, _)
      }
      bgzf.close()
      held(bgzf.voffset)
      if (bai.sorted) Bai.write(bai.index, fs, baiPath)
    } catch {
      case e: Throwable =>
        def quietly(f: => Any): Unit = try f catch { case s: Throwable => e.addSuppressed(s) }
        quietly(bgzf.abort())
        quietly(fs.delete(shard, false))
        quietly(fs.delete(baiPath, false))
        throw e
    }
  }

  /** The name test [[SplitFiles.list]] applies for every BAM reader. */
  private[io] def isBam(name: String): Boolean = name.endsWith(".bam")
}
