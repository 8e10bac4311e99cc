package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}

/** BAI (BAM index) — the SAM spec's §5 binning scheme, re-implemented from
  * the published format (magic "BAI\1"; per reference: bins of chunks as
  * virtual-offset pairs, plus a 16 KiB-window linear index). This is what
  * backs pysam's `fetch(contig, start, stop)`, the reference's region
  * ingest path (seqtables/core/seqtables.py:233-246 passes `fetch_args`
  * through to `Samfile.fetch`): a region query touches only the BGZF
  * blocks whose chunks overlap the region, never the rest of the file.
  *
  * The R-tree: bin 0 covers 0–512 Mbp, then 8 × 64 Mbp, 64 × 8 Mbp,
  * 512 × 1 Mbp, 4096 × 128 Kbp, 32768 × 16 Kbp. A record lands in the
  * smallest bin that contains its [beg, end) span; a query unions the
  * bins on the path from root to its span's leaves ([[reg2bins]]), prunes
  * chunks that end before the linear index's lower bound, and merges what
  * remains into non-overlapping virtual-offset ranges.
  */
object Bai {

  /** Half-open virtual-offset range (blockFileOffset<<16 | intraOffset). */
  final case class Chunk(beg: Long, end: Long)

  /** One reference's index: chunks per bin + 16 KiB linear index. */
  final case class RefIndex(bins: Map[Int, Vector[Chunk]], linear: Vector[Long])

  final case class Index(refs: Vector[RefIndex])

  /** Smallest bin containing 0-based half-open [beg, end) — SAM spec §5.3. */
  def reg2bin(beg: Int, end0: Int): Int = {
    val end = end0 - 1
    if (beg >> 14 == end >> 14) ((1 << 15) - 1) / 7 + (beg >> 14)
    else if (beg >> 17 == end >> 17) ((1 << 12) - 1) / 7 + (beg >> 17)
    else if (beg >> 20 == end >> 20) ((1 << 9) - 1) / 7 + (beg >> 20)
    else if (beg >> 23 == end >> 23) ((1 << 6) - 1) / 7 + (beg >> 23)
    else if (beg >> 26 == end >> 26) ((1 << 3) - 1) / 7 + (beg >> 26)
    else 0
  }

  /** Every bin overlapping 0-based half-open [beg, end) — SAM spec §5.3. */
  def reg2bins(beg: Int, end0: Int): Seq[Int] = {
    val end = end0 - 1
    val out = Seq.newBuilder[Int]
    out += 0
    var k = 1 + (beg >> 26)
    while (k <= 1 + (end >> 26)) { out += k; k += 1 }
    k = 9 + (beg >> 23)
    while (k <= 9 + (end >> 23)) { out += k; k += 1 }
    k = 73 + (beg >> 20)
    while (k <= 73 + (end >> 20)) { out += k; k += 1 }
    k = 585 + (beg >> 17)
    while (k <= 585 + (end >> 17)) { out += k; k += 1 }
    k = 4681 + (beg >> 14)
    while (k <= 4681 + (end >> 14)) { out += k; k += 1 }
    out.result()
  }

  /** Build the index by one sequential walk of a coordinate-sorted BAM,
    * tracking each record's virtual start/end offsets. Bins, chunks and
    * the linear index come from each record's raw refID, pos and binary
    * CIGAR ([[BamScan.Records]]); no record is decoded to strings.
    * Unmapped records (refID −1) are not indexed — `fetch` never returns
    * them, matching pysam's region fetch. Throws on out-of-order records:
    * a binning index over an unsorted file would silently miss reads.
    */
  def build(fs: FileSystem, path: Path): Index = {
    val r = new BamScan.Records(fs, path, 0L)
    try {
      val refs = r.readHeader().refs
      val nRef = refs.length
      val bins = Array.fill(nRef)(
        scala.collection.mutable.LinkedHashMap.empty[Int, scala.collection.mutable.ArrayBuffer[Chunk]])
      val linear = Array.fill(nRef)(
        scala.collection.mutable.ArrayBuffer.empty[Long])
      var lastRef = -1
      var lastPos = -1
      while (r.advance()) {
        val refId = r.refId
        require(refId >= -1 && refId < nRef, s"BAM refID $refId out of range at ${r.voffset} of $path")
        if (refId >= 0) {
          val beg0 = r.pos0
          require(refId > lastRef || (refId == lastRef && beg0 >= lastPos),
            s"BAI requires a coordinate-sorted BAM: ${refs(refId)}:${beg0 + 1} after " +
              s"ref#$lastRef:${lastPos + 1} in $path")
          lastRef = refId
          lastPos = beg0
          val end0 = beg0 + math.max(1, r.refSpan)
          // BAI addresses at most 512 Mbp: beyond 1<<29 the level-1 bin
          // numbers alias into the level-2 range (beg>>26 == 8 → bin 9)
          // and external readers (htslib/pysam) misread the index.
          // htslib refuses to write a .bai for such contigs; CSI is the
          // format for them.
          require(end0 <= (1 << 29),
            s"BAI cannot index positions beyond 512 Mbp (record " +
              s"${refs(refId)}:${beg0 + 1} spans to $end0 in $path); " +
              "use a CSI-capable indexer for long contigs")
          val vBeg = r.voffset
          val vEnd = r.voffsetEnd
          val bin = reg2bin(beg0, end0)
          val bucket = bins(refId).getOrElseUpdate(
            bin, scala.collection.mutable.ArrayBuffer.empty[Chunk])
          // records are position-sorted, so per-bin chunks only ever grow
          // at the tail; merge when the new record starts in the block the
          // previous chunk ended in (htslib's adjacency rule)
          if (bucket.nonEmpty && (vBeg >> 16) <= (bucket.last.end >> 16))
            bucket(bucket.length - 1) = Chunk(bucket.last.beg, vEnd)
          else bucket += Chunk(vBeg, vEnd)
          val lin = linear(refId)
          var win = beg0 >> 14
          val winEnd = (end0 - 1) >> 14
          while (win <= winEnd) {
            while (lin.length <= win) lin += 0L
            if (lin(win) == 0L || vBeg < lin(win)) lin(win) = vBeg
            win += 1
          }
        }
        r.skip()
      }
      Index(Vector.tabulate(nRef)(i =>
        RefIndex(bins(i).map { case (b, cs) => b -> cs.toVector }.toMap,
          linear(i).toVector)))
    } finally r.close()
  }

  /** Chunks to read for 0-based half-open [beg0, end0) on `refId`:
    * bin union → linear-index prune → sort + merge overlapping/adjacent
    * (same-block) ranges. The result is non-overlapping, so every record
    * is decoded exactly once.
    */
  def chunksFor(idx: Index, refId: Int, beg0: Int, end0: Int): Vector[Chunk] = {
    if (refId < 0 || refId >= idx.refs.length) return Vector.empty
    val ri = idx.refs(refId)
    val win = beg0 >> 14
    val minOff =
      if (win < ri.linear.length && ri.linear(win) > 0L) ri.linear(win) else 0L
    val raw = reg2bins(beg0, end0).iterator
      .flatMap(ri.bins.getOrElse(_, Vector.empty))
      .filter(_.end > minOff)
      .toVector
      .sortBy(_.beg)
    raw.foldLeft(Vector.empty[Chunk]) { (acc, c) =>
      acc.lastOption match {
        case Some(last) if (c.beg >> 16) <= (last.end >> 16) =>
          acc.init :+ Chunk(last.beg, math.max(last.end, c.end))
        case _ => acc :+ c
      }
    }
  }

  /** Upper bound on the compressed bytes a fetch over `chunks` reads:
    * each chunk's block span plus one trailing block (`blockLenHint`, the
    * file's compressed block size — 64 KiB worst case). The "how little
    * of the file does this fetch touch" statistic the tests pin against
    * the full file length.
    */
  def compressedBytesTouched(chunks: Seq[Chunk], blockLenHint: Long = 65536L): Long =
    chunks.map(c => ((c.end >> 16) - (c.beg >> 16)) + blockLenHint).sum

  /** Index every `.bam` under `path` (file/glob/dir, listed by
    * [[SplitFiles.list]]: hidden and zero-length files skipped), one task
    * per file — index construction is inherently sequential WITHIN a file
    * (virtual offsets accumulate along the block chain) but embarrassingly
    * parallel ACROSS files, which is the shape of real many-BAM corpora.
    * Writes `<file>.bai` next to each input; returns the .bai paths.
    */
  def buildAll(spark: org.apache.spark.sql.SparkSession, path: String): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val files = SplitFiles.list(fs, path, Bam.isBam).map(_.getPath.toString)
    SplitFiles.launch(spark, files, files.size)(identity) { (f, p) =>
      write(build(f, new Path(p)), f, new Path(p + ".bai"))
      Iterator.single(p + ".bai")
    }.collect().toSeq
  }

  // ---- .bai file format (little-endian) ---------------------------------

  def write(idx: Index, fs: FileSystem, path: Path): Unit = {
    val out = fs.create(path, true)
    try {
      out.write(Array[Byte]('B', 'A', 'I', 1))
      w32(out, idx.refs.length)
      idx.refs.foreach { r =>
        w32(out, r.bins.size)
        r.bins.toSeq.sortBy(_._1).foreach { case (bin, chunks) =>
          w32(out, bin)
          w32(out, chunks.length)
          chunks.foreach { c => w64(out, c.beg); w64(out, c.end) }
        }
        w32(out, r.linear.length)
        r.linear.foreach(w64(out, _))
      }
    } finally out.close()
  }

  def read(fs: FileSystem, path: Path): Index = {
    val in = fs.open(path)
    try {
      val all = new java.io.DataInputStream(in)
      val magic = new Array[Byte](4)
      all.readFully(magic)
      require(magic.toSeq == Seq[Byte]('B', 'A', 'I', 1), s"$path: not a BAI file")
      val nRef = r32(all)
      Index(Vector.fill(nRef) {
        val nBin = r32(all)
        val bins = (0 until nBin).map { _ =>
          val bin = r32(all)
          val nChunk = r32(all)
          bin -> Vector.fill(nChunk)(Chunk(r64(all), r64(all)))
        }.toMap
        val nIntv = r32(all)
        RefIndex(bins, Vector.fill(nIntv)(r64(all)))
      })
    } finally in.close()
  }

  private def w32(out: java.io.OutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
    out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
  }
  private def w64(out: java.io.OutputStream, v: Long): Unit = {
    w32(out, (v & 0xffffffffL).toInt); w32(out, (v >>> 32).toInt)
  }
  private def r32(in: java.io.DataInputStream): Int = {
    val b = new Array[Byte](4)
    in.readFully(b)
    (b(0) & 0xff) | ((b(1) & 0xff) << 8) | ((b(2) & 0xff) << 16) | ((b(3) & 0xff) << 24)
  }
  private def r64(in: java.io.DataInputStream): Long =
    (r32(in) & 0xffffffffL) | ((r32(in) & 0xffffffffL) << 32)
}
