package graft.io

import scala.collection.mutable

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

  /** The index accumulator. It is fed each record's refID, 0-based pos,
    * reference span and virtual start/end offsets in file order: [[build]]
    * feeds it from a file on disk, `Bam.write` from the writer as it emits
    * each record. Unmapped records (refID −1) are not indexed — `fetch`
    * never returns them, matching pysam's region fetch. A binning index
    * over an unsorted file would silently miss reads, so the first mapped
    * record out of coordinate order ends the accumulation and [[index]]
    * refuses. A record past the 512 Mbp BAI limit is a pending refusal
    * too: [[index]] throws it only if the records turn out sorted, so a
    * writer that indexes sorted shards alone does not fail an unsorted one.
    */
  final class Builder(refs: Array[String], path: Path) {
    private val bins =
      Array.fill(refs.length)(mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Chunk]])
    private val linear = Array.fill(refs.length)(mutable.ArrayBuffer.empty[Long])
    private var lastRef = -1
    private var lastPos = -1
    private var unsorted: String = null
    private var tooLong: String = null

    /** False from the first mapped record out of coordinate order on. */
    def sorted: Boolean = unsorted == null

    def add(refId: Int, beg0: Int, refSpan: Int, vBeg: Long, vEnd: Long): Unit = {
      require(refId >= -1 && refId < refs.length,
        s"BAM refID $refId out of range at $vBeg of $path")
      if (refId >= 0 && sorted) {
        if (refId < lastRef || (refId == lastRef && beg0 < lastPos))
          unsorted = s"BAI requires a coordinate-sorted BAM: ${refs(refId)}:${beg0 + 1} after " +
            s"ref#$lastRef:${lastPos + 1} in $path"
        else {
          lastRef = refId
          lastPos = beg0
          val end0 = beg0 + math.max(1, refSpan)
          // BAI addresses at most 512 Mbp: beyond 1<<29 the level-1 bin
          // numbers alias into the level-2 range (beg>>26 == 8 → bin 9)
          // and external readers (htslib/pysam) misread the index.
          // htslib refuses to write a .bai for such contigs; CSI is the
          // format for them.
          if (end0 > (1 << 29)) {
            if (tooLong == null) tooLong = s"BAI cannot index positions beyond 512 Mbp (record " +
              s"${refs(refId)}:${beg0 + 1} spans to $end0 in $path); " +
              "use a CSI-capable indexer for long contigs"
            return
          }
          val bucket =
            bins(refId).getOrElseUpdate(reg2bin(beg0, end0), mutable.ArrayBuffer.empty[Chunk])
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
      }
    }

    def index: Index = {
      require(sorted, unsorted)
      require(tooLong == null, tooLong)
      Index(Vector.tabulate(refs.length)(i =>
        RefIndex(bins(i).map { case (b, cs) => b -> cs.toVector }.toMap,
          linear(i).toVector)))
    }
  }

  /** Build the index by one sequential walk of a coordinate-sorted BAM:
    * the [[BamScan.Records]] cursor feeds a [[Builder]] each record's raw
    * refID, pos, binary-CIGAR span and virtual offsets; no record is
    * decoded to strings. Throws on out-of-order records.
    */
  def build(fs: FileSystem, path: Path): Index = {
    val r = new BamScan.Records(fs, path, 0L)
    try {
      val b = new Builder(r.readHeader().refs, path)
      while (b.sorted && r.advance()) {
        b.add(r.refId, r.pos0, if (r.refId >= 0) r.refSpan else 0, r.voffset, r.voffsetEnd)
        r.skip()
      }
      b.index
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
      LE.put32(out, idx.refs.length)
      idx.refs.foreach { r =>
        LE.put32(out, r.bins.size)
        r.bins.toSeq.sortBy(_._1).foreach { case (bin, chunks) =>
          LE.put32(out, bin)
          LE.put32(out, chunks.length)
          chunks.foreach { c => LE.put64(out, c.beg); LE.put64(out, c.end) }
        }
        LE.put32(out, r.linear.length)
        r.linear.foreach(LE.put64(out, _))
      }
    } finally out.close()
  }

  def read(fs: FileSystem, path: Path): Index = {
    val in = fs.open(path)
    val b = try java.nio.ByteBuffer.wrap(in.readAllBytes()) finally in.close()
    b.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(b.remaining >= 4 && b.getInt == 0x01494142, s"$path: not a BAI file") // "BAI\1"
    Index(Vector.fill(b.getInt) {
      val bins = (0 until b.getInt).map { _ =>
        val bin = b.getInt
        bin -> Vector.fill(b.getInt)(Chunk(b.getLong, b.getLong))
      }.toMap
      RefIndex(bins, Vector.fill(b.getInt)(b.getLong))
    })
  }
}
