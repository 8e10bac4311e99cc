package graft.io

import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}

import org.apache.spark.TaskContext

/** Within-file BAM split scanning (ref contract:
  * seqtables/core/seqtables.py:227-283 `from_pysam`; format: SAM spec §4).
  *
  * BGZF blocks are independently inflatable, so any byte range of a BAM
  * can be decompressed without touching the rest — but neither a split
  * boundary nor a block boundary is a RECORD boundary. This module solves
  * both resyncs, giving a single huge BAM the same task-per-byte-range
  * sharding a text file gets:
  *
  *  1. '''Block sync''': from an arbitrary file offset, scan forward for
  *     the gzip magic and validate the candidate by inflating it — the
  *     CRC32 + ISIZE + BSIZE-arithmetic check in
  *     [[Bgzf.inflateBlockAt]] rejects magic bytes that merely appear
  *     inside compressed data. A real boundary exists within 64 KiB of
  *     any offset (blocks are ≤64 KiB compressed).
  *  2. '''Record resync''': inside the inflated stream of a mid-file
  *     block, scan byte-by-byte for a plausible record start — field
  *     sanity (refID/next_refID within the header's reference count,
  *     l_read_name ≥ 2 with its NUL terminator in place, non-negative
  *     lengths, block_size consistent with the fixed-field layout) chained
  *     two records deep. Each check is individually weak; the conjunction
  *     across a chain has a vanishing false-positive probability.
  *
  * Ownership contract (the classic Hadoop split rule, applied twice): a
  * BGZF block belongs to the split containing its first byte; a record
  * belongs to the block containing its first byte. Each task reads past
  * its split end to finish its last record and discards the partial
  * record at its start — no duplicates, no drops, no shuffle.
  */
private[io] object BamScan {

  /** Parsed BAM header: reference names + the virtual position
    * (block file offset, intra-block offset) of the first record.
    * `firstRecBlock == Long.MaxValue` marks a record-less file.
    */
  final case class BamHeader(refs: Array[String], firstRecBlock: Long, firstRecIntra: Int)

  /** Growable window over the inflated bytes of a BGZF block chain.
    * Absolute offsets are stable across trimming/compaction, and each
    * appended block's file offset is kept so any inflated offset maps
    * back to its owning block (→ split ownership, virtual offsets).
    */
  final class InflatedWindow {
    private var data = new Array[Byte](1 << 16)
    private var base = 0L // absolute inflated offset of data(0)
    private var len = 0
    // (blockFileOffset, absInflatedStart), ascending; empty blocks skipped
    private val blocks = scala.collection.mutable.ArrayDeque.empty[(Long, Long)]

    def end: Long = base + len

    def append(fileOff: Long, bytes: Array[Byte]): Unit =
      if (bytes.nonEmpty) {
        blocks += ((fileOff, end))
        if (len + bytes.length > data.length) {
          val want = math.max(data.length * 2, len + bytes.length)
          data = java.util.Arrays.copyOf(data, want)
        }
        System.arraycopy(bytes, 0, data, len, bytes.length)
        len += bytes.length
      }

    private def blockIdx(abs: Long): Int = {
      require(blocks.nonEmpty && abs >= blocks.head._2 && abs < end,
        s"inflated offset $abs outside window [${if (blocks.isEmpty) -1 else blocks.head._2}, $end)")
      // searches from the tail: lookups cluster at the cursor
      var i = blocks.length - 1
      while (blocks(i)._2 > abs) i -= 1
      i
    }

    /** File offset of the block that owns inflated offset `abs`. */
    def ownerFileOffset(abs: Long): Long = blocks(blockIdx(abs))._1

    /** htslib-style virtual offset: blockFileOffset<<16 | intraOffset. */
    def voffset(abs: Long): Long = {
      val (fo, st) = blocks(blockIdx(abs))
      (fo << 16) | (abs - st)
    }

    /** Drop whole blocks before `abs`; compact the array once the dead
      * prefix exceeds 256 KiB, bounding memory to O(max record + block).
      */
    def trimBefore(abs: Long): Unit = {
      while (blocks.length > 1 && blocks(1)._2 <= abs) blocks.removeHead()
      val keepFrom = blocks.head._2
      if (keepFrom - base > (1 << 18)) {
        val shift = (keepFrom - base).toInt
        System.arraycopy(data, shift, data, 0, len - shift)
        len -= shift
        base = keepFrom
      }
    }

    def u8(abs: Long): Int = data((abs - base).toInt) & 0xff
    def u16(abs: Long): Int = {
      val i = (abs - base).toInt
      (data(i) & 0xff) | ((data(i + 1) & 0xff) << 8)
    }
    def i32(abs: Long): Int = {
      val i = (abs - base).toInt
      (data(i) & 0xff) | ((data(i + 1) & 0xff) << 8) |
        ((data(i + 2) & 0xff) << 16) | ((data(i + 3) & 0xff) << 24)
    }
    def string(abs: Long, n: Int): String =
      new String(data, (abs - base).toInt, n, java.nio.charset.StandardCharsets.US_ASCII)

    /** Backing (array, index) for `abs` — valid through [abs, end), no
      * copy. Stable until the next append/trim.
      */
    def raw(abs: Long): (Array[Byte], Int) = (data, (abs - base).toInt)
  }

  /** Sequentially inflates blocks from a stream into a window. */
  final class BlockFeed(in: java.io.InputStream, startOffset: Long) {
    private var off = startOffset
    def fileOffset: Long = off
    /** Inflate the next block into `w`; false at EOF. (Zero-payload
      * blocks — the EOF marker — return true and append nothing.)
      */
    def feed(w: InflatedWindow): Boolean =
      Bgzf.readBlockFrom(in) match {
        case Some((u, blockLen)) => w.append(off, u); off += blockLen; true
        case None => false
      }
  }

  /** Parse the BAM header from a stream positioned at offset 0. */
  def readHeader(in: java.io.InputStream): BamHeader = {
    val w = new InflatedWindow
    val feed = new BlockFeed(in, 0L)
    def ensure(n: Long): Unit = {
      while (w.end < n && feed.feed(w)) {}
      require(w.end >= n, s"truncated BAM header (have ${w.end}, need $n bytes)")
    }
    ensure(4)
    require(w.u8(0) == 'B' && w.u8(1) == 'A' && w.u8(2) == 'M' && w.u8(3) == 1,
      "not a BAM payload (bad magic)")
    ensure(12)
    val lText = w.i32(4)
    ensure(12L + lText)
    val nRef = w.i32(8L + lText)
    var p = 12L + lText
    val refs = new Array[String](nRef)
    var r = 0
    while (r < nRef) {
      ensure(p + 4)
      val lName = w.i32(p)
      ensure(p + 8 + lName)
      refs(r) = w.string(p + 4, lName - 1) // drop NUL
      p += 8 + lName
      r += 1
    }
    if (p == w.end) {
      // first record starts in a later block (or the file has none)
      var more = true
      while (p == w.end && more) more = feed.feed(w)
    }
    if (p == w.end) BamHeader(refs, Long.MaxValue, 0)
    else BamHeader(refs, w.ownerFileOffset(p), (w.voffset(p) & 0xffff).toInt)
  }

  /** Executor-local header memo keyed by (path, fileLen, mtime): with
    * `splitSize`-grained sharding every task of the same file needs the
    * same header, and a reference with many contigs (some assemblies have
    * 100k+) makes each re-parse megabytes of inflation. computeIfAbsent
    * parses once per executor; the crude size guard only matters if one
    * executor cycles through very many distinct BAMs. The modification
    * time (already in hand from split planning's FileStatus) is part of
    * the key so a BAM rewritten in place with an identical length can't
    * serve a stale header for the executor JVM's lifetime.
    */
  private val headerCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), BamHeader]()

  def cachedHeader(fs: FileSystem, path: Path, fileLen: Long, mtime: Long): BamHeader = {
    if (headerCache.size > 64) headerCache.clear()
    headerCache.computeIfAbsent((path.toString, fileLen, mtime), _ => {
      val in = fs.open(path)
      try readHeader(in) finally in.close()
    })
  }

  /** Smallest validated BGZF block boundary ≥ `from`; `fileLen` if none.
    * Validation = full inflate with CRC (see [[Bgzf.inflateBlockAt]]).
    */
  def syncToBlock(in: FSDataInputStream, from: Long, fileLen: Long): Long = {
    if (from >= fileLen) return fileLen
    // a boundary lies within 64 KiB; window covers it plus one whole block
    val want = math.min((1L << 17) + 18, fileLen - from).toInt
    val buf = new Array[Byte](want)
    in.readFully(from, buf, 0, want)
    var i = 0
    while (i + 18 <= want) {
      if ((buf(i) & 0xff) == 0x1f && (buf(i + 1) & 0xff) == 0x8b &&
        buf(i + 2) == 8 && (buf(i + 3) & 0x04) == 4) {
        val xlen = (buf(i + 10) & 0xff) | ((buf(i + 11) & 0xff) << 8)
        val blockLen = if (i + 12 + xlen <= want) blockLenAt(buf, i, xlen) else -1
        if (blockLen > 0 && from + i + blockLen <= fileLen) {
          val ok =
            try {
              if (i + blockLen <= want) Bgzf.inflateBlockAt(buf, i)
              else {
                // candidate block overruns the scan window: re-read whole
                val whole = new Array[Byte](blockLen)
                in.readFully(from + i, whole, 0, blockLen)
                Bgzf.inflateBlockAt(whole, 0)
              }
              true
            } catch { case _: Exception => false }
          if (ok) return from + i
        }
      }
      i += 1
    }
    if (from + want >= fileLen) fileLen
    else throw new IllegalStateException(
      s"no BGZF block boundary found within $want bytes after offset $from")
  }

  /** BSIZE+1 from a block header in `buf` at `i`, or -1 if BC missing. */
  private def blockLenAt(buf: Array[Byte], i: Int, xlen: Int): Int = {
    var sf = i + 12
    val sfEnd = i + 12 + xlen
    while (sf + 4 <= sfEnd) {
      val slen = (buf(sf + 2) & 0xff) | ((buf(sf + 3) & 0xff) << 8)
      if (buf(sf) == 'B' && buf(sf + 1) == 'C' && sf + 6 <= sfEnd)
        return ((buf(sf + 4) & 0xff) | ((buf(sf + 5) & 0xff) << 8)) + 1
      sf += 4 + slen
    }
    -1
  }

  // sanity bounds for the record-resync heuristic. Deliberately GENEROUS:
  // a true record above the bound at a resync point would be silently
  // skipped (data loss), so the bound must clear any conceivable record —
  // 64 MiB covers multi-Mbp long reads with large B-array tags several
  // times over. The cost of generosity is bounded lookahead inflation on
  // a false candidate, and false candidates are vanishingly rare (the
  // field conjunction over random bytes passes at ~2^-40).
  private val MaxRecordBytes = 1 << 26 // 64 MiB
  private val MaxSeqLen = 1 << 28

  /** Decode the records of one byte-range split [start, end) of a BAM
    * file. Registers stream close on task completion (abandoned iterators
    * — limit/take — must not leak the fd).
    */
  def splitRecords(
      fs: FileSystem, path: Path, fileLen: Long,
      start: Long, end: Long, mtime: Long): Iterator[Bam.BamRecord] = {
    val hdr = cachedHeader(fs, path, fileLen, mtime)
    if (hdr.firstRecBlock >= end || hdr.firstRecBlock >= fileLen)
      return Iterator.empty

    val in = fs.open(path)
    Option(TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => in.close()))
    def closeNow(): Unit = try in.close() catch { case _: java.io.IOException => () }

    val b0 =
      if (hdr.firstRecBlock >= start) hdr.firstRecBlock
      else
        try syncToBlock(in, start, fileLen)
        catch { case e: Throwable => closeNow(); throw e }
    if (b0 >= end || b0 >= fileLen) { closeNow(); return Iterator.empty }

    in.seek(b0)
    val w = new InflatedWindow
    val feed = new BlockFeed(in, b0)
    def ensure(n: Long): Boolean = {
      while (w.end < n && feed.feed(w)) {}
      w.end >= n
    }
    val nRefs = hdr.refs.length

    def looksLikeRecord(c: Long): Boolean =
      ensure(c + 36) && {
        val bs = w.i32(c)
        val refId = w.i32(c + 4)
        val pos0 = w.i32(c + 8)
        val lrn = w.u8(c + 12)
        val nCig = w.u16(c + 16)
        val lseq = w.i32(c + 20)
        val nref2 = w.i32(c + 24)
        val npos = w.i32(c + 28)
        bs >= 32 && bs <= MaxRecordBytes &&
        refId >= -1 && refId < nRefs && pos0 >= -1 &&
        lrn >= 2 && lseq >= 0 && lseq <= MaxSeqLen &&
        nref2 >= -1 && nref2 < nRefs && npos >= -1 &&
        32L + lrn + 4L * nCig + (lseq + 1L) / 2 + lseq <= bs &&
        ensure(c + 36 + lrn) && w.u8(c + 35 + lrn) == 0 // name NUL in place
      }

    def validAt(c: Long, depth: Int): Boolean =
      looksLikeRecord(c) && {
        if (depth == 0) true
        else {
          val nxt = c + 4 + w.i32(c)
          if (!ensure(nxt + 4)) nxt == w.end // clean end-of-records
          else validAt(nxt, depth - 1)
        }
      }

    // first record owned by this split
    var first = -1L
    if (b0 == hdr.firstRecBlock) {
      if (ensure(hdr.firstRecIntra + 1L)) first = hdr.firstRecIntra.toLong
    } else {
      var c = 0L
      var stop = false
      while (first < 0 && !stop) {
        if (!ensure(c + 1)) stop = true // ran out of bytes entirely
        else if (w.ownerFileOffset(c) >= end) stop = true // not ours
        else if (validAt(c, 2)) first = c
        else c += 1
      }
    }
    if (first < 0) { closeNow(); return Iterator.empty }

    val firstRec = first
    new Iterator[Bam.BamRecord] {
      private var cur = firstRec
      private var finished = false
      def hasNext: Boolean = {
        if (finished) false
        else if (!ensure(cur + 4)) {
          finished = true
          if (cur != w.end) throw new IllegalStateException(
            s"truncated BAM record: 4-byte block_size missing at inflated offset $cur of $path")
          closeNow(); false
        } else if (w.ownerFileOffset(cur) >= end) {
          finished = true; closeNow(); false
        } else {
          val bs = w.i32(cur)
          if (!ensure(cur + 4 + bs)) {
            finished = true
            throw new IllegalStateException(
              s"truncated BAM record at inflated offset $cur of $path: " +
                s"block_size $bs exceeds remaining bytes")
          }
          true
        }
      }
      def next(): Bam.BamRecord = {
        if (!hasNext) throw new NoSuchElementException("past end of BAM split")
        val bs = w.i32(cur)
        val (arr, idx) = w.raw(cur + 4)
        val rec = Bam.decodeRecord(arr, idx, bs, hdr.refs)
        cur += 4 + bs
        w.trimBefore(cur)
        rec
      }
    }
  }

  /** Decode the records of one .bai chunk [vBeg, vEnd) (virtual offsets)
    * that may overlap the region `refId`:`beg1`-`end1` (1-based,
    * inclusive). Chunk boundaries come from the index, so both ends are
    * exact record boundaries — no resync needed, and only the chunk's
    * blocks (plus any continuation of its last record) are read.
    *
    * htslib iterator parity: each record's refID, pos and binary CIGAR are
    * read from its raw bytes first. A record on another contig, or one
    * ending before `beg1`, is stepped over without decoding its strings;
    * the first record on `refId` starting past `end1` ends the chunk, as
    * the file is coordinate-sorted (a `.bai` exists only for such files,
    * see [[Bai.build]]). The caller's overlap filter stays the definition
    * of "overlaps"; this only skips records it would drop.
    */
  def chunkRecords(
      fs: FileSystem, path: Path, refs: Array[String],
      vBeg: Long, vEnd: Long, refId: Int, beg1: Int, end1: Int): Iterator[Bam.BamRecord] = {
    val in = fs.open(path)
    Option(TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => in.close()))
    def closeNow(): Unit = try in.close() catch { case _: java.io.IOException => () }

    val b0 = vBeg >> 16
    in.seek(b0)
    val w = new InflatedWindow
    val feed = new BlockFeed(in, b0)
    def ensure(n: Long): Boolean = {
      while (w.end < n && feed.feed(w)) {}
      w.end >= n
    }
    // reference bases the record at `c` spans (M, D, N, =, X ops), from
    // its binary CIGAR: the record body starts at c + 4, its read name at
    // c + 36 and the CIGAR right after the name
    def refSpan(c: Long): Int = {
      val nCig = w.u16(c + 16)
      var op = c + 36 + w.u8(c + 12)
      var n = 0
      var i = 0
      while (i < nCig) {
        val v = w.i32(op)
        if (RefOps(v & 0xf)) n += v >>> 4
        op += 4
        i += 1
      }
      n
    }

    new Iterator[Bam.BamRecord] {
      private var cur = (vBeg & 0xffff)
      private var finished = false
      private var atRecord = false // cur is the next record to decode
      def hasNext: Boolean = {
        while (!finished && !atRecord) {
          if (!ensure(cur + 4)) {
            finished = true
            if (cur != w.end) throw new IllegalStateException(
              s"truncated BAM record at inflated offset $cur of $path")
            closeNow()
          } else if (w.voffset(cur) >= vEnd) {
            finished = true; closeNow()
          } else {
            val bs = w.i32(cur)
            if (!ensure(cur + 4 + bs)) {
              finished = true
              throw new IllegalStateException(
                s"truncated BAM record at inflated offset $cur of $path")
            }
            val onRef = w.i32(cur + 4) == refId
            val pos1 = w.i32(cur + 8) + 1
            if (onRef && pos1 > end1) {
              finished = true; closeNow()
            } else if (!onRef || pos1 + math.max(1, refSpan(cur)) - 1 < beg1) {
              cur += 4 + bs
              w.trimBefore(cur)
            } else atRecord = true
          }
        }
        atRecord
      }
      def next(): Bam.BamRecord = {
        if (!hasNext) throw new NoSuchElementException("past end of BAM chunk")
        val bs = w.i32(cur)
        val (arr, idx) = w.raw(cur + 4)
        val rec = Bam.decodeRecord(arr, idx, bs, refs)
        cur += 4 + bs
        w.trimBefore(cur)
        atRecord = false
        rec
      }
    }
  }

  /** BAM CIGAR op codes (`MIDNSHP=X` order) that consume reference bases:
    * M, D, N, = and X — the ops [[graft.align.Cigar.refConsumed]] counts.
    */
  private val RefOps: Array[Boolean] =
    Array.tabulate(16)(i => i == 0 || i == 2 || i == 3 || i == 7 || i == 8)
}
