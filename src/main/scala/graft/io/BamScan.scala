package graft.io

import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}

import org.apache.spark.TaskContext

/** BAM record walks (ref contract: seqtables/core/seqtables.py:227-283
  * `from_pysam`; format: SAM spec §4).
  *
  * Every reader of BAM records walks the inflated BGZF block chain through
  * one cursor, [[Records]]: the header parse, the byte-range split reader
  * ([[splitRecords]], behind `Bam.read`), the region chunk reader
  * ([[chunkRecords]], behind `Bam.fetch`) and the index build
  * ([[Bai.build]]). The cursor owns the stream, the inflated window, the
  * one truncation check, the EOF-marker check and the raw field reads,
  * binary CIGAR span included; each caller adds only its own rule for
  * where to start and which records to take.
  *
  * BGZF blocks are independently inflatable, so any byte range of a BAM
  * can be decompressed without touching the rest — but neither a split
  * boundary nor a block boundary is a RECORD boundary. The split reader
  * solves both resyncs, giving a single huge BAM the same
  * task-per-byte-range sharding a text file gets:
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
    def u16(abs: Long): Int = LE.u16(data, (abs - base).toInt)
    def i32(abs: Long): Int = LE.i32(data, (abs - base).toInt)
    def string(abs: Long, n: Int): String =
      new String(data, (abs - base).toInt, n, java.nio.charset.StandardCharsets.US_ASCII)

    /** Backing (array, index) for `abs` — valid through [abs, end), no
      * copy. Stable until the next append/trim.
      */
    def raw(abs: Long): (Array[Byte], Int) = (data, (abs - base).toInt)
  }

  /** Sequentially inflates blocks from a stream into a window. */
  private final class BlockFeed(in: java.io.InputStream, startOffset: Long) {
    private var off = startOffset
    def fileOffset: Long = off
    /** True when the last block read had no payload (the EOF marker). */
    var endedEmpty = false
    /** Inflate the next block into `w`; false at EOF. (Zero-payload
      * blocks — the EOF marker — return true and append nothing.)
      */
    def feed(w: InflatedWindow): Boolean =
      Bgzf.readBlockFrom(in) match {
        case Some((u, blockLen)) =>
          w.append(off, u); off += blockLen; endedEmpty = u.isEmpty; true
        case None => false
      }
  }

  /** Parse the header of the BAM at `path`. */
  def readHeader(fs: FileSystem, path: Path): BamHeader = {
    val r = new Records(fs, path, 0L)
    try r.readHeader() finally r.close()
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
    headerCache.computeIfAbsent((path.toString, fileLen, mtime), _ => readHeader(fs, path))
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
        val blockLen = if (i + 12 + LE.u16(buf, i + 10) <= want) Bgzf.blockLength(buf, i) else -1
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

  // sanity bounds for the record-resync heuristic. Deliberately GENEROUS:
  // a true record above the bound at a resync point would be silently
  // skipped (data loss), so the bound must clear any conceivable record —
  // 64 MiB covers multi-Mbp long reads with large B-array tags several
  // times over. The cost of generosity is bounded lookahead inflation on
  // a false candidate, and false candidates are vanishingly rare (the
  // field conjunction over random bytes passes at ~2^-40).
  private val MaxRecordBytes = 1 << 26 // 64 MiB
  private val MaxSeqLen = 1 << 28

  /** What a record walk does with the whole record at the cursor. */
  sealed trait Step
  case object Take extends Step
  case object Skip extends Step
  case object Stop extends Step

  /** The one walk over a BAM's records, from virtual offset `vStart` on.
    * It opens the stream (closed on task completion too, so an abandoned
    * iterator — limit/take — does not leak the fd), owns the inflated
    * window and its feed, and reads each record's fixed fields and
    * binary CIGAR in place, so a caller that only needs coordinates never
    * decodes strings. Inflated offsets count from the block at `vStart`.
    */
  final class Records(fs: FileSystem, path: Path, vStart: Long) {
    private val in = fs.open(path)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
    in.seek(vStart >>> 16)
    val window = new InflatedWindow
    private val feed = new BlockFeed(in, vStart >>> 16)
    private var at = vStart & 0xffff // inflated offset of the record at the cursor
    private var size = 0 // its block_size, once advance() has returned true

    def close(): Unit = try in.close() catch { case _: java.io.IOException => () }

    /** Inflate blocks until the window reaches inflated offset `n`; false
      * if the chain ends first.
      */
    def ensure(n: Long): Boolean = {
      while (window.end < n && feed.feed(window)) {}
      window.end >= n
    }

    /** The chain ended cleanly: that is the end of the file only after
      * the empty block BGZF writers put last. Without it, a file cut at
      * a block boundary that is also a record boundary would read as a
      * shorter, valid file.
      */
    private def cleanEnd(): Unit =
      if (!feed.endedEmpty) throw new IllegalStateException(s"missing BGZF EOF marker in $path")

    private def need(n: Long): Unit =
      if (!ensure(n)) throw new IllegalStateException(
        s"truncated BAM at inflated offset $at of $path: needs ${n - at} bytes, " +
          s"${window.end - at} remain")

    /** Parse the header; the cursor must be at virtual offset 0, and is
      * left on the first record.
      */
    def readHeader(): BamHeader = {
      val w = window
      need(4)
      require(w.u8(0) == 'B' && w.u8(1) == 'A' && w.u8(2) == 'M' && w.u8(3) == 1,
        s"not a BAM payload (bad magic): $path")
      need(12)
      val lText = w.i32(4)
      need(12L + lText)
      val nRef = w.i32(8L + lText)
      var p = 12L + lText
      val refs = new Array[String](nRef)
      var r = 0
      while (r < nRef) {
        need(p + 4)
        val lName = w.i32(p)
        need(p + 8 + lName)
        refs(r) = w.string(p + 4, lName - 1) // drop NUL
        p += 8 + lName
        r += 1
      }
      at = p
      // the first record may start in a later block, or the file has none
      if (ensure(p + 1)) BamHeader(refs, w.ownerFileOffset(p), (w.voffset(p) & 0xffff).toInt)
      else { cleanEnd(); BamHeader(refs, Long.MaxValue, 0) }
    }

    /** Put the cursor on the record at inflated offset `abs`. */
    def moveTo(abs: Long): Unit = at = abs

    /** True when a whole record is at the cursor, false at a clean end of
      * the block chain (which must be the EOF marker); a record cut short
      * is the one truncation error.
      */
    def advance(): Boolean =
      if (!ensure(at + 4) && at == window.end) { cleanEnd(); false }
      else {
        need(at + 4)
        size = window.i32(at)
        require(size >= 32, s"corrupt BAM record at inflated offset $at of $path: block_size $size")
        need(at + 4 + size)
        true
      }

    // raw fields of the record at the cursor: its body starts at at + 4,
    // its read name at at + 36 and its CIGAR right after the name
    def refId: Int = window.i32(at + 4)
    def pos0: Int = window.i32(at + 8)
    def voffset: Long = window.voffset(at)
    def ownerBlock: Long = window.ownerFileOffset(at)

    /** Virtual offset just past the record at the cursor. */
    def voffsetEnd: Long = {
      val e = at + 4 + size
      if (e < window.end) window.voffset(e)
      else feed.fileOffset << 16 // record flush with the last block read
    }

    /** Reference bases the record spans, from its binary CIGAR (the
      * [[RefOps]]); an op code past X fails here, for every walk.
      */
    def refSpan: Int = {
      val nCig = window.u16(at + 16)
      var op = at + 36 + window.u8(at + 12)
      var n = 0
      var i = 0
      while (i < nCig) {
        val v = window.i32(op)
        val code = v & 0xf
        if (code >= RefOps.length) throw new IllegalStateException(
          s"invalid CIGAR op code $code at inflated offset $at of $path")
        if (RefOps(code)) n += v >>> 4
        op += 4
        i += 1
      }
      n
    }

    /** Step past the record at the cursor. */
    def skip(): Unit = {
      at += 4 + size
      window.trimBefore(at)
    }

    /** Decode the record at the cursor and step past it. */
    def decode(refs: Array[String]): Bam.BamRecord = {
      refSpan // the op-code check
      val (arr, idx) = window.raw(at + 4)
      val rec = Bam.decodeRecord(arr, idx, size, refs)
      skip()
      rec
    }

    /** The records from the cursor on that `step` takes, decoded; the walk
      * ends at the first Stop or at the end of the chain.
      */
    def decoded(refs: Array[String])(step: Records => Step): Iterator[Bam.BamRecord] =
      new Iterator[Bam.BamRecord] {
        private var state: Step = Skip // Skip: no taken record at the cursor yet
        def hasNext: Boolean = {
          while (state == Skip) {
            state = if (advance()) step(Records.this) else Stop
            if (state == Skip) skip()
            else if (state == Stop) close()
          }
          state == Take
        }
        def next(): Bam.BamRecord = {
          if (!hasNext) throw new NoSuchElementException(s"past the last record of $path")
          state = Skip
          decode(refs)
        }
      }
  }

  /** Decode the records of one byte-range split [start, end) of a BAM
    * file: block sync, record resync, then every record whose first byte
    * lies in a block this split owns.
    */
  def splitRecords(
      fs: FileSystem, path: Path, fileLen: Long,
      start: Long, end: Long, mtime: Long): Iterator[Bam.BamRecord] = {
    val hdr = cachedHeader(fs, path, fileLen, mtime)
    if (hdr.firstRecBlock >= end || hdr.firstRecBlock >= fileLen)
      return Iterator.empty
    val resync = hdr.firstRecBlock < start
    val b0 =
      if (!resync) hdr.firstRecBlock
      else { val in = fs.open(path); try syncToBlock(in, start, fileLen) finally in.close() }
    if (b0 >= end || b0 >= fileLen) return Iterator.empty

    val r = new Records(fs, path, (b0 << 16) | (if (resync) 0 else hdr.firstRecIntra))
    if (resync) {
      val w = r.window
      val nRefs = hdr.refs.length
      def looksLikeRecord(c: Long): Boolean =
        r.ensure(c + 36) && {
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
          r.ensure(c + 36 + lrn) && w.u8(c + 35 + lrn) == 0 // name NUL in place
        }
      def validAt(c: Long, depth: Int): Boolean =
        looksLikeRecord(c) && {
          if (depth == 0) true
          else {
            val nxt = c + 4 + w.i32(c)
            if (!r.ensure(nxt + 4)) nxt == w.end // clean end-of-records
            else validAt(nxt, depth - 1)
          }
        }
      // first record owned by this split
      var c = 0L
      var found = false
      while (!found && r.ensure(c + 1) && w.ownerFileOffset(c) < end)
        if (validAt(c, 2)) found = true else c += 1
      if (!found) { r.close(); return Iterator.empty }
      r.moveTo(c)
    }
    r.decoded(hdr.refs)(c => if (c.ownerBlock >= end) Stop else Take)
  }

  /** Decode the records of one .bai chunk [vBeg, vEnd) (virtual offsets)
    * that overlap the region `refId`:`beg1`-`end1` (1-based, inclusive).
    * Chunk boundaries come from the index, so both ends are exact record
    * boundaries — no resync needed, and only the chunk's blocks (plus any
    * continuation of its last record) are read.
    *
    * This is the definition of "overlaps", with htslib iterator parity:
    * each record's refID, pos and binary CIGAR are read from its raw
    * bytes. A record on another contig, or one whose span
    * `[pos, pos + max(1, refSpan) - 1]` ends before `beg1`, is stepped
    * over without decoding its strings; the first record on `refId`
    * starting past `end1` ends the chunk, as the file is
    * coordinate-sorted (a `.bai` exists only for such files, see
    * [[Bai.Builder]]). Every record decoded overlaps the region.
    */
  def chunkRecords(
      fs: FileSystem, path: Path, refs: Array[String],
      vBeg: Long, vEnd: Long, refId: Int, beg1: Int, end1: Int): Iterator[Bam.BamRecord] =
    new Records(fs, path, vBeg).decoded(refs) { r =>
      val onRef = r.refId == refId
      val pos1 = r.pos0 + 1
      if (r.voffset >= vEnd || (onRef && pos1 > end1)) Stop
      else if (!onRef || pos1 + math.max(1, r.refSpan) - 1 < beg1) Skip
      else Take
    }

  /** BAM CIGAR op codes, in `MIDNSHP=X` order; true for the ones that
    * consume reference bases: M, D, N, = and X. Codes 9–15 are invalid.
    * [[graft.align.Cigar.refConsumed]] is the same span over CIGAR text.
    */
  private[io] val RefOps: Array[Boolean] =
    Array.tabulate(9)(i => i == 0 || i == 2 || i == 3 || i == 7 || i == 8)
}
