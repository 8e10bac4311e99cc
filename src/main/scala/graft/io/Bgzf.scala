package graft.io

import java.io.{ByteArrayOutputStream, OutputStream}
import java.util.zip.{CRC32, Deflater, Inflater}

/** BGZF (blocked gzip) codec — the container format of BAM files
  * (SAM spec §4.1; ref: seqtables/core/seqtables.py:227-283 ingests BAM via
  * pysam, which wraps htslib's BGZF layer).
  *
  * BGZF is a sequence of independent gzip members, each ≤64 KiB
  * uncompressed, carrying the compressed block length in a BC extra
  * subfield so a reader can hop block-to-block without inflating. The
  * independence of blocks is the format's scale feature: any byte range of
  * a BAM file can be decompressed without touching the rest, which is what
  * makes within-file splits possible (htslib virtual offsets = blockStart
  * << 16 | intraBlockOffset). This codec exposes block-level deflate /
  * inflate so callers can exploit exactly that.
  *
  * The stream stays stock-gzip compatible: `GZIPInputStream` inflates a
  * whole BGZF file because gzip readers must support concatenated members.
  */
object Bgzf {

  /** ≤64 KiB uncompressed per block per the spec; leave headroom so even
    * incompressible data fits the 16-bit BSIZE field after deflate.
    */
  val MaxBlockData: Int = 60000

  /** The spec's fixed 28-byte empty terminal block (SAM spec §4.1.2). */
  val EofMarker: Array[Byte] = Array(
    0x1f, 0x8b, 0x08, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff, 0x06, 0x00,
    0x42, 0x43, 0x02, 0x00, 0x1b, 0x00, 0x03, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00).map(_.toByte)

  /** The one BGZF block emitter. Bytes written to it are cut into blocks
    * of `blockData` uncompressed bytes, and a block is deflated as soon as
    * it fills; `close` deflates the rest, appends the EOF marker and closes
    * `out`. `blockData` below the default shrinks blocks — more of them per
    * file, which is how tests force records to straddle block boundaries.
    */
  final class Writer(out: OutputStream, blockData: Int = MaxBlockData) extends OutputStream {
    require(blockData > 0 && blockData <= MaxBlockData,
      s"blockData must be in (0, $MaxBlockData], got $blockData")
    private val data = new Array[Byte](blockData)
    private val cbuf = new Array[Byte](blockData + 1024)
    private val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    private var pending = 0 // bytes in `data`
    private var emitted = 0L // compressed bytes written to `out`

    /** Virtual offset of the next byte written: compressed bytes emitted
      * << 16 | bytes pending. A full block is already deflated, so the end
      * of a block reads as the next block's start, as a reader sees it;
      * after `close` this is the EOF marker's offset.
      */
    def voffset: Long = (emitted << 16) | pending

    override def write(b: Int): Unit = {
      data(pending) = b.toByte
      pending += 1
      if (pending == blockData) deflateBlock()
    }

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      val n = math.min(blockData - pending, len)
      System.arraycopy(b, off, data, pending, n)
      pending += n
      if (pending == blockData) deflateBlock()
      if (n < len) write(b, off + n, len - n)
    }

    override def close(): Unit =
      try { if (pending > 0) deflateBlock(); out.write(EofMarker) } finally abort()

    /** Ends the deflater and closes `out` without finishing the file: the
      * way out for a writer whose file is to be discarded.
      */
    def abort(): Unit = try deflater.end() finally out.close()

    /** One BGZF member of the pending bytes: gzip header with the BC
      * (BSIZE) extra subfield, raw deflate payload, CRC32 + ISIZE footer.
      */
    private def deflateBlock(): Unit = {
      deflater.reset()
      deflater.setInput(data, 0, pending)
      deflater.finish()
      val clen = deflater.deflate(cbuf)
      require(deflater.finished(), "BGZF block did not fit the deflate buffer")
      val crc = new CRC32
      crc.update(data, 0, pending)
      val bsize = clen + 12 + 6 + 8 // header + XLEN extra + footer
      require(bsize <= 65536, "compressed BGZF block exceeds BSIZE range")
      out.write(EofMarker, 0, 16) // the header and BC subfield id every member shares
      LE.put16(out, bsize - 1) // BSIZE = block length - 1
      out.write(cbuf, 0, clen)
      LE.put32(out, crc.getValue.toInt)
      LE.put32(out, pending) // ISIZE
      emitted += bsize
      pending = 0
    }
  }

  /** Whole-payload compress: [[Writer]] over an array. */
  def compress(data: Array[Byte], blockData: Int = MaxBlockData): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length / 2 + 64)
    scala.util.Using.resource(new Writer(out, blockData))(_.write(data))
    out.toByteArray
  }

  /** Parse + inflate ONE member at `off`; returns (payload, blockLength).
    * Validates the BSIZE chain arithmetic, ISIZE, and the CRC32 footer, so
    * a false sync candidate (gzip magic appearing inside compressed data)
    * is rejected with overwhelming probability.
    */
  def inflateBlockAt(data: Array[Byte], off: Int): (Array[Byte], Int) = {
    require(data.length - off >= 18, s"truncated BGZF block at $off")
    require((data(off) & 0xff) == 0x1f && (data(off + 1) & 0xff) == 0x8b,
      s"bad gzip magic at $off")
    val xlen = LE.u16(data, off + 10)
    require(off + 12 + xlen <= data.length, s"truncated BGZF extra field at $off")
    val blockLen = blockLength(data, off)
    require(blockLen > 0, s"BGZF BC subfield missing at $off")
    require(off + blockLen <= data.length, s"BGZF block at $off overruns input")
    val cdataOff = off + 12 + xlen
    val cdataLen = blockLen - 12 - xlen - 8
    require(cdataLen >= 0, s"BGZF block at $off has negative cdata length")
    val isize = LE.u32(data, off + blockLen - 4).toInt
    val ubuf =
      if (isize == 0) Array.emptyByteArray
      else {
        val inflater = new Inflater(true)
        inflater.setInput(data, cdataOff, cdataLen)
        val b = new Array[Byte](isize)
        var got = 0
        while (got < isize && !inflater.finished())
          got += inflater.inflate(b, got, isize - got)
        inflater.end()
        require(got == isize, s"BGZF block at $off inflated $got != ISIZE $isize")
        b
      }
    val crc = new CRC32
    crc.update(ubuf)
    require(crc.getValue == LE.u32(data, off + blockLen - 8),
      s"BGZF block at $off fails CRC")
    (ubuf, blockLen)
  }

  /** Inflate every member block back-to-back. Walks the BC/BSIZE chain —
    * the same hop the virtual-offset splitter takes — rather than
    * streaming through GZIPInputStream, so malformed chains fail loudly.
    */
  def inflate(data: Array[Byte]): Array[Byte] = {
    val in = new java.io.ByteArrayInputStream(data)
    Iterator.continually(readBlockFrom(in)).takeWhile(_.nonEmpty).map(_.get._1).toArray.flatten
  }

  /** Read ONE member from a stream positioned at a block boundary; None at
    * clean EOF (zero bytes available). Reads exactly the block's bytes, so
    * the stream lands on the next boundary.
    */
  def readBlockFrom(in: java.io.InputStream): Option[(Array[Byte], Int)] = {
    val head = new Array[Byte](12)
    if (!readFully(in, head, 0, 12)) None
    else {
      require((head(0) & 0xff) == 0x1f && (head(1) & 0xff) == 0x8b,
        "bad gzip magic mid-stream")
      val xlen = LE.u16(head, 10)
      val blockHead = java.util.Arrays.copyOf(head, 12 + xlen)
      require(readFully(in, blockHead, 12, xlen), "truncated BGZF extra field")
      val blockLen = blockLength(blockHead, 0)
      require(blockLen > 0, "BGZF BC subfield missing mid-stream")
      val block = java.util.Arrays.copyOf(blockHead, blockLen)
      require(readFully(in, block, 12 + xlen, blockLen - 12 - xlen),
        "truncated BGZF block body")
      Some(inflateBlockAt(block, 0))
    }
  }

  /** Fill buf[off, off+len); true on success, false if the stream was at
    * EOF before the first byte, error on a partial read.
    */
  private def readFully(
      in: java.io.InputStream, buf: Array[Byte], off: Int, len: Int): Boolean = {
    val got = in.readNBytes(buf, off, len)
    if (got > 0 && got < len) throw new IllegalStateException(
      s"stream ended $got bytes into a $len-byte BGZF read")
    got == len
  }

  /** The length (BSIZE + 1) of the block whose header is at `off`, from
    * the BC subfield of its extra field, which must lie inside `b`; -1
    * when there is no BC subfield.
    */
  private[io] def blockLength(b: Array[Byte], off: Int): Int = {
    val sfEnd = off + 12 + LE.u16(b, off + 10)
    var sf = off + 12
    while (sf + 4 <= sfEnd) {
      if (b(sf) == 'B' && b(sf + 1) == 'C' && sf + 6 <= sfEnd) return LE.u16(b, sf + 4) + 1
      sf += 4 + LE.u16(b, sf + 2)
    }
    -1
  }
}

/** Little-endian field reads and writes, shared by every codec in `io`. */
private[io] object LE {
  def u16(b: Array[Byte], off: Int): Int = (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  def i32(b: Array[Byte], off: Int): Int = u16(b, off) | (u16(b, off + 2) << 16)
  def u32(b: Array[Byte], off: Int): Long = i32(b, off) & 0xffffffffL

  def put16(out: OutputStream, v: Int): Unit = { out.write(v); out.write(v >> 8) }
  def put32(out: OutputStream, v: Int): Unit = { put16(out, v); put16(out, v >> 16) }
  def put64(out: OutputStream, v: Long): Unit = {
    put32(out, v.toInt); put32(out, (v >>> 32).toInt)
  }
}
