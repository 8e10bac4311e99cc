package graft.io

import java.io.InputStream
import java.nio.charset.StandardCharsets

import scala.reflect.ClassTag

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** The file side of the split readers ([[Fastq]], [[Warc]], [[Bam]]):
  * which files a path names, how each file is cut into byte ranges, how
  * the ranges become tasks, and the offset-tracking line reader the text
  * formats parse with. A reader adds only its record rule: the resync
  * that finds the first record a split owns (records are owned by the
  * split holding their first byte) and the walk that stops at the first
  * record it does not own.
  */
private[io] object SplitFiles {

  /** Byte range [start, end) of the file `path`, `fileLen` bytes long. */
  final case class Split(path: String, start: Long, end: Long, fileLen: Long, mtime: Long)

  /** The files `path` names (a file, a glob, or a directory's files)
    * whose names `accept` takes. Hidden names (`_SUCCESS`, `.crc`, a
    * writer's in-flight temp) and zero-length files (an in-flight write,
    * a touch artifact: no records either way) are skipped. It is the one
    * listing rule, so the readers, the index build and the sinks'
    * stale-shard cleanup agree on which files exist.
    */
  def list(fs: FileSystem, path: String, accept: String => Boolean): Seq[FileStatus] =
    Option(fs.globStatus(new Path(path))).getOrElse(Array.empty[FileStatus])
      .flatMap(st => if (st.isDirectory) fs.listStatus(st.getPath).filter(_.isFile) else Array(st))
      .filter { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") && st.getLen > 0 && accept(n)
      }
      .toSeq

  /** `records` of every `splitSize` byte range of the files `path` names
    * (a file `splittable` rejects, such as a gzip stream, is one range).
    *
    * Split pooling (FileSourceScanExec-style bin-packing): every split
    * keeps its exact byte range, so ownership-by-first-byte and the
    * boundary resync run at every `splitSize` boundary, but contiguous
    * splits share one task instead of paying a scheduler launch each (a
    * small-`splitSize` stress read of a 10 MB archive would otherwise
    * schedule ~1300 tasks). The task count stays scale-adaptive: one task
    * per split once splits reach ~128 MB (the production shape, where
    * pooling is inert), and at most ~4 waves of the available cores for
    * many-tiny-split layouts.
    */
  def scan[T: ClassTag](
      spark: SparkSession,
      path: String,
      splitSize: Long,
      accept: String => Boolean,
      splittable: Path => Boolean = _ => true)(
      records: (FileSystem, Split) => Iterator[T]): RDD[T] = {
    require(splitSize > 0, s"splitSize must be positive, got $splitSize")
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val files = list(fs, path, accept)
    val splits = files.flatMap { st =>
      val len = st.getLen
      val step = if (splittable(st.getPath)) splitSize else len
      (0L until len by step).map { off =>
        Split(st.getPath.toString, off, math.min(off + step, len), len, st.getModificationTime)
      }
    }
    val pooled = math.max(
      spark.sparkContext.defaultParallelism * 4,
      (files.map(_.getLen).sum / (128L * 1024 * 1024)).toInt + 1)
    launch(spark, splits, math.min(splits.size, pooled))(_.path)(records)
  }

  /** `run` over every unit, in `tasks` tasks (contiguous units share
    * one). The session's Hadoop conf is shipped once, and each unit gets
    * the FileSystem of the file `file` names for it.
    */
  def launch[U: ClassTag, T: ClassTag](spark: SparkSession, units: Seq[U], tasks: Int)(
      file: U => String)(run: (FileSystem, U) => Iterator[T]): RDD[T] = {
    val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    spark.sparkContext
      .parallelize(units, math.max(1, tasks))
      .flatMap(u => run(new Path(file(u)).getFileSystem(conf.value), u))
  }

  /** A line reader over `split`'s file, on the first line that starts at
    * or after the split start.
    */
  def lines(fs: FileSystem, split: Split): OffsetLineReader = {
    // start one byte early: if the split begins exactly at a line start,
    // the discarded "partial line" is just the previous line's '\n' and
    // nothing real is skipped
    val seekTo = math.max(0L, split.start - 1)
    val in = fs.open(new Path(split.path))
    in.seek(seekTo)
    val r = reader(in, seekTo)
    if (split.start > 0) r.readLine()
    r
  }

  /** A line reader over a stream opened on a file, at offset `pos`. The
    * stream is closed when the task completes, since an abandoned
    * iterator (limit/take over many splits) never reaches EOF: one
    * listener per opened stream, never one per record.
    */
  def reader(in: InputStream, pos: Long): OffsetLineReader = {
    val r = new OffsetLineReader(in, pos)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => r.close()))
    r
  }
}

/** Byte reader tracking absolute offsets: LF (CR-stripped) line reads
  * plus exact-length raw reads for binary payloads, through a
  * `bufSize`-byte buffer. The stream is closed at EOF or by [[close]];
  * whoever opens a file stream also closes it at task end (see
  * [[SplitFiles.reader]]). A reader over an in-memory record
  * ([[OffsetLineReader.of]]) holds no stream and registers nothing, so
  * it is garbage as soon as its record is parsed.
  */
private[io] final class OffsetLineReader(in: InputStream, startPos: Long,
    bufSize: Int = 64 * 1024) {
  private var pos = startPos
  private val buf = new Array[Byte](bufSize)
  private var bufLen = 0
  private var bufPos = 0
  private var eof = false

  /** Idempotent; latches EOF so later reads stay null. */
  def close(): Unit = {
    if (!eof) { eof = true; try in.close() catch { case _: java.io.IOException => } }
  }

  /** (lineStartOffset, line sans CR/LF) or null at latched EOF.
    *
    * The line's bytes are accumulated RAW and decoded as UTF-8 at the
    * end: appending `b.toChar` on a signed Byte would sign-extend every
    * non-ASCII byte (0xE2 -> U+FFE2) and never assemble multi-byte
    * sequences, silently corrupting a non-ASCII WARC-Target-URI or FASTQ
    * read name.
    */
  def readLine(): (Long, String) = {
    if (eof) return null
    val start = pos
    var line = new Array[Byte](128)
    var lineLen = 0
    var done = false
    var sawAny = false
    while (!done) {
      if (bufPos == bufLen) {
        bufLen = in.read(buf)
        bufPos = 0
        if (bufLen <= 0) { done = true; eof = true; in.close() }
      } else {
        val b = buf(bufPos); bufPos += 1; pos += 1
        sawAny = true
        if (b == '\n') done = true
        else {
          if (lineLen == line.length)
            line = java.util.Arrays.copyOf(line, lineLen * 2)
          line(lineLen) = b
          lineLen += 1
        }
      }
    }
    if (!sawAny) null
    else {
      if (lineLen > 0 && line(lineLen - 1) == '\r') lineLen -= 1
      (start, new String(line, 0, lineLen, StandardCharsets.UTF_8))
    }
  }

  /** Exactly n raw bytes, or null if EOF interrupts. */
  def readFully(n: Int): Array[Byte] = {
    if (eof && n > 0) return null
    val out = new Array[Byte](n)
    var got = 0
    while (got < n) {
      if (bufPos == bufLen) {
        bufLen = in.read(buf)
        bufPos = 0
        if (bufLen <= 0) { eof = true; in.close(); return null }
      } else {
        val take = math.min(n - got, bufLen - bufPos)
        System.arraycopy(buf, bufPos, out, got, take)
        bufPos += take; got += take; pos += take
      }
    }
    out
  }
}

private[io] object OffsetLineReader {
  /** A reader over one in-memory record, its buffer sized to the record
    * (at most 64 KiB).
    */
  def of(bytes: Array[Byte]): OffsetLineReader =
    new OffsetLineReader(new java.io.ByteArrayInputStream(bytes), 0L,
      math.max(1, math.min(bytes.length, 64 * 1024)))
}
