package graft.io

import java.io.InputStream
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WARC 1.0 reader/writer (ISO 28500 — the CommonCrawl container, the
  * entry format of every web-scale training-data pipeline; no reference
  * counterpart, part of the §2.12 web layer).
  *
  * Record layout: a `WARC/1.0` version line, CRLF header lines
  * (`Name: value`) including a mandatory `Content-Length`, a blank line,
  * exactly Content-Length payload BYTES, then CRLF CRLF. Payloads are
  * arbitrary binary.
  *
  * Shuffle-free split reader, the [[Fastq]]/[[BamScan]] discipline:
  * records are owned by the split containing the first byte of their
  * version line; a task seeks to its split start, discards the partial
  * line, and resyncs to the next `WARC/1.0` line whose following lines
  * VALIDATE as a header block (well-formed `Name: value` lines up to a
  * blank line, with a parseable Content-Length) — from there it walks
  * records by declared length, so payload bytes that merely *contain*
  * "WARC/1.0" are never re-inspected. The resync validation makes a
  * false sync into a payload astronomically unlikely for real content
  * but not impossible (a payload embedding a byte-exact WARC record is
  * indistinguishable mid-stream — CommonCrawl sidesteps this by gzipping
  * each record as its own member; this reader takes `.warc.gz` files
  * whole-file for the same reason, gzip not being splittable anyway).
  */
object Warc {

  /** Write one `.warc` file per partition of `df(id, uri, payload)`;
    * payload may be STRING (UTF-8-encoded) or BINARY. Returns the file
    * paths. Existing part files in `dir` (including stale in-progress
    * temps from failed attempts) are removed first — re-layout must not
    * leave stale shards for the listing-driven reader.
    *
    * With `memberGzip = true`, each record is compressed as its OWN
    * gzip member and the shards are named `.warc.gz` — the CommonCrawl
    * layout, which is what makes huge compressed archives splittable:
    * the reader resyncs on gzip member starts instead of needing the
    * whole stream.
    *
    * Task-retry / speculation safety: each attempt writes to an
    * attempt-unique temp name (`.part-$pid.warc.attempt-$id`) and
    * renames into place on success, so two attempts of the same
    * partition never interleave bytes in one file. The committed shard
    * is NEVER deleted first — a rename that fails because a twin
    * attempt already committed counts as success (the twin shard is
    * byte-identical: same partition data), so a speculative attempt
    * killed mid-commit can never leave the shard missing.
    *
    * Header values (id, uri) must not contain CR/LF/NUL — a '\n' inside
    * a URI would inject header lines (or terminate the block early) and
    * silently corrupt the record for every downstream reader, exactly
    * the hostile input a crawl pipeline sees. Rejected loudly here
    * rather than escaped: WARC has no header escaping convention, so an
    * escaped value would not round-trip either.
    */
  def write(df: DataFrame, dir: String, memberGzip: Boolean = false,
      warcType: String = "response"): Seq[String] = {
    val spark = df.sparkSession
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(dirPath))
      fs.listStatus(dirPath).filter(_.isFile)
        .filter(_.getPath.getName.contains("part-"))
        .foreach(st => fs.delete(st.getPath, false))
    fs.mkdirs(dirPath)
    val serConf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val ext = if (memberGzip) "warc.gz" else "warc"
    df.select(col(df.columns(0)).cast("string").as("id"),
        col(df.columns(1)).cast("string").as("uri"),
        col(df.columns(2)).cast("binary").as("payload"))
      .rdd
      .mapPartitions { it =>
        if (it.isEmpty) Iterator.empty
        else {
          val tc = org.apache.spark.TaskContext.get()
          val pid = tc.partitionId()
          val shard = new Path(s"$dir/part-$pid.$ext")
          val tmp = new Path(s"$dir/.part-$pid.$ext.attempt-${tc.taskAttemptId()}")
          val shardFs = shard.getFileSystem(serConf.value)
          val out = shardFs.create(tmp, true)
          try {
            it.foreach { r =>
              val payload = r.getAs[Array[Byte]]("payload")
              val id = checkHeaderValue(r.getAs[String]("id"), "id")
              val uri = checkHeaderValue(r.getAs[String]("uri"), "uri")
              val headBytes = recordHead(id, uri, payload.length, warcType)
              if (memberGzip) {
                val rec = new java.io.ByteArrayOutputStream(
                  headBytes.length + payload.length + 4)
                rec.write(headBytes); rec.write(payload)
                rec.write("\r\n\r\n".getBytes(StandardCharsets.UTF_8))
                val gz = new java.io.ByteArrayOutputStream()
                val gzOut = new java.util.zip.GZIPOutputStream(gz)
                gzOut.write(rec.toByteArray); gzOut.close()
                out.write(gz.toByteArray)
              } else {
                out.write(headBytes)
                out.write(payload)
                out.write("\r\n\r\n".getBytes(StandardCharsets.UTF_8))
              }
            }
            out.close()
            // commit: rename into place; a failed rename onto an
            // already-committed (byte-identical) twin shard IS success
            if (!shardFs.rename(tmp, shard)) {
              if (shardFs.exists(shard)) shardFs.delete(tmp, false)
              else throw new java.io.IOException(s"rename $tmp -> $shard failed")
            }
          } catch {
            case e: Throwable =>
              try out.close() catch { case _: java.io.IOException => }
              shardFs.delete(tmp, false)
              throw e
          }
          Iterator.single(shard.toString)
        }
      }
      .collect().toSeq
  }

  /** Record id for (source id, type): conversion records (WET) live in
    * their own `conv:` namespace and metadata records (WAT) in `meta:`,
    * so the WARC/WET/WAT triple never collides on WARC-Record-ID
    * (ISO 28500 requires uniqueness) and the back-pointer is
    * distinguishable from a self-reference.
    */
  private[io] def recordId(id: String, warcType: String): String = warcType match {
    case "conversion" => s"<urn:graft:conv:$id>"
    case "metadata"   => s"<urn:graft:meta:$id>"
    case _            => s"<urn:graft:$id>"
  }

  /** Header block of one record. `warcType` is writer-controlled (not
    * data), so it skips checkHeaderValue; `conversion` records (the
    * WET layout — extracted text derived from a crawled response) and
    * `metadata` records (the WAT layout — parsed wire facts + link set
    * as deterministic JSON) carry the ISO 28500 `WARC-Refers-To`
    * back-pointer to the response record they were derived from.
    */
  private def recordHead(
      id: String, uri: String, payloadLen: Int, warcType: String): Array[Byte] = {
    val refersTo =
      if (warcType == "conversion" || warcType == "metadata")
        s"WARC-Refers-To: <urn:graft:$id>\r\n"
      else ""
    (s"WARC/1.0\r\n" +
      s"WARC-Type: $warcType\r\n" +
      s"WARC-Record-ID: ${recordId(id, warcType)}\r\n" +
      refersTo +
      s"WARC-Target-URI: $uri\r\n" +
      s"Content-Length: $payloadLen\r\n\r\n").getBytes(StandardCharsets.UTF_8)
  }

  private def recordBytes(
      id: String, uri: String, payload: Array[Byte], memberGzip: Boolean,
      warcType: String = "response"): Array[Byte] = {
    val headBytes = recordHead(id, uri, payload.length, warcType)
    val rec = new java.io.ByteArrayOutputStream(headBytes.length + payload.length + 4)
    rec.write(headBytes); rec.write(payload)
    rec.write("\r\n\r\n".getBytes(StandardCharsets.UTF_8))
    if (!memberGzip) rec.toByteArray
    else {
      val gz = new java.io.ByteArrayOutputStream()
      val gzOut = new java.util.zip.GZIPOutputStream(gz)
      gzOut.write(rec.toByteArray); gzOut.close()
      gz.toByteArray
    }
  }

  /** [[write]] plus a CDX-style record index, built in the SAME single
    * distributed pass (the CommonCrawl cdx(j) idea, Spark-first: the
    * index is parquet under `dir/_cdx`, so it is itself predicate-
    * pushdown-prunable). Index columns: `(record_id, target_uri,
    * shard, offset, length)`, where [offset, offset+length) addresses
    * the record's bytes in its shard — the full record framing for
    * plain `.warc`, the record's own gzip member for `.warc.gz`.
    * Returns the index re-read from parquet.
    *
    * Scale shape: at 100 TB the index is what makes point access
    * possible at all — [[fetch]] reads ONLY the indexed byte ranges
    * (seek + bounded read per record), never scanning an archive for
    * one document. Index rows are ~5 small values per record; the
    * payloads never flow through the index job's shuffle (there is no
    * shuffle — the parquet write is map-side of the same task that
    * wrote the shard).
    */
  def writeWithCdx(
      df: DataFrame,
      dir: String,
      memberGzip: Boolean = false,
      warcType: String = "response"): DataFrame = {
    val spark = df.sparkSession
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(dirPath))
      fs.listStatus(dirPath).filter(_.isFile)
        .filter(_.getPath.getName.contains("part-"))
        .foreach(st => fs.delete(st.getPath, false))
    fs.mkdirs(dirPath)
    val serConf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val ext = if (memberGzip) "warc.gz" else "warc"
    val idxRdd = df.select(col(df.columns(0)).cast("string").as("id"),
        col(df.columns(1)).cast("string").as("uri"),
        col(df.columns(2)).cast("binary").as("payload"))
      .rdd
      .mapPartitions { it =>
        if (it.isEmpty) Iterator.empty
        else {
          val tc = org.apache.spark.TaskContext.get()
          val pid = tc.partitionId()
          val shard = new Path(s"$dir/part-$pid.$ext")
          val tmp = new Path(s"$dir/.part-$pid.$ext.attempt-${tc.taskAttemptId()}")
          val shardFs = shard.getFileSystem(serConf.value)
          val out = shardFs.create(tmp, true)
          val index = List.newBuilder[(String, String, String, Long, Long)]
          try {
            var off = 0L
            it.foreach { r =>
              val id = checkHeaderValue(r.getAs[String]("id"), "id")
              val uri = checkHeaderValue(r.getAs[String]("uri"), "uri")
              val bytes = recordBytes(id, uri, r.getAs[Array[Byte]]("payload"),
                memberGzip, warcType)
              out.write(bytes)
              index += ((recordId(id, warcType), uri, shard.toString, off, bytes.length.toLong))
              off += bytes.length
            }
            out.close()
            if (!shardFs.rename(tmp, shard)) {
              if (shardFs.exists(shard)) shardFs.delete(tmp, false)
              else throw new java.io.IOException(s"rename $tmp -> $shard failed")
            }
          } catch {
            case e: Throwable =>
              try out.close() catch { case _: java.io.IOException => }
              shardFs.delete(tmp, false)
              throw e
          }
          index.result().iterator
        }
      }
    val spark2 = spark
    import spark2.implicits._
    // the parquet write is the ONE action driving the combined pass
    idxRdd.toDF("record_id", "target_uri", "shard", "offset", "length")
      .write.mode("overwrite").parquet(s"$dir/_cdx")
    spark.read.parquet(s"$dir/_cdx")
  }

  /** Random-access fetch: materialize exactly the records a CDX frame
    * (or any filtered subset of one) points at — seek to `offset`,
    * read `length` bytes, inflate if the shard is member-gzip, parse.
    * Output schema matches [[read]].
    *
    * Scale shape: index rows (tiny) shuffle once so each task owns
    * whole shards and reads them with ONE open stream and
    * monotonically forward seeks; fetched payload bytes never shuffle.
    * Cost is proportional to the bytes fetched, not the archive size —
    * the point-access twin of [[read]]'s full scan.
    */
  def fetch(spark: SparkSession, cdx: DataFrame): DataFrame = {
    val serConf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val rdd = cdx.select(col("shard"), col("offset"), col("length"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("offset"))
      .rdd
      .mapPartitions { it =>
        var curShard: String = null
        var stream: org.apache.hadoop.fs.FSDataInputStream = null
        def close(): Unit = {
          if (stream != null) {
            try stream.close() catch { case _: java.io.IOException => }
            stream = null
          }
        }
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => close()))
        it.map { r =>
          val shard = r.getString(0)
          val off = r.getLong(1)
          val len = r.getLong(2)
          require(len > 0 && len <= Int.MaxValue,
            s"CDX length out of range at $shard:$off — $len")
          if (shard != curShard) {
            close()
            val hp = new Path(shard)
            stream = hp.getFileSystem(serConf.value).open(hp)
            curShard = shard
          }
          stream.seek(off)
          val raw = new Array[Byte](len.toInt)
          stream.readFully(raw)
          val recBytes =
            if (shard.endsWith(".gz")) {
              val gin = new java.util.zip.GZIPInputStream(
                new java.io.ByteArrayInputStream(raw))
              val bos = new java.io.ByteArrayOutputStream(raw.length * 3)
              val buf = new Array[Byte](64 * 1024)
              var n = gin.read(buf)
              while (n > 0) { bos.write(buf, 0, n); n = gin.read(buf) }
              bos.toByteArray
            } else raw
          val one = splitRecords(OffsetLineReader.of(recBytes), Long.MaxValue)
          if (!one.hasNext)
            throw new IllegalStateException(
              s"CDX entry at $shard:$off+$len does not parse as a WARC record")
          one.next()
        }
      }
    spark.createDataFrame(rdd)
      .toDF("record_id", "warc_type", "target_uri", "refers_to", "content_length", "payload")
  }

  /** Loud rejection of header-injection bytes (What's-wrong discipline:
    * fail, don't silently corrupt).
    */
  private def checkHeaderValue(v: String, what: String): String = {
    require(v != null, s"WARC $what header value is null")
    require(!v.exists(c => c == '\r' || c == '\n' || c == '\u0000'),
      s"WARC $what header value contains CR/LF/NUL (header injection): " +
        v.replace("\r", "\\r").replace("\n", "\\n").replace("\u0000", "\\0"))
    v
  }

  /** Read `.warc` / `.warc.gz` files under a file/glob/dir path. Output:
    * (record_id, warc_type, target_uri, content_length, payload BINARY).
    * [[SplitFiles.scan]] lists the files (hidden and zero-length ones
    * skipped), cuts them into `splitSize` byte ranges and pools
    * contiguous ranges into tasks.
    *
    * BOTH layouts shard by byte range. Plain `.warc` resyncs on
    * validated `WARC/1.0` header blocks; `.warc.gz` resyncs on gzip
    * MEMBER starts (magic + header parse + full raw-inflate + CRC32 +
    * ISIZE trailer check — a candidate that fails any of these is
    * payload bytes, rescan continues one byte later), each member's
    * decompressed bytes then parsing as WARC records. A member is owned
    * by the split containing its first magic byte. This reads the
    * CommonCrawl member-per-record layout in parallel AND the legacy
    * whole-stream-gzip layout: a single member larger than
    * `maxMemberBytes` that starts at offset 0 falls back to a
    * STREAMING whole-file pass (one task per file by nature — gzip is
    * not splittable), so large legacy archives stay readable at any
    * size; an over-cap member elsewhere fails loudly (a
    * member-per-record file with a pathological record beats a silent
    * OOM).
    *
    * Known false-positive surface, deliberately small: a resynced
    * candidate (one found by magic scan, not contiguous with the
    * previous validated member) must ALSO inflate to bytes beginning
    * with `WARC/` — so a genuine gzip stream embedded verbatim inside a
    * member's stored deflate blocks (a crawled `.gz` payload) is not
    * re-emitted as phantom records unless it is itself a WARC, in
    * which case the nested records are textually indistinguishable
    * from real ones mid-stream (CommonCrawl has the same property).
    *
    * Cost note: each failed candidate costs one inflate of at most the
    * remaining split, and the rescan resumes one byte past the failed
    * magic — on real archives gzip magic is rare inside compressed
    * bytes (~1 per 16 MiB per the 3-byte prefix), so resync work is
    * negligible, but a CRAFTED payload stuffed with `1f 8b 08` runs
    * the validator per planted magic: worst case O(planted · split)
    * inflate work within the affected split. That is a CPU-bounded
    * slowdown local to the hostile file, never wrong records (the
    * CRC/ISIZE/`WARC/` gates still reject) — WarcSpec's hostile-payload
    * fuzz pins both layouts byte-for-byte under planted magic.
    */
  def read(
      spark: SparkSession,
      path: String,
      splitSize: Long = 128L * 1024 * 1024,
      maxMemberBytes: Int = DefaultMaxMemberBytes): DataFrame = {
    val rdd = SplitFiles.scan(spark, path, splitSize,
        n => n.endsWith(".warc") || n.endsWith(".warc.gz")) { (fs, s) =>
      val hp = new Path(s.path)
      if (s.path.endsWith(".gz")) {
        val stream = fs.open(hp)
        stream.seek(s.start)
        gzMemberRecords(stream, s.start, s.end, maxMemberBytes, () => fs.open(hp))
      } else splitRecords(SplitFiles.lines(fs, s), s.end)
    }
    spark.createDataFrame(rdd)
      .toDF("record_id", "warc_type", "target_uri", "refers_to", "content_length", "payload")
  }

  /** Default decompressed-size ceiling per gzip member — a memory guard
    * (each member inflates in one buffer). Member-per-record files
    * never approach it; a legacy single-member archive that exceeds it
    * takes the streaming fallback instead (see [[read]]).
    */
  val DefaultMaxMemberBytes: Int = 512 * 1024 * 1024

  /** Control signal: the member starting at byte 0 blew the buffer
    * guard — the file is the legacy whole-stream layout and the
    * offset-0 split must re-read it streaming.
    */
  private final class LegacyMemberOverflow extends RuntimeException

  /** WARC records of every gzip member whose first byte lies in
    * [splitStart, splitEnd), from a stream positioned at splitStart.
    * `reopen` supplies a fresh stream at offset 0 for the legacy
    * streaming fallback: when the member at byte 0 exceeds
    * `maxMember`, the whole file is re-read through a streaming
    * [[java.util.zip.GZIPInputStream]] (which consumes concatenated
    * members) and parsed by the plain-WARC record walker — constant
    * memory at any archive size. Only sound because a >cap member at
    * offset 0 marks the single-member legacy layout; a >cap member
    * anywhere else still fails loudly.
    */
  private[io] def gzMemberRecords(
      in: InputStream,
      splitStart: Long,
      splitEnd: Long,
      maxMember: Int = DefaultMaxMemberBytes,
      reopen: () => InputStream = () => throw new UnsupportedOperationException(
        "no reopen supplied")): Iterator[(String, String, String, String, Long, Array[Byte])] = {
    val scanner = new GzMemberScanner(in, splitStart, splitEnd, maxMember)
    Option(org.apache.spark.TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => scanner.close()))
    new Iterator[(String, String, String, String, Long, Array[Byte])] {
      private var current: Iterator[(String, String, String, String, Long, Array[Byte])] =
        Iterator.empty
      private var done = false

      private def advance(): Unit = {
        while (!current.hasNext && !done) {
          val member =
            try scanner.nextMember()
            catch {
              case _: LegacyMemberOverflow =>
                // legacy whole-stream layout, bigger than the buffer
                // guard: this split owns the whole file; stream it
                scanner.close()
                done = true
                current = splitRecords(
                  SplitFiles.reader(new java.util.zip.GZIPInputStream(reopen()), 0L),
                  Long.MaxValue)
                return
            }
          if (member == null) { done = true; scanner.close() }
          else current = splitRecords(OffsetLineReader.of(member), Long.MaxValue)
        }
      }

      def hasNext: Boolean = { advance(); current.hasNext }
      def next(): (String, String, String, String, Long, Array[Byte]) = {
        advance(); current.next()
      }
    }
  }

  private val HeaderRe = "^([A-Za-z][A-Za-z0-9-]*):\\s*(.*)$".r

  /** Emit the records whose version line starts before `splitEnd`, from
    * a reader on the first line of the split.
    */
  private[io] def splitRecords(
      r: OffsetLineReader,
      splitEnd: Long): Iterator[(String, String, String, String, Long, Array[Byte])] = {
    // one-line pushback: when header validation fails ON a line that
    // could itself open a record (a payload ending in "WARC/1.0"
    // immediately before a real record), the scanner must re-examine
    // that exact line, not skip past it
    var pending: (Long, String) = null
    def nextLine(): (Long, String) =
      if (pending != null) { val l = pending; pending = null; l }
      else r.readLine()

    // (headers, payload) of the record whose version line was just read,
    // or null when the block fails validation (not a real record start)
    def parseAfterVersion(): (Map[String, String], Array[Byte]) = {
      val hdrs = scala.collection.mutable.Map.empty[String, String]
      var line = nextLine()
      while (line != null && line._2.nonEmpty) {
        line._2 match {
          case HeaderRe(k, v) => hdrs(k.toLowerCase) = v
          case _ =>
            pending = line // false sync — rescan from this very line
            return null
        }
        line = nextLine()
      }
      if (line == null) return null // EOF mid-headers
      hdrs.get("content-length").flatMap(_.toLongOption) match {
        case Some(n) if n >= 0 && n <= Int.MaxValue =>
          val payload = r.readFully(n.toInt)
          if (payload == null) null // truncated payload
          else {
            nextLine(); nextLine() // the CRLF CRLF record terminator
            (hdrs.toMap, payload)
          }
        case _ => null
      }
    }

    new Iterator[(String, String, String, String, Long, Array[Byte])] {
      private var nextRec: (String, String, String, String, Long, Array[Byte]) = _
      private var done = false

      private def advance(): Unit = {
        while (nextRec == null && !done) {
          val line = nextLine()
          if (line == null) { done = true }
          else if (line._1 >= splitEnd) { done = true; r.close() }
          else if (line._2 == "WARC/1.0") {
            val parsed = parseAfterVersion()
            if (parsed != null) {
              val (h, payload) = parsed
              nextRec = (
                h.getOrElse("warc-record-id", ""),
                h.getOrElse("warc-type", ""),
                h.getOrElse("warc-target-uri", ""),
                h.getOrElse("warc-refers-to", ""),
                payload.length.toLong,
                payload)
            }
            // a failed validation just resumes the line scan — the bytes
            // consumed belonged to a payload (or garbage), never to a
            // record this split owns
          }
        }
      }

      def hasNext: Boolean = { advance(); nextRec != null }
      def next(): (String, String, String, String, Long, Array[Byte]) = {
        advance()
        if (nextRec == null) throw new NoSuchElementException
        val out = nextRec
        nextRec = null
        out
      }
    }
  }

  /** Splittable gzip MEMBER scanner: finds member starts in
    * [splitStart, splitEnd) by magic-byte scan, validates each candidate
    * the only way that is actually sound — parse the full RFC 1952
    * header (reserved FLG bits must be zero; FEXTRA/FNAME/FCOMMENT/FHCRC
    * consumed per spec), raw-inflate the body, and check the CRC32 +
    * ISIZE trailer against the decompressed bytes. A candidate failing
    * any step is compressed-payload coincidence: the scan resumes ONE
    * byte past its magic. A validated member advances the scan to its
    * exact end (Inflater.getRemaining gives the compressed length, so
    * no byte is re-inspected).
    *
    * Memory: the window holds at most one candidate member's compressed
    * bytes (it must be rewindable on a failed candidate); decompressed
    * output is capped by the maxMember guard, which throws loudly
    * rather than OOM — only the legacy single-member layout can get
    * near it.
    */
  private final class GzMemberScanner(in: InputStream, splitStart: Long,
      splitEnd: Long, maxMember: Int) {
    private var win = new Array[Byte](128 * 1024)
    private var winStart = splitStart // absolute offset of win(0)
    private var winLen = 0
    private var scanPos = 0 // relative: where the next scan resumes
    private var eof = false
    private var closed = false
    // absolute offset where the next member starts IF contiguous with
    // the last validated one (or file start); a candidate found
    // anywhere else is a RESYNC and must inflate to bytes beginning
    // with "WARC/" — embedded genuine-gzip payloads (a crawled .gz)
    // would otherwise pass full CRC/ISIZE validation and emit phantoms
    private var expectedNext: Long = if (splitStart == 0) 0L else -1L

    def close(): Unit = {
      if (!closed) {
        closed = true
        try in.close() catch { case _: java.io.IOException => }
      }
    }

    /** Make at least relEnd bytes available in win (grows/refills); false
      * when the stream ends first.
      */
    private def ensure(relEnd: Int): Boolean = {
      while (winLen < relEnd && !eof) {
        if (win.length < relEnd)
          win = java.util.Arrays.copyOf(win, math.max(win.length * 2, relEnd))
        val got = in.read(win, winLen, win.length - winLen)
        if (got <= 0) eof = true else winLen += got
      }
      winLen >= relEnd
    }

    private def compact(): Unit = {
      if (scanPos > 0) {
        System.arraycopy(win, scanPos, win, 0, winLen - scanPos)
        winStart += scanPos
        winLen -= scanPos
        scanPos = 0
      }
    }

    /** Next validated member's decompressed bytes; null when no further
      * member starts inside the split.
      */
    def nextMember(): Array[Byte] = {
      while (true) {
        compact()
        if (winStart >= splitEnd) return null
        var i = 0
        var found = -1
        while (found < 0) {
          if (!ensure(i + 3)) return null
          if (winStart + i >= splitEnd) return null
          if (win(i) == 0x1f.toByte && win(i + 1) == 0x8b.toByte && win(i + 2) == 8)
            found = i
          else i += 1
        }
        scanPos = found
        compact() // candidate magic now at rel 0
        val m = tryMember()
        if (m != null) return m
        scanPos = 1 // false sync — resume one byte past the magic
      }
      null // unreachable
    }

    private def startsWithWarc(b: Array[Byte]): Boolean =
      b.length >= 5 && b(0) == 'W' && b(1) == 'A' && b(2) == 'R' &&
        b(3) == 'C' && b(4) == '/'

    private def skipZeroTerminated(start: Int): Int = {
      var p = start
      while (ensure(p + 1)) {
        if (win(p) == 0) return p + 1
        p += 1
      }
      -1
    }

    /** Validate + inflate the candidate member at rel 0; null on any
      * mismatch (header, deflate stream, trailer, truncation).
      */
    private def tryMember(): Array[Byte] = {
      if (!ensure(10)) return null
      val flg = win(3) & 0xff
      if ((flg & 0xe0) != 0) return null // reserved bits must be zero
      var pos = 10
      if ((flg & 4) != 0) { // FEXTRA
        if (!ensure(pos + 2)) return null
        pos += 2 + LE.u16(win, pos)
        if (!ensure(pos)) return null
      }
      if ((flg & 8) != 0) { pos = skipZeroTerminated(pos); if (pos < 0) return null }
      if ((flg & 16) != 0) { pos = skipZeroTerminated(pos); if (pos < 0) return null }
      if ((flg & 2) != 0) { pos += 2; if (!ensure(pos)) return null } // FHCRC
      val inf = new java.util.zip.Inflater(true)
      try {
        val outBuf = new java.io.ByteArrayOutputStream(16 * 1024)
        val crc = new java.util.zip.CRC32()
        val tmp = new Array[Byte](64 * 1024)
        var fed = pos
        while (!inf.finished()) {
          if (inf.needsInput()) {
            if (!ensure(fed + 1)) return null // truncated member
            inf.setInput(win, fed, winLen - fed)
            fed = winLen
          }
          val n =
            try inf.inflate(tmp)
            catch { case _: java.util.zip.DataFormatException => return null }
          if (n > 0) {
            outBuf.write(tmp, 0, n)
            crc.update(tmp, 0, n)
            if (outBuf.size > maxMember) {
              if (winStart == 0L) throw new LegacyMemberOverflow
              throw new IllegalStateException(
                s"gzip member at offset $winStart exceeds the " +
                  s"$maxMember-byte decompressed-size guard")
            }
          } else if (inf.needsDictionary()) return null
        }
        val consumed = fed - inf.getRemaining
        if (!ensure(consumed + 8)) return null
        if (LE.u32(win, consumed) != crc.getValue) return null
        if (LE.u32(win, consumed + 4) != (outBuf.size.toLong & 0xffffffffL)) return null
        val bytes = outBuf.toByteArray
        if (winStart != expectedNext && !startsWithWarc(bytes)) return null
        scanPos = consumed + 8
        expectedNext = winStart + scanPos
        bytes
      } finally inf.end()
    }
  }
}
