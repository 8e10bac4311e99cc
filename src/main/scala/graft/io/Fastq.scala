package graft.io

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FASTQ reader/writer (ref: seqtables/io/read_sequences.py:11-59
  * read_fastq — pandas line reader grouping records by line_no % 4 — and
  * write_sequences.py:1-8 seqs_to_fastq).
  *
  * Shuffle-free split reader. FASTQ's wrinkle is that '@' can open a
  * QUALITY line, so an arbitrary byte offset can't tell header from
  * quality by prefix alone — but the 4-line structure disambiguates within
  * one record: a line is a header iff it starts with '@' AND the line two
  * below starts with '+' (sequence lines are alphabet letters, never '+',
  * so a quality-line false '@' fails the check). Each task therefore:
  * seeks to its split, discards the partial line, resyncs forward to the
  * first true record start, and assembles consecutive 4-line records,
  * reading past the split end to finish its last record (records are owned
  * by the split containing their first byte — the classic Hadoop text-split
  * contract, one record-length of overread per task).
  *
  * The files, the byte ranges and the tasks come from [[SplitFiles]]:
  * hidden and zero-length files are skipped, each file is cut into
  * `splitSize` ranges and contiguous ranges are pooled into tasks, with
  * NO exchange in the plan (the round-1 version moved every byte through
  * a full shuffle just to group lines by index — and a global line index
  * also silently misassembles multi-file inputs whose line counts aren't
  * multiples of 4; per-file offsets make that impossible). Lines are
  * decoded as UTF-8, so a non-ASCII read name survives. Gzipped inputs
  * are detected by suffix and read as one split per file (gzip is not
  * splittable). Truncated trailing records fail loudly.
  */
object Fastq {

  /** Output: (read_id, seq, qual). */
  def read(
      spark: SparkSession,
      path: String,
      splitSize: Long = 128L * 1024 * 1024): DataFrame = {
    val rdd = SplitFiles.scan(spark, path, splitSize, _ => true, p => !gzipped(p.getName)) {
      (fs, s) =>
        if (gzipped(s.path)) {
          val in = new java.util.zip.GZIPInputStream(fs.open(new Path(s.path)))
          splitRecords(SplitFiles.reader(in, 0L), Long.MaxValue)
        } else splitRecords(SplitFiles.lines(fs, s), s.end)
    }
    spark.createDataFrame(rdd).toDF("read_id", "seq", "qual")
  }

  private def gzipped(name: String): Boolean = name.endsWith(".gz")

  /** Assemble the records whose header line starts before `splitEnd`,
    * from a reader on the first line of the split.
    */
  private def splitRecords(
      r: OffsetLineReader,
      splitEnd: Long): Iterator[(String, String, String)] = {
    val buf = scala.collection.mutable.Queue.empty[(Long, String)]
    def fill(n: Int): Unit = {
      var more = true
      while (buf.size < n && more) {
        val l = r.readLine()
        if (l == null) more = false else buf += l
      }
    }
    // resync: first line j with '@' prefix whose j+2 line starts with '+'
    fill(3)
    var synced = false
    while (!synced && buf.nonEmpty && buf.head._1 < splitEnd) {
      if (buf.head._2.startsWith("@") && buf.size >= 3 && buf(2)._2.startsWith("+"))
        synced = true
      else { buf.dequeue(); fill(3) }
    }
    new Iterator[(String, String, String)] {
      def hasNext: Boolean = {
        fill(4)
        if (buf.isEmpty || buf.head._1 >= splitEnd) {
          // non-final splits stop mid-file and never reach EOF — close the
          // stream here or every split task leaks one fd/connection
          r.close()
          false
        } else if (buf.size < 4) {
          if (buf.forall(_._2.isEmpty)) { r.close(); false } // trailing blank line(s)
          else {
            r.close()
            throw new IllegalStateException(
              s"truncated FASTQ record at offset ${buf.head._1}: " +
                buf.map(_._2).mkString("|"))
          }
        } else true
      }
      def next(): (String, String, String) = {
        val h = buf.dequeue()._2
        val s = buf.dequeue()._2
        buf.dequeue() // '+' line
        val q = buf.dequeue()._2
        (h.stripPrefix("@").split("\\s+", 2)(0), s, q)
      }
    }
  }

  /** S7 `seqs_to_fastq`: write (read_id, seq, qual) rows as FASTQ text. */
  def write(df: DataFrame, path: String): Unit =
    df.select(concat(
      lit("@"), col("read_id"), lit("\n"),
      col("seq"), lit("\n+\n"),
      col("qual")).as("value"))
      .write.mode("overwrite").text(path)
}
