package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Task-completion listeners registered in the running task, read by
  * reflection (TaskContextImpl keeps them on a private stack). Lives in
  * an object so the task closures that call it capture nothing else.
  */
object TaskListeners {
  def count(): Int = {
    val tc = org.apache.spark.TaskContext.get()
    val f = tc.getClass.getDeclaredField("onCompleteCallbacks")
    f.setAccessible(true)
    f.get(tc).asInstanceOf[java.util.Stack[_]].size
  }

  /** (rows, listeners) of each task of `df`'s scan, counted after the
    * task has consumed every row.
    */
  def perTask(df: DataFrame): Seq[(Int, Int)] =
    df.rdd.mapPartitions { it =>
      val n = it.size
      Iterator((n, count()))
    }.collect().toSeq
}

class SplitFilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(n: Int): DataFrame =
    (1 to n).map(i => (s"d$i", s"http://site$i.example/p", s"body $i " * 20))
      .toDF("id", "uri", "text").coalesce(1)

  /** Listeners of the one task that reads all `n` records. */
  private def listenersFor(n: Int)(read: Int => DataFrame): Int = {
    val tasks = TaskListeners.perTask(read(n)).filter(_._1 > 0)
    assert(tasks.map(_._1) == Seq(n), s"expected one task reading $n records, got $tasks")
    tasks.head._2
  }

  test("a member-gzip WARC split registers one close per stream, not one per record") {
    def read(n: Int): DataFrame = {
      val dir = s"/tmp/graft_splitfiles_spec/mgz_$n"
      Warc.write(docs(n), dir, memberGzip = true)
      Warc.read(spark, dir)
    }
    val small = listenersFor(20)(read)
    val large = listenersFor(400)(read)
    assert(small == large, s"listeners grew with the record count: $small for 20, $large for 400")
  }

  test("a CDX fetch registers one close per task, not one per fetched record") {
    def fetch(n: Int): DataFrame = {
      val dir = s"/tmp/graft_splitfiles_spec/cdx_$n"
      Warc.fetch(spark, Warc.writeWithCdx(docs(n), dir, memberGzip = true))
    }
    val small = listenersFor(20)(fetch)
    val large = listenersFor(400)(fetch)
    assert(small == large, s"listeners grew with the record count: $small for 20, $large for 400")
  }

  test("a FASTQ split keeps one listener, whatever its read count") {
    def read(n: Int): DataFrame = {
      val dir = Paths.get(s"/tmp/graft_splitfiles_spec/fq_$n")
      Files.createDirectories(dir)
      val body = (1 to n).map(i => s"@r$i\nACGTACGT\n+\nIIIIIIII\n").mkString
      Files.write(dir.resolve("reads.fq"), body.getBytes(StandardCharsets.UTF_8))
      Fastq.read(spark, dir.toString)
    }
    assert(listenersFor(20)(read) == listenersFor(400)(read))
  }

  test("a reader over an in-memory record sizes its buffer to the record") {
    val rec = "WARC/1.0\r\nWARC-Type: resource\r\n\r\n".getBytes(StandardCharsets.UTF_8)
    val r = OffsetLineReader.of(rec)
    val f = r.getClass.getDeclaredField("buf")
    f.setAccessible(true)
    assert(f.get(r).asInstanceOf[Array[Byte]].length == rec.length)
    assert(r.readLine() == ((0L, "WARC/1.0")))
    val big = OffsetLineReader.of(new Array[Byte](1 << 20))
    assert(f.get(big).asInstanceOf[Array[Byte]].length == 64 * 1024)
  }
}
