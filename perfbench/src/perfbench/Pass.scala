package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One timed operation: a layer call whose result was materialized. */
final case class Op(name: String, wallS: Double, check: Map[String, Any], error: Option[String])

/** Output checksum, computed by a CollectMetrics node on the result itself,
  * so it comes out of the same execution as the timed `noop` write and no
  * result is computed twice:
  *  - `n`: rows;
  *  - `crc`: Σ over rows of crc32 of the row's other columns, each cast to
  *    text, joined by \u0001 in schema order (nulls skipped);
  *  - `d:<col>`: Σ of each floating-point column.
  * The result's schema is kept beside the checksum: `run.py` compares it
  * with the schema `oracle.py` expects before it compares checksums, and
  * `oracle.py` computes the same fields from the DuckDB reference rows.
  */
object Checksum {
  val Sep = "\u0001"

  private def floating(f: StructField) = f.dataType == DoubleType || f.dataType == FloatType

  def schema(df: DataFrame): Seq[String] =
    df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").toSeq

  def aggs(df: DataFrame): Seq[Column] = {
    val (dcols, cols) = df.schema.fields.toSeq.partition(floating)
    val row = concat_ws(Sep, cols.map(f => col(s"`${f.name}`").cast("string")): _*)
    Seq(count(lit(1)).as("n"), sum(crc32(row.cast("binary"))).as("crc")) ++
      dcols.map(f => sum(col(s"`${f.name}`").cast("double")).as(s"d:${f.name}"))
  }
}

/** One pass of a workload: every call is timed from outside, its result
  * written in full to the `noop` sink, and its checksum kept for the
  * output checks. A call that throws is recorded with its error and the
  * pass goes on.
  */
final class Pass(val spark: SparkSession, tracer: Option[Tracer], planLog: Option[PlanLog] = None) {
  val ops = ArrayBuffer.empty[Op]
  /** Executed plan of each call's `noop` write, kept when a PlanLog is given. */
  val plans = scala.collection.mutable.LinkedHashMap.empty[String, String]

  private def run[T](name: String, extra: T => Map[String, Double])(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val out = tracer match {
        case Some(t) => t.span(name, extra)(body)
        case None => body
      }
      Some(out)
    } catch {
      case NonFatal(e) =>
        ops += Op(name, (System.nanoTime() - t0) / 1e9, Map.empty,
          Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)))
        None
    }
  }

  private def bytesRead(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum
  }

  /** Time `make` plus the full materialization of its result. */
  def df(name: String)(make: => DataFrame): Unit = {
    val t0 = System.nanoTime()
    val r = run[(Map[String, Any], Long)](name,
      { case (m, bytes) => Map("bytes_read" -> bytes.toDouble,
        "rows" -> m.getOrElse("n", 0L).toString.toDouble) }) {
      val b0 = bytesRead()
      val d = make
      val obs = Observation()
      val aggs = Checksum.aggs(d)
      d.observe(obs, aggs.head, aggs.tail: _*).write.format("noop").mode("overwrite").save()
      val m = obs.get.map { case (k, v) => k -> (if (v == null) 0L else v) }
      planLog.foreach(l => plans(name) = l.lastWrite(spark))
      (m ++ Map("schema" -> Checksum.schema(d)), bytesRead() - b0)
    }
    r.foreach { case (m, _) => ops += Op(name, (System.nanoTime() - t0) / 1e9, m, None) }
  }

  /** Time a call whose result is a list of written files. */
  def files(name: String)(make: => Seq[String]): Unit = {
    val t0 = System.nanoTime()
    run[Seq[String]](name, (_: Seq[String]) => Map.empty)(make).foreach { fs =>
      ops += Op(name, (System.nanoTime() - t0) / 1e9,
        Map("n" -> fs.size.toLong, "names" -> fs.map(p => new java.io.File(p).getName).sorted), None)
    }
  }
}

/** Keeps the executed plan of every write command, for the plan-retention
  * check ([[PlanCheck]]).
  */
final class PlanLog extends org.apache.spark.sql.util.QueryExecutionListener {
  private var last = ""

  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
      durationNs: Long): Unit = synchronized {
    val plan = qe.executedPlan.toString
    if (plan.contains("Noop")) last = plan
  }

  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
      exception: Exception): Unit = ()

  def lastWrite(spark: SparkSession): String = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    synchronized(last)
  }
}
