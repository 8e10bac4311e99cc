package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session factory and the one measure loop behind the suite
  * mains ([[Bench]], [[Verify]], [[PinProbe]], [[DriftProbe]],
  * [[Explain]]), so every main builds the same session and releases a
  * query's checkpoints the same way.
  */
object Harness {

  /** A local session on `SPARK_GRAFT_CPUS` cores (`defaultCpus` when
    * unset) with one shuffle partition per core. The session time zone
    * is pinned to UTC because [[Tables]] decodes `events.ts` through a
    * time-zone-sensitive cast.
    */
  def session(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One measured run: `seconds` is the wall time of the action, absent
    * when the query or its action threw; `error` is then the message.
    * `stages` are the [[SubTimings]] the query recorded under the
    * caller's run scope.
    */
  final case class Outcome(
      seconds: Option[Double], stages: Map[String, Double], error: Option[String]) {
    def errorLine: Option[String] = error.map(_.linesIterator.nextOption().getOrElse(""))
  }

  /** Build query `name` on `sfDir`, time `action` over its result, then
    * release every RDD the query persisted. A localCheckpoint's blocks
    * are only reachable through the returned frame, so once the action
    * has consumed it they are garbage; across a suite pass they would
    * otherwise pile up in the block manager and slow later queries
    * (see [[Checkpoints]]).
    */
  def run(spark: SparkSession, name: String, fn: (SparkSession, String) => DataFrame,
      sfDir: String)(action: DataFrame => Unit): Outcome = {
    val sc = spark.sparkContext
    SubTimings.reset(name)
    val before = Checkpoints.mark(sc)
    val t0 = System.nanoTime()
    val error =
      try { action(fn(spark, sfDir)); None }
      catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.getClass.getName)) }
    val seconds = (System.nanoTime() - t0) / 1e9
    Checkpoints.releaseSince(sc, before): Unit
    Outcome(if (error.isEmpty) Some(seconds) else None, SubTimings.get(name), error)
  }

  /** A JSON string literal: backslash, quote and every control character
    * (< 0x20) escaped — a tab or CR in query SQL or an error message
    * would otherwise make a reader's `json.load` fail.
    */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
