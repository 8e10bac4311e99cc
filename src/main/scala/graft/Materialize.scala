package graft

import org.apache.spark.sql.DataFrame

/** The materialization seam for iterative kernels and multi-consumer
  * stage pins (guide §5).
  *
  * Locally (and in the bench contract) `localCheckpoint()` is the right
  * primitive: eager, no filesystem round-trip, truncates the lineage so
  * a k-round recurrence does not re-derive round k−1 once per consumer
  * (the DAG otherwise grows 3^k for PageRank's three consumers per
  * round). Its blocks are EXECUTOR-LOCAL, though: on a real cluster a
  * lost executor loses blocks whose lineage was truncated away, and a
  * multi-hour PageRank restarts from zero on one dead node. At fleet
  * scale the same truncation must be a RELIABLE checkpoint (HDFS/object
  * store via `SparkContext.setCheckpointDir`), which survives executor
  * death at the cost of a filesystem write per round.
  *
  * `spark.graft.materialize` selects the mode per session:
  *   - `local` (default): `DataFrame.localCheckpoint()` — bit-identical
  *     results, executor-local blocks.
  *   - `reliable`: `DataFrame.checkpoint()` against the session's
  *     checkpoint dir (set from `spark.graft.checkpointDir` on first
  *     use if the context has none) — bit-identical results, blocks
  *     survive executor loss. Spark deletes the checkpoint files only
  *     when the session sets
  *     `spark.cleaner.referenceTracking.cleanCheckpoints=true`.
  *
  * Both modes are eager and both truncate lineage, so swapping them
  * cannot change a plan downstream of the seam — MaterializeSpec pins
  * the two modes bit-identical on a fixed-point recurrence.
  */
object Materialize {

  val ModeKey = "spark.graft.materialize"
  val DirKey = "spark.graft.checkpointDir"

  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get(ModeKey, "local") match {
      case "local" => df.localCheckpoint()
      case "reliable" =>
        // check-then-set under the context's lock: concurrent jobs
        // (pipeline futures) reaching here at once must not each create
        // their own checkpoint subdirectory
        val sc = spark.sparkContext
        sc.synchronized {
          if (sc.getCheckpointDir.isEmpty) {
            val dir = spark.conf.get(DirKey, "")
            require(dir.nonEmpty,
              s"$ModeKey=reliable needs a checkpoint dir: set $DirKey or " +
                "SparkContext.setCheckpointDir")
            sc.setCheckpointDir(dir)
          }
        }
        df.checkpoint()
      case other =>
        throw new IllegalArgumentException(
          s"$ModeKey must be 'local' or 'reliable', got '$other'")
    }
  }

  /** `df.materialized` — method syntax for kernel bodies. */
  implicit class MatOps(private val df: DataFrame) extends AnyVal {
    def materialized: DataFrame = Materialize(df)
  }
}
