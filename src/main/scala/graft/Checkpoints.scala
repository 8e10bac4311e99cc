package graft

import org.apache.spark.SparkContext

/** Block-manager hygiene for the gate queries' `localCheckpoint` frames.
  *
  * Gate queries checkpoint intermediate frames (truth sets, staged
  * signatures, GoldenGate pin materializations) and a single invocation
  * leaves them persisted: across 228 queries × 2 bench passes the
  * accumulated blocks pressured the block manager until late-bench
  * queries read 8-46× their fresh-JVM floors (round-14 verdict #1 —
  * q_manifest_append 0.32→14.65 s with the fixture write itself
  * degrading, not the plan). A localCheckpoint's blocks are only
  * reachable through the returned DataFrame, so once a harness has
  * fully consumed a query's result ([[Harness.run]]'s action: Bench's
  * `count()`, Verify's parquet write) every checkpoint the query
  * created is garbage — EXCEPT the frames memoized across invocations by
  * [[graft.queries.ScaleDomain.lifecycleOnce]], whose lineage is
  * truncated and therefore cannot be recomputed after an unpersist.
  *
  * The contract: lifecycle fixtures [[retain]] the RDDs they persist
  * during their once-per-JVM run; harnesses snapshot persistent-RDD ids
  * before a query ([[mark]]) and [[releaseSince]] everything new and
  * not retained after consuming the result. Unpersists are async
  * (blocking = false) — block removal overlaps the next query.
  */
object Checkpoints {

  private val retained = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Persistent-RDD ids created by `body` survive [[releaseSince]] —
    * for frames memoized across invocations (lifecycle gates), whose
    * truncated lineage cannot re-materialize after an unpersist.
    */
  def retaining[T](sc: SparkContext)(body: => T): T = {
    val before = sc.getPersistentRDDs.keySet.toSet
    try body
    finally sc.getPersistentRDDs.keySet
      .filterNot(before.contains).foreach(retained.add(_))
  }

  /** Snapshot of the currently persisted RDD ids. */
  def mark(sc: SparkContext): Set[Int] = sc.getPersistentRDDs.keySet.toSet

  /** Unpersisting a local checkpoint logs a WARN ("lineage has been
    * truncated and cannot be recomputed") describing exactly the
    * intended behavior here — the result was fully consumed before the
    * release. One line per freed RDD × 228 queries would bury the
    * driver log, so the rdd package logger is raised to ERROR on first
    * release.
    */
  private lazy val quietRddWarnings: Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    catch { case e: Throwable =>
      // e.g. log4j-core absent from the classpath: the release still
      // works, only the per-RDD WARN lines stay
      System.err.println(s"[checkpoints] cannot raise the org.apache.spark.rdd log level: $e")
    }

  /** Unpersist every RDD persisted since `before` and not retained.
    * Returns the number released.
    */
  def releaseSince(sc: SparkContext, before: Set[Int]): Int = {
    quietRddWarnings
    val now = sc.getPersistentRDDs
    var n = 0
    now.foreach { case (id, rdd) =>
      if (!before.contains(id) && !retained.contains(id)) {
        rdd.unpersist(blocking = false)
        n += 1
      }
    }
    n
  }

  /** One-line block-manager storage summary — what [[Bench]] logs per
    * pass so checkpoint-accumulation regressions are visible in the run
    * log instead of surfacing as unexplained late-bench slowdowns.
    */
  def storageSummary(sc: SparkContext): String = {
    val infos = sc.getRDDStorageInfo
    val mem = infos.map(_.memSize).sum
    val disk = infos.map(_.diskSize).sum
    f"persisted_rdds=${infos.length} mem=${mem / 1e6}%.1fMB disk=${disk / 1e6}%.1fMB"
  }
}
