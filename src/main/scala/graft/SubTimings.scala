package graft

/** Per-query stage timings recorded by the fixture-writing queries
  * themselves (the shard/archive write vs the plan under test), so the
  * bench artifact attributes their wide drift bands to the stage that
  * actually moved instead of masking plan regressions behind
  * file-system noise. Recording costs two nanoTime calls per stage —
  * inert outside the bench mains.
  *
  * Recordings are scoped to a RUN, not just a query name: the consumer
  * ([[Bench]] / [[DriftProbe]]) opens a scope with [[withRun]] and the
  * reset/time/get triple all key on (run token, query). A concurrent
  * run of the same query on another thread (for example Bench and
  * Verify overlapping in one JVM; Verify itself runs serially) records into
  * its own bucket — the default empty token for unscoped threads — so
  * it can never cross-contaminate a measured run's accumulated stage
  * times. The token rides an InheritableThreadLocal so worker threads a
  * scoped run spawns still land in its bucket.
  */
object SubTimings {
  private val m = new java.util.concurrent.ConcurrentHashMap[
    (String, String), java.util.concurrent.ConcurrentHashMap[String, Double]]()

  private val run = new InheritableThreadLocal[String] {
    override def initialValue(): String = ""
  }

  /** Run `body` with all reset/time/get calls on this thread (and its
    * children) scoped to `token`. Nesting restores the outer scope.
    */
  def withRun[T](token: String)(body: => T): T = {
    val prev = run.get()
    run.set(token)
    try body finally run.set(prev)
  }

  /** The ambient run token. InheritableThreadLocal only copies at
    * thread CREATION — a pooled executor thread spawned before the
    * measured scope opened (Bench's warm pass warms the global
    * ExecutionContext) records into the wrong bucket. Queries that time
    * stages on pool threads capture this on the SUBMITTING thread and
    * re-open the scope inside the task ([[withRun]](captured)).
    */
  def currentRun: String = run.get()

  /** Time `body` under (current run, query, stage); re-entrant stages
    * accumulate.
    */
  def time[T](query: String, stage: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      val secs = (System.nanoTime() - t0) / 1e9
      m.computeIfAbsent((run.get(), query),
        _ => new java.util.concurrent.ConcurrentHashMap[String, Double]())
        .merge(stage, secs, (a, b) => (a + b): java.lang.Double)
    }
  }

  def reset(query: String): Unit = { m.remove((run.get(), query)): Unit }

  def get(query: String): Map[String, Double] = {
    val inner = m.get((run.get(), query))
    if (inner == null) Map.empty
    else {
      val b = Map.newBuilder[String, Double]
      inner.forEach((k, v) => b += (k -> (v: Double)))
      b.result()
    }
  }
}
