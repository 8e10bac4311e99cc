package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (forked JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Jobs that `body` starts, counted by a listener on a job group. */
  def jobsRun(body: => Unit): Int = {
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val running = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          started.incrementAndGet()
          running.add(e.jobId)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = running.remove(e.jobId)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      body
      // the listener bus is async: wait until our jobs have all ended on
      // it and the count stops moving
      var stable = 0
      var waited = 0
      var last = -1
      while (stable < 3 && waited < 100) {
        val now = started.get()
        if (now == last && running.isEmpty) stable += 1 else { stable = 0; last = now }
        Thread.sleep(50); waited += 1
      }
      started.get()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
