package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The benchmark's JVM side. Runs one workload (and, traced, the other
  * once so every layer is measured), and writes the raw record —
  * set-up times, per-pass ops with their checksums, spans — as JSON for
  * `run.py`, which checks the outputs and prints the metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --out FILE
  *
  * An untraced run sets up 3 times and reports the median set-up time; a
  * traced run, whose metrics do not include set-up, sets up once.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, out: String) {
    def setups: Int = if (trace) 1 else 3
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"))
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(s)
    s
  }

  /** Heap in use after a full collection, in MB (taken outside timing).
    * The pause between the two collections lets Spark's cleaner drop the
    * blocks of RDDs and broadcasts the first one found unreachable.
    */
  def retainedHeapMb(spark: SparkSession): Double = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def fresh(dir: String): String = {
    val f = new File(dir)
    if (f.exists) deleteTree(f)
    f.mkdirs()
    f.getPath
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Untimed passes before timing. The JIT is still compiling through the
    * first ones: in one JVM on a 4-core VM, successive profile passes ran
    * 10.7, 9.9, 8.7 and 8.1 s; two warm-up passes take the timed passes
    * off most of that slope.
    */
  val WarmPasses = 2

  final case class PassRec(workload: String, kind: String, wallS: Double, heapMb: Double, ops: Seq[Op])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workloads.byName(a.workload)
    val passes = ArrayBuffer.empty[PassRec]
    val facts = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Any]]
    val dirs = scala.collection.mutable.Map.empty[String, String]
    var spark: SparkSession = null

    def runPass(w: Workload, kind: String, tracer: Option[Tracer]): Unit = {
      val p = new Pass(spark, tracer)
      val t0 = System.nanoTime()
      tracer match {
        case Some(t) => t.span(s"pass:${w.name}")(w.pass(p, dirs(w.name), facts(w.name)))
        case None => w.pass(p, dirs(w.name), facts(w.name))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      passes += PassRec(w.name, kind, wall, retainedHeapMb(spark), p.ops.toSeq)
    }

    def generate(w: Workload, rep: Int): Unit = {
      val dir = fresh(s"${a.work}/inputs-${w.name}-$rep")
      facts(w.name) = w.generate(spark, dir, a.seed, cores)
      dirs(w.name) = dir
    }

    /** Runs the warm-up passes; returns their total wall time. */
    def warmUp(w: Workload): Double =
      (1 to WarmPasses).map { _ => runPass(w, "warmup", None); passes.last.wallS }.sum

    // set-up: session, extension registration and input generation,
    // repeated (the last session and inputs are kept), then the warm-up
    // passes; setup_s is the median of the repeats plus the warm-up
    val starts = (0 until a.setups).map { rep =>
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val t0 = System.nanoTime()
      spark = session(a.work)
      generate(wl, rep)
      (System.nanoTime() - t0) / 1e9
    }
    val warmS = warmUp(wl)
    val setupS = starts.map(_ + warmS)

    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None

    def traced(w: Workload): Unit = {
      val t = tracer.get
      t.attach()
      try runPass(w, "traced", tracer) finally t.detach()
    }

    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    def workloadSpan(w: Workload)(body: => Unit): Unit = tracer match {
      case Some(t) => t.span(s"workload:${w.name}")(body)
      case None => body
    }
    workloadSpan(wl) {
      var i = 0
      while (i == 0 || System.nanoTime() < deadline) {
        // traced: untraced and traced passes alternate, in turns, so the
        // overhead is not confounded with warm-up
        if (a.trace && i % 2 == 1) traced(wl)
        runPass(wl, "timed", None)
        if (a.trace && i % 2 == 0) traced(wl)
        i += 1
      }
    }
    // traced: one traced pass of every other workload, so each layer call
    // in the per-layer metrics is measured in every traced run
    if (a.trace) Workloads.all.filterNot(_ == wl).foreach { w =>
      generate(w, 0)
      warmUp(w)
      workloadSpan(w)(traced(w))
    }

    val host = Map(
      "nproc" -> cores,
      "master" -> s"local[$cores]",
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)
    val out = Map(
      "workload" -> wl.name, "seed" -> a.seed, "trace" -> a.trace, "host" -> host,
      "setup_s" -> setupS.toSeq, "facts" -> facts.toMap, "inputs" -> dirs.toMap,
      "passes" -> passes.toSeq.map(p => Map(
        "workload" -> p.workload, "kind" -> p.kind, "wall_s" -> p.wallS, "heap_mb" -> p.heapMb,
        "ops" -> p.ops.map(o => Map("name" -> o.name, "wall_s" -> o.wallS,
          "check" -> o.check, "error" -> o.error.orNull)))),
      "spans" -> tracer.map(_.all.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9, "self_s" -> Tracer.selfS(s, tracer.get.all),
        "tasks" -> s.tasks, "task_s" -> s.taskS, "idle_s" -> s.idleS,
        "shuffle_bytes" -> s.shuffleBytes, "jobs" -> s.jobs) ++ s.extra)).getOrElse(Nil))
    Workloads.writeText(a.out, new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out))
    spark.stop()
  }
}
