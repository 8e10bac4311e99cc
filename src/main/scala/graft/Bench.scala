package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** What a query's seconds measure: the action every bench run (and
    * [[DriftProbe]]) times.
    */
  private[graft] val timed: DataFrame => Unit = _.count()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default to the full machine — the driver contract benches at local[32]
    val spark = Harness.session(32)
    val cpus = spark.conf.get("spark.sql.shuffle.partitions")
    def measure(name: String, fn: (SparkSession, String) => DataFrame, dir: String) =
      Harness.run(spark, name, fn, dir)(timed)
    // JMH-style warm-up before measuring: ONE pass at the SMALLEST SF
    // compiles every plan and drives the shared kernels into C2 — both
    // costs are data-size-independent, so the cheapest data warms. The
    // first measured pass at the target SF then doubles as the
    // target-scale warm-up, with min-of-2 discarding its residual JIT
    // cost. (A 3-SF warm-up + 2 measured = 5 full suite passes
    // overran the bench's wall-clock budget.)
    Seq("/root/testdata/sf0.001").filterNot(_ == sfDir).foreach { warmDir =>
      SparkEntry.queries.foreach { case (name, fn) => measure(name, fn, warmDir) }
    }
    // two measured iterations, report the per-query min: steady-state
    // latency, insulated from one-off GC/scheduler hiccups. A throwing
    // query reports -1.0 (never its elapsed time) so a broken query can't
    // masquerade as a fast one; failures are also listed under "errors"
    // and their messages under "error_text". The per-pass storage
    // summary makes any regrowth of unreleased checkpoint blocks visible
    // in the run log.
    def pass(tag: String): Map[String, Harness.Outcome] = {
      val out = SparkEntry.queries.map { case (name, fn) => name -> measure(name, fn, sfDir) }
      System.err.println(s"[bench] pass $tag done: ${Checkpoints.storageSummary(spark.sparkContext)}")
      out
    }
    // scope the stage recordings to THIS measured run: a Verify (or any
    // other submitter) sharing the JVM records into its own bucket and
    // cannot contaminate these accumulated stage times
    val passes = SubTimings.withRun(s"bench-${System.nanoTime()}")(Seq(pass("1"), pass("2")))
    val results = minOf(passes)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.values.filter(_ >= 0).sum
    // host-speed sentinels for cross-session drift attribution:
    // fixture-free, code-stable queries re-measured in a SHORT DEDICATED
    // loop (min-of-3 each) immediately before artifact write — NOT their
    // in-suite values, which late-bench JVM state can poison (q_pagerank
    // once read 2.8× its floor inside a degraded run while its siblings
    // read 0.88×). q_trustrank/q_pagerank are continuity anchors only:
    // earlier compact lines carried their floors, and their code has
    // changed since, so only the last three are host sentinels.
    val hostSentinels = Seq("q_heaps_fit", "q_lr_quality", "q_bam_dist")
    val sentinels = Seq("q_trustrank", "q_pagerank") ++ hostSentinels
    val sentinelFloors = sentinels.flatMap { q =>
      SparkEntry.queries.get(q).map { fn =>
        q -> (1 to 3).flatMap(_ => measure(q, fn, sfDir).seconds).minOption.getOrElse(-1.0)
      }
    }
    val allFloors = sentinelFloors
      .map { case (q, v) => s"\"" + q + "\":" + v }
      .mkString("{", ",", "}")
    val driftProbe = sentinelFloors
      .filter { case (q, _) => hostSentinels.contains(q) }
      .map { case (q, v) => s"\"" + q + "\":" + v }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"subtimings":${subtimingsJson(passes, results)},"errors":$errors,"error_text":${errorTextJson(passes)},"spread":${spreadJson(passes)},"drift_probe":$driftProbe,"sf":"$sfDir"}"""
    println(line)
    // Per-core-count artifact: a c8 scaling run must not clobber the c32
    // record, so the full record lands in bench_full_c<N>.json and the
    // previous SAME-CORE-COUNT artifact is the round-over-round baseline.
    // The auto-notes are per-core too.
    val outName = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"bench_full_c$cpus.json")
    val out = Paths.get(outName)
    val prevArtifact: Option[String] =
      try if (Files.exists(out)) Some(Files.readString(out)) else None
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] cannot read previous artifact $outName: ${e.getMessage}")
        None
      }
    // A reader that keeps only the last ~2000 chars of stdout cannot
    // hold 233 per-query timings, so the compact line ALSO carries the
    // comparison it cannot compute itself — n_improved / n_regressed /
    // per-query geomean / top-5 movers vs the previous same-core-count
    // artifact — in a bounded ~400-char block.
    val prev = prevBlock(prevArtifact.map(parseQueries).getOrElse(Map.empty), results)
    // The full line above exceeds that tail; a compact summary
    // printed AFTER it guarantees the tail always ends with parseable
    // JSON carrying the headline numbers. The sentinel floor loop's
    // values double as the compact line's `queries` so the driver's
    // parsed record still has per-query anchors measured the same way
    // round over round.
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$allFloors,"n_queries":${results.size},"errors":$errors,"drift_probe":$driftProbe,$prev,"sf":"$sfDir","full":"$outName"}""")
    // Persist the complete record, and generate the round-over-round
    // notes HERE from the artifact being shipped and the previous one,
    // so notes can never quote an intermediate run.
    try {
      Files.writeString(out, line)
      prevArtifact.foreach { p =>
        Files.writeString(out.resolveSibling(s"BENCH_NOTES_AUTO_c$cpus.md"), notes(p, line, sfDir))
      }
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] cannot write artifact $outName or its notes: ${e.getMessage}")
    }
    spark.stop()
  }

  /** Per-query reported seconds: the min over the passes, or -1.0 when
    * any pass failed.
    */
  private[graft] def minOf(passes: Seq[Map[String, Harness.Outcome]]): Map[String, Double] =
    passes.head.keys.map { q =>
      val secs = passes.map(_(q).seconds)
      q -> (if (secs.forall(_.nonEmpty)) secs.flatten.min else -1.0)
    }.toMap

  /** Stage timings from the pass that produced the reported (min) total,
    * with the plan-side remainder made explicit: the fixture-writing
    * queries' drift lives mostly in the write stage, and splitting it
    * out stops file-system noise from masking real plan movement.
    */
  private def subtimingsJson(
      passes: Seq[Map[String, Harness.Outcome]], results: Map[String, Double]): String =
    results.toSeq.filter(_._2 >= 0).sortBy(_._1).flatMap { case (q, v) =>
      passes.map(_(q)).sortBy(_.seconds.get).map(_.stages).find(_.nonEmpty).map { st =>
        val rest = math.max(0.0, v - st.values.sum)
        val parts = (st.toSeq.sortBy(_._1) :+ ("rest" -> rest))
          .map { case (stage, secs) => f"$stage=$secs%.2f" }.mkString(";")
        s"\"" + q + "\":\"" + parts + "\""
      }
    }.mkString("{", ",", "}")

  /** Failed query → first line of its first failure's message. */
  private[graft] def errorTextJson(passes: Seq[Map[String, Harness.Outcome]]): String =
    passes.head.keys.toSeq.sorted.flatMap { q =>
      passes.flatMap(_(q).errorLine).headOption.map(e => s"${Harness.quote(q)}:${Harness.quote(e)}")
    }.mkString("{", ",", "}")

  /** Query → its seconds in each timed pass (-1.0 for a failed pass). */
  private[graft] def spreadJson(passes: Seq[Map[String, Harness.Outcome]]): String =
    passes.head.keys.toSeq.sorted.map { q =>
      s"\"" + q + "\":" + passes.map(_(q).seconds.getOrElse(-1.0)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")

  /** The compact line's `prev` block: improved/regressed counts, the
    * per-query geomean speedup and the top-5 movers over the queries
    * timed in both artifacts. A query counts as shared only when both
    * timings are > 0 — failed queries report -1.0, and a 0.0 timing
    * would put log(0) into the geomean.
    */
  private[graft] def prevBlock(pq: Map[String, Double], results: Map[String, Double]): String = {
    val shared = (pq.keySet & results.keySet).toSeq
      .filter(q => pq(q) > 0 && results(q) > 0)
    if (shared.isEmpty) """"prev":{"n_common":0}"""
    else {
      val speedups = shared.map(q => pq(q) / results(q))
      val geomean = math.exp(speedups.map(math.log).sum / speedups.size)
      val nImp = speedups.count(_ > 1.1)
      val nReg = shared.count(q => results(q) / pq(q) > 1.1)
      val movers = shared.sortBy(q => -math.abs(results(q) - pq(q))).take(5)
        .map(q => f""""$q":[${pq(q)}%.3f,${results(q)}%.3f]""")
        .mkString("{", ",", "}")
      f""""prev":{"n_common":${shared.size},"n_improved":$nImp,"n_regressed":$nReg,"geomean_speedup":$geomean%.4f,"top_movers":$movers}"""
    }
  }

  /** The inverse of this file's own `queries` writer — flat
    * `"name":seconds` pairs — so no JSON library is needed. Shared by
    * the auto-notes and the compact line's `prev` comparison block.
    */
  private[graft] def parseQueries(s: String): Map[String, Double] = {
    val body = "\"queries\":\\{([^}]*)\\}".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse("")
    "\"([^\"]+)\":(-?[0-9.Ee+-]+)".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  private def parseSubs(s: String): Map[String, String] = {
    val body = "\"subtimings\":\\{([^}]*)\\}".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse("")
    "\"([^\"]+)\":\"([^\"]+)\"".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  private def parseSpread(s: String): Map[String, Seq[Double]] = {
    val body = "\"spread\":\\{([^}]*)\\}".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse("")
    "\"([^\"]+)\":\\[([^\\]]*)\\]".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).split(",").toSeq.filter(_.nonEmpty).map(_.toDouble))
      .toMap
  }

  /** Markdown comparison of two Bench JSON lines (prev vs current). Each
    * regression row carries the current run's own per-pass range, so a
    * mover can be read against the spread the run actually measured.
    */
  private[graft] def notes(prevJson: String, curJson: String, sfDir: String): String = {
    val (pq, cq) = (parseQueries(prevJson), parseQueries(curJson))
    val (pSub, cSub) = (parseSubs(prevJson), parseSubs(curJson))
    val spread = parseSpread(curJson)
    val shared = (pq.keySet & cq.keySet).toSeq.sorted
      .filter(q => pq(q) >= 0 && cq(q) >= 0)
    val pTot = shared.map(pq).sum
    val cTot = shared.map(cq).sum
    val newQ = (cq.keySet -- pq.keySet).toSeq.sorted
    def f(d: Double) = f"$d%.2f"
    val regress = shared.filter(q => cq(q) - pq(q) > 0.25)
      .sortBy(q => pq(q) - cq(q))
    val improve = shared.filter(q => pq(q) - cq(q) > 0.25)
      .sortBy(q => cq(q) - pq(q))
    val tail = cq.toSeq.sortBy(-_._2).take(5)
    val sb = new StringBuilder
    sb ++= s"# Bench notes (auto-generated by graft.Bench from the shipped artifact)\n\n"
    sb ++= s"sf dir: `$sfDir`; ${cq.size} queries; shared with previous artifact: ${shared.size}.\n\n"
    sb ++= f"- Shared-query total: ${f(pTot)} s -> ${f(cTot)} s (${cTot / math.max(pTot, 1e-9)}%.2fx)\n"
    if (newQ.nonEmpty)
      sb ++= s"- Newly timed: ${newQ.map(q => s"$q ${f(cq(q))}s").mkString(", ")}\n"
    sb ++= s"- Regressions > 0.25 s: ${if (regress.isEmpty) "none" else ""}\n"
    if (regress.nonEmpty)
      sb ++= ("  (previous -> current min, then this run's per-pass range; attribute a " +
        s"row with `runMain graft.DriftProbe $sfDir <query> 8` in two fresh JVMs)\n")
    regress.foreach { q =>
      val range = spread.get(q).filter(_.nonEmpty)
        .map(v => s" [passes ${f(v.min)}–${f(v.max)} s]").getOrElse("")
      val split = (pSub.get(q), cSub.get(q)) match {
        case (Some(p), Some(c)) => s" {stages: $p -> $c}"
        case (None, Some(c)) => s" {stages: $c}"
        case _ => ""
      }
      sb ++= s"  - $q ${f(pq(q))} -> ${f(cq(q))}$range$split\n"
    }
    if (cSub.nonEmpty) {
      sb ++= "- Fixture-writing queries, write vs plan sub-timings (from the min run):\n"
      cSub.toSeq.sorted.foreach { case (q, parts) =>
        val prev = pSub.get(q).map(p => s" (prev $p)").getOrElse("")
        sb ++= s"  - $q: $parts$prev\n"
      }
    }
    sb ++= s"- Improvements > 0.25 s:\n"
    improve.foreach(q => sb ++= s"  - $q ${f(pq(q))} -> ${f(cq(q))}\n")
    sb ++= s"- Expensive tail: ${tail.map { case (q, v) => s"$q ${f(v)}s" }.mkString(", ")}\n"
    sb.toString
  }
}
