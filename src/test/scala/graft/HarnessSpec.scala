package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Harness.run]], the measure loop every suite main shares, and the
  * bench record fields built from its outcomes.
  */
class HarnessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("run on a query that throws returns its message and no timing") {
    val o = Harness.run(spark, "q_throws",
      (_, _) => throw new IllegalStateException("boom\nsecond line"), "unused")(_.count())
    assert(o.seconds.isEmpty)
    assert(o.error.contains("boom\nsecond line"))
    assert(o.errorLine.contains("boom"))
  }

  test("run on a query that localCheckpoints returns the persisted-RDD set to its mark and reads its stages") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    var persistedDuringAction = 0
    val build = (s: org.apache.spark.sql.SparkSession, _: String) =>
      SubTimings.time("q_ckpt", "build")(s.range(100).toDF().localCheckpoint())
    val o = SubTimings.withRun("harness-spec")(Harness.run(spark, "q_ckpt", build, "unused") { df =>
      df.count(): Unit
      persistedDuringAction = (sc.getPersistentRDDs.keySet.toSet -- before).size
    })
    assert(o.seconds.exists(_ >= 0) && o.error.isEmpty)
    assert(o.stages.keySet == Set("build"))
    assert(persistedDuringAction > 0)
    assert(sc.getPersistentRDDs.keySet.toSet == before)
  }

  test("the bench record carries each failure's first line and each pass's seconds") {
    val ok = Harness.Outcome(Some(1.5), Map.empty, None)
    val failed = Harness.Outcome(None, Map.empty, Some("bad \"input\"\nat line 2"))
    val passes = Seq(Map("a" -> ok, "b" -> failed), Map("a" -> ok.copy(seconds = Some(1.25)), "b" -> ok))
    assert(Bench.minOf(passes) == Map("a" -> 1.25, "b" -> -1.0))
    assert(Bench.errorTextJson(passes) == """{"b":"bad \"input\""}""")
    assert(Bench.spreadJson(passes) == """{"a":[1.5,1.25],"b":[-1.0,1.5]}""")
  }

  test("notes print a regression row's min–max from the current line's spread") {
    val prev = """{"queries":{"a":1.0,"b":2.0},"errors":[]}"""
    val cur = """{"queries":{"a":1.5,"b":2.1},"errors":[],"spread":{"a":[1.9,1.5],"b":[2.1,2.2]}}"""
    val n = Bench.notes(prev, cur, "d")
    assert(n.contains("a 1.00 -> 1.50 [passes 1.50–1.90 s]"), n)
    assert(!n.contains("2.10–2.20"), n) // b moved < 0.25 s: no row
  }
}
