package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Bench.prevBlock]], the compact line's comparison against the
  * previous artifact: only queries timed > 0 on both sides are shared,
  * so neither a failed (-1.0) nor a zero timing can reach the geomean.
  */
class BenchPrevBlockSpec extends AnyFunSuite {

  test("prev block: a zero timing is not shared and the geomean stays finite") {
    val prev = Map("a" -> 2.0, "b" -> 0.0, "c" -> 1.0, "err" -> -1.0)
    val cur = Map("a" -> 1.0, "b" -> 0.5, "c" -> 0.0, "err" -> 0.3)
    val block = Bench.prevBlock(prev, cur)
    assert(block.contains("\"n_common\":1"), block)
    assert(block.contains("\"geomean_speedup\":2.0000"), block)
    assert(block.contains("\"n_improved\":1,\"n_regressed\":0"), block)
    assert(!block.contains("NaN") && !block.contains("Infinity"), block)
  }

  test("prev block: nothing shared reports n_common 0") {
    assert(Bench.prevBlock(Map.empty, Map("a" -> 1.0)) == "\"prev\":{\"n_common\":0}")
    assert(Bench.prevBlock(Map("a" -> 0.0), Map("a" -> 1.0)) == "\"prev\":{\"n_common\":0}")
  }
}
