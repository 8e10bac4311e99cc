package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** jaccard_sorted_min's threshold from SQL: a decimal literal such as
  * `0.8` is a valid threshold, and a threshold the generated code cannot
  * carry (NaN, ±Infinity) is refused when the expression is built.
  */
class JaccardMinLiteralSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("jaccard_sorted_min takes a SQL decimal threshold") {
    GraftExtensions.register(spark)
    import spark.implicits._
    Seq((Array(1L, 2L, 3L, 4L, 5L), Array(1L, 2L, 3L, 4L, 5L, 6L)),
      (Array(1L, 2L, 3L), Array(2L, 3L, 4L)))
      .toDF("a", "b").createOrReplaceTempView("jaccard_min_pairs")
    val rows = spark.sql(
      "SELECT jaccard_sorted(a, b) AS plain, jaccard_sorted_min(a, b, 0.8) AS fast " +
        "FROM jaccard_min_pairs").collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      val plain = r.getDouble(0); val fast = r.getDouble(1)
      if (plain >= 0.8) assert(fast == plain) else assert(fast < 0.8)
    }
    assert(rows.exists(_.getDouble(0) >= 0.8) && rows.exists(_.getDouble(0) < 0.8))
  }

  test("jaccard_sorted_min rejects a NaN or infinite threshold") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val df = Seq((Array(1L), Array(1L))).toDF("a", "b")
    for (t <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))
      intercept[IllegalArgumentException] {
        df.select(call_function("jaccard_sorted_min", col("a"), col("b"), lit(t))).collect()
      }
  }
}
