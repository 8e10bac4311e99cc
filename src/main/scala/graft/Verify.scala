package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg (dev only — the driver passes 2): comma-separated
    // query-name filter for fast single-query iteration
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Harness.session(4)
    // declare which SF's learned artifacts the oracle dump must pair
    // with (OracleStash entries are keyed by data dir; a multi-SF JVM
    // would otherwise have no principled winner)
    graft.queries.OracleStash.setEmitDir(sfDir)
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        Harness.run(spark, name, fn, sfDir)(
          _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
          .error.foreach { e =>
            failed += name
            System.err.println(s"[verify] $name failed: $e")
          }
      }
    // Gate self-check: a registered query that produced no parquet is a
    // silently-invisible hole in the round's correctness record (round 6
    // shipped 11 of them). Persist the hole list as a machine-readable
    // artifact and scream on stderr; rc stays 0 so the driver still
    // compares every query that DID produce output.
    Files.writeString(Paths.get(s"$outDir/_missing.json"),
      failed.map(Harness.quote).mkString("[", ",", "]"))
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] GATE HOLE: ${failed.size} of ${SparkEntry.queries.size} " +
        s"registered queries produced no result: ${failed.mkString(", ")}")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.quote(k)}: ${Harness.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
