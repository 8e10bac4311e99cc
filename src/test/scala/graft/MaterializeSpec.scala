package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The materialization seam (r15 verdict #3): local mode
  * (localCheckpoint, the bench default) and reliable mode
  * (SparkContext checkpoint dir — survives executor death at fleet
  * scale) must be BIT-IDENTICAL through an iterative kernel, because
  * the seam only selects the truncation primitive, never the plan
  * downstream of it.
  */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def edges = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (6L, 6L), (7L, 8L)
  ).toDF("src", "dst")

  private def run(): Seq[(Long, Long, Long)] =
    graft.ops.LinkGraph.labelPropagation(edges, rounds = 3)
      .select(col("node"), col("lbl"), col("lbl_prev"))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq

  test("local and reliable modes are bit-identical through labelPropagation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ck").toString
    val local =
      try { spark.conf.set(Materialize.ModeKey, "local"); run() }
      finally spark.conf.unset(Materialize.ModeKey)
    val reliable =
      try {
        spark.conf.set(Materialize.ModeKey, "reliable")
        spark.conf.set(Materialize.DirKey, dir)
        run()
      } finally {
        spark.conf.unset(Materialize.ModeKey)
        spark.conf.unset(Materialize.DirKey)
      }
    assert(local == reliable)
    assert(local.nonEmpty)
    // the 1-2-3 cycle converges to label 1; isolated self-loop keeps 6
    assert(local.filter(r => Seq(1L, 2L, 3L).contains(r._1)).forall(_._2 == 1L))
    assert(local.find(_._1 == 6L).get._2 == 6L)
  }

  test("pageRank is bit-identical across the two modes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ck2").toString
    def pr(): Seq[(Long, Long)] =
      graft.ops.LinkGraph.pageRank(
        edges.withColumn("w", lit(1L)), iters = 3)
        .select(col("node"), col("rank"))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
    val local =
      try { spark.conf.set(Materialize.ModeKey, "local"); pr() }
      finally spark.conf.unset(Materialize.ModeKey)
    val reliable =
      try {
        spark.conf.set(Materialize.ModeKey, "reliable")
        spark.conf.set(Materialize.DirKey, dir)
        pr()
      } finally {
        spark.conf.unset(Materialize.ModeKey)
        spark.conf.unset(Materialize.DirKey)
      }
    assert(local == reliable)
    assert(local.nonEmpty)
  }

  /** Run `body` with no checkpoint dir on the shared test context (the
    * cases above leave one set), then restore the previous dir.
    */
  private def withoutCheckpointDir[T](body: => T): T = {
    val sc = spark.sparkContext
    val setDir = classOf[org.apache.spark.SparkContext]
      .getMethod("checkpointDir_$eq", classOf[Option[_]])
    val saved = sc.getCheckpointDir
    setDir.invoke(sc, None)
    try body finally setDir.invoke(sc, saved): Unit
  }

  test("concurrent reliable calls agree and set one checkpoint dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ck_race").toFile
    val df = (1 to 50).toDF("x")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try withoutCheckpointDir {
      spark.conf.set(Materialize.ModeKey, "reliable")
      spark.conf.set(Materialize.DirKey, dir.toString)
      val start = new java.util.concurrent.CountDownLatch(1)
      val calls = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Seq[Int]] {
          def call(): Seq[Int] = {
            start.await()
            Materialize(df).as[Int].collect().sorted.toSeq
          }
        })
      }
      start.countDown()
      val rows = calls.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(rows.forall(_ == (1 to 50)))
      assert(dir.listFiles().count(_.isDirectory) == 1)
      assert(spark.sparkContext.getCheckpointDir.exists(_.contains(dir.getName)))
    } finally {
      pool.shutdownNow(): Unit
      spark.conf.unset(Materialize.ModeKey)
      spark.conf.unset(Materialize.DirKey)
    }
  }

  test("unknown mode throws, reliable without a dir throws") {
    val df = Seq(1).toDF("x")
    try {
      spark.conf.set(Materialize.ModeKey, "bogus")
      intercept[IllegalArgumentException](Materialize(df))
    } finally spark.conf.unset(Materialize.ModeKey)
    // reliable with neither a context checkpoint dir nor the conf key
    withoutCheckpointDir {
      try {
        spark.conf.set(Materialize.ModeKey, "reliable")
        intercept[IllegalArgumentException](Materialize(df))
      } finally spark.conf.unset(Materialize.ModeKey)
    }
  }
}
