package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class LayoutSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Independent Scala reference: the classic top-down xy->d Hilbert
    * transform (public algorithm, e.g. Hamilton's tech report / the
    * canonical C spelling), written with actual bit ops and mutation —
    * nothing shared with the Column fold under test.
    */
  private def refHilbert(n: Int, xIn: Int, yIn: Int): Long = {
    var x = xIn; var y = yIn; var d = 0L; var s = n / 2
    while (s > 0) {
      val rx = if ((x & s) > 0) 1 else 0
      val ry = if ((y & s) > 0) 1 else 0
      d += s.toLong * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }

  private def refZorder(dims: Seq[Long], bits: Int): Long = {
    var out = 0L
    for ((v, j) <- dims.zipWithIndex; i <- 0 until bits)
      out |= ((v >> i) & 1L) << (i * dims.size + j)
    out
  }

  test("hilbertKey == reference on the full 32x32 grid; bijective; unit-step") {
    val n = 32
    val grid = spark.range(n.toLong * n)
      .select((col("id") % n).as("x"), (col("id") / n).cast("long").as("y"))
    val got = grid
      .select(col("x"), col("y"), Layout.hilbertKey(col("x"), col("y"), 5).as("d"))
      .collect().map(r => ((r.getLong(0).toInt, r.getLong(1).toInt), r.getLong(2)))
    assert(got.length == n * n)
    got.foreach { case ((x, y), d) =>
      assert(d == refHilbert(n, x, y), s"cell ($x,$y)")
    }
    // bijection onto [0, n^2)
    val ds = got.map(_._2).sorted
    assert(ds.head == 0L && ds.last == n.toLong * n - 1 && ds.distinct.length == n * n)
    // the defining locality property: consecutive curve positions are
    // Manhattan-adjacent cells (Z-order fails this at every quadrant seam)
    val byD = got.map { case ((x, y), d) => d -> (x, y) }.toMap
    (1 until n * n).foreach { d =>
      val (x0, y0) = byD(d - 1L); val (x1, y1) = byD(d.toLong)
      assert(math.abs(x1 - x0) + math.abs(y1 - y0) == 1, s"jump at d=$d")
    }
  }

  test("hilbertKey matches reference at 16 bits (double-division exactness)") {
    val n = 1 << 16
    val sample = spark.range(2000)
      .select(((col("id") * 48271L) % n).as("x"), ((col("id") * 69621L) % n).as("y"))
    sample.select(col("x"), col("y"), Layout.hilbertKey(col("x"), col("y"), 16).as("d"))
      .collect().foreach { r =>
        assert(r.getLong(2) == refHilbert(n, r.getLong(0).toInt, r.getLong(1).toInt))
      }
  }

  test("zorderKey == reference; 3-dim interleave; per-dim monotone on grids") {
    val rows = spark.range(1500).select(
      ((col("id") * 7919L) % 1024).as("a"),
      ((col("id") * 104729L) % 1024).as("b"),
      ((col("id") * 31L) % 1024).as("c"))
    rows.select(col("a"), col("b"), col("c"),
      Layout.zorderKey(Seq(col("a"), col("b"), col("c")), 10).as("z"))
      .collect().foreach { r =>
        assert(r.getLong(3) == refZorder(Seq(r.getLong(0), r.getLong(1), r.getLong(2)), 10))
      }
    // fixing all other dims, the key is strictly increasing in each dim
    val z0 = (0 until 16).map(v => refZorder(Seq(v.toLong, 5L), 4))
    assert(z0 == z0.sorted && z0.distinct.length == 16)
  }

  test("gridCell clamps and lands exact edges in the right cells") {
    val df = Seq(-5.0, 0.0, 0.4999, 500.0, 999.9, 1000.0, 4000.0).toDF("v")
    val cells = df.select(Layout.gridCell(col("v"), 0, 1000, 8).as("c"))
      .as[Long].collect()
    assert(cells sameElements Array(0L, 0L, 0L, 128L, 255L, 255L, 255L))
  }

  /** rows the parquet scan actually produced (post row-group/page skip,
    * pre Spark-side filter). Plans here have no exchange, so no AQE
    * wrapper sits between queryExecution.executedPlan and the scan.
    */
  private def scanOutputRows(df: DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no FileSourceScanExec found")
    scans.map(_.metrics("numOutputRows").value).sum
  }

  test("z-order layout skips most of the table for a 2-dim box; plain layout reads all") {
    val n = 100000L
    val base = spark.range(n).select(
      col("id"),
      ((col("id") * 7919L) % 1000).cast("double").as("x"),
      ((col("id") * 104729L) % 1000).cast("double").as("y"))
    val key = Layout.zorderKey(Seq(
      Layout.gridCell(col("x"), 0, 1000, 8),
      Layout.gridCell(col("y"), 0, 1000, 8)), 8)

    val dir = java.nio.file.Files.createTempDirectory("graft_layout").toString
    val clustered = Layout.writeClustered(base, s"$dir/clustered", key, nFiles = 25)
    // same file count, id order: x/y smeared across every file and page
    base.repartitionByRange(25, col("id")).sortWithinPartitions("id")
      .write.parquet(s"$dir/plain")
    val plain = spark.read.parquet(s"$dir/plain")

    val box = (df: DataFrame) =>
      df.filter(col("x") < 100 && col("y") < 100).select("id", "x", "y")
    val expected = box(base).count()
    assert(box(clustered).count() == expected && box(plain).count() == expected)

    val clusteredRead = scanOutputRows(box(clustered))
    val plainRead = scanOutputRows(box(plain))
    // ~1% of rows match the box; the clustered layout confines them to a
    // few hyper-rectangle files whose footer stats exclude the rest
    assert(clusteredRead <= n / 4,
      s"clustered layout read $clusteredRead of $n rows — no skipping happened")
    assert(plainRead >= (n * 9) / 10,
      s"plain layout read only $plainRead of $n — test premise broken")
    assert(clusteredRead * 3 <= plainRead,
      s"clustered=$clusteredRead not materially below plain=$plainRead")
  }

  test("manifest pruning opens a minority of files and loses nothing") {
    val n = 50000L
    val base = spark.range(n).select(
      col("id"),
      ((col("id") * 7919L) % 1000).cast("double").as("x"),
      ((col("id") * 104729L) % 1000).cast("double").as("y"))
    val key = Layout.zorderKey(Seq(
      Layout.gridCell(col("x"), 0, 1000, 8),
      Layout.gridCell(col("y"), 0, 1000, 8)), 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest").toString
    val reread = Layout.writeClustered(base, dir, key, nFiles = 16)

    val manifest = Layout.fileManifest(reread, Seq("x", "y")).collect()
    assert(manifest.length == 16)
    assert(manifest.map(_.getAs[Long]("n_rows")).sum == n)

    val (kept, total, pruned) = Layout.prunedRead(reread,
      Seq(("x", 0, 99), ("y", 0, 99)))
    assert(total == 16)
    assert(kept.nonEmpty && kept.size <= 6,
      s"box covers ~1% of the space but kept ${kept.size}/16 files")
    // nothing lost, nothing invented: the pruned scan == the full filter
    val expect = base.filter(col("x") <= 99 && col("y") <= 99)
      .select("id").as[Long].collect().sorted.toSeq
    val got = pruned.select("id").as[Long].collect().sorted.toSeq
    assert(got == expect)
    // a box outside the data prunes everything and yields an empty frame
    val (none, _, empty) = Layout.prunedRead(reread, Seq(("x", 2000, 3000)))
    assert(none.isEmpty && empty.isEmpty)
  }

  test("compactFiles merges smalls, preserves content AND pruning quality") {
    val n = 50000L
    val base = spark.range(n).select(
      col("id"),
      ((col("id") * 7919L) % 1000).cast("double").as("x"),
      ((col("id") * 104729L) % 1000).cast("double").as("y"))
    val key = Layout.zorderKey(Seq(
      Layout.gridCell(col("x"), 0, 1000, 8),
      Layout.gridCell(col("y"), 0, 1000, 8)), 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val pre = Layout.writeClustered(base, dir, key, nFiles = 16)
    val (keptPre, totalPre, _) = Layout.prunedRead(pre,
      Seq(("x", 0, 99), ("y", 0, 99)))
    assert(totalPre == 16 && keptPre.size <= 6)

    // floor catches all 16 shards; target merges them ~4:1
    val totalBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    val stats = Layout.compactFiles(spark, dir, "cluster_key",
      minFileBytes = 64L * 1024 * 1024, targetFileBytes = totalBytes / 4 + 1)
    assert(stats.nSmallRewritten == 16)
    assert(stats.filesReduced && stats.nFilesAfter <= 5)
    assert(stats.rowsPreserved && stats.nRowsRewritten == n)

    // content parity after the rewrite — through the log (the compacted
    // originals are only logically deleted; a raw read sees both
    // generations until vacuum)
    val post = Layout.readCommitted(spark, dir)
    assert(post.count() == n)
    assert(post.select("id", "x", "y").exceptAll(base).isEmpty &&
      base.exceptAll(post.select("id", "x", "y")).isEmpty)
    // pruning quality survives: the same box still skips files and the
    // pruned scan still equals the full filter
    val (keptPost, totalPost, prunedPost) = Layout.prunedRead(post,
      Seq(("x", 0, 99), ("y", 0, 99)))
    assert(totalPost == stats.nFilesAfter)
    assert(keptPost.size < totalPost,
      s"post-compaction box kept $keptPost of $totalPost files — no skipping left")
    val expect = base.filter(col("x") <= 99 && col("y") <= 99)
      .select("id").as[Long].collect().sorted.toSeq
    assert(prunedPost.select("id").as[Long].collect().sorted.toSeq == expect)
    // rewritten files keep pairwise-disjoint key boxes
    val boxes = Layout.fileManifest(post, Seq("cluster_key"))
      .orderBy(col("min_cluster_key"))
      .select(col("min_cluster_key"), col("max_cluster_key"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(boxes.sliding(2).forall(p => p.length < 2 || p(0)._2 <= p(1)._1))
  }

  test("compactFiles after micro-batch appends: the incremental-ingest scenario") {
    // ten small appends (each internally sorted but globally interleaved
    // on the cluster key — exactly what a streaming ingest leaves behind),
    // then one compaction pass restores the clustered layout
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_ingest").toString
    val key = Layout.zorderKey(Seq(
      Layout.gridCell(col("x"), 0, 1000, 8),
      Layout.gridCell(col("y"), 0, 1000, 8)), 8)
    (0 until 10).foreach { b =>
      spark.range(b * 2000L, (b + 1) * 2000L).select(
        col("id"),
        ((col("id") * 7919L) % 1000).cast("double").as("x"),
        ((col("id") * 104729L) % 1000).cast("double").as("y"))
        .withColumn("cluster_key", key)
        .repartition(2) // two small files per micro-batch
        .sortWithinPartitions("cluster_key")
        .write.mode("append").parquet(dir)
    }
    val preFiles = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("part-"))
    assert(preFiles == 20)
    // each append is key-sorted only WITHIN itself: file key boxes
    // overlap heavily, so a box query cannot skip much pre-compaction
    val pre = spark.read.parquet(dir)
    val (keptPre, _, _) = Layout.prunedRead(pre, Seq(("x", 0, 99), ("y", 0, 99)))
    assert(keptPre.size >= 15, s"interleaved appends should defeat pruning, kept ${keptPre.size}/20")

    val stats = Layout.compactFiles(spark, dir, "cluster_key",
      minFileBytes = 64L * 1024 * 1024, targetFileBytes = 96L * 1024)
    assert(stats.nSmallRewritten == 20 && stats.filesReduced && stats.rowsPreserved)

    val post = spark.read.parquet(dir)
    assert(post.count() == 20000)
    // compaction restored the clustered geometry: the same box now skips
    val (keptPost, totalPost, prunedPost) = Layout.prunedRead(post,
      Seq(("x", 0, 99), ("y", 0, 99)))
    assert(keptPost.size < totalPost,
      s"post-compaction box kept ${keptPost.size}/$totalPost — no skipping")
    val expect = post.filter(col("x") <= 99 && col("y") <= 99)
      .select("id").as[Long].collect().sorted.toSeq
    assert(prunedPost.select("id").as[Long].collect().sorted.toSeq == expect)
  }

  test("compactFiles keyRange scopes maintenance; lossy rewrite is refused") {
    val base = spark.range(8000).select(
      col("id"), (col("id") % 256).cast("double").as("x"),
      ((col("id") * 3) % 256).cast("double").as("y"))
    val key = Layout.zorderKey(Seq(
      Layout.gridCell(col("x"), 0, 256, 8),
      Layout.gridCell(col("y"), 0, 256, 8)), 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_rng").toString
    Layout.writeClustered(base, dir, key, nFiles = 8)
    val manifest = Layout.fileManifest(spark.read.parquet(dir), Seq("cluster_key"))
      .orderBy(col("min_cluster_key")).collect()
    // scope to the key range of the two LOWEST files only
    val hi = manifest(1).getAs[Long]("max_cluster_key")
    val stats = Layout.compactFiles(spark, dir, "cluster_key",
      minFileBytes = 64L * 1024 * 1024, targetFileBytes = 64L * 1024 * 1024,
      keyRange = Some((0L, hi)))
    // at least the two in-scope files merged; out-of-scope files untouched
    assert(stats.nSmallRewritten >= 2 && stats.nSmallRewritten < 8)
    assert(stats.nFilesAfter == 8 - stats.nSmallRewritten + 1)
    assert(stats.rowsPreserved)
    val post = Layout.readCommitted(spark, dir)
    assert(post.count() == 8000)
    assert(post.select("id", "x", "y").exceptAll(base).isEmpty)
    // fewer than 2 candidates -> no-op with the shard census intact
    val noop = Layout.compactFiles(spark, dir, "cluster_key",
      minFileBytes = 1L, targetFileBytes = 1L)
    assert(noop.nSmallRewritten == 0 && noop.nFilesAfter == noop.nFilesBefore)
  }

  test("manifest log: committed readers never observe the compaction window") {
    val base = spark.range(20000).select(
      col("id"),
      ((col("id") * 7919L) % 512).cast("double").as("x"),
      ((col("id") * 104729L) % 512).cast("double").as("y"))
    val key = Layout.zorderKey(Seq(
      Layout.gridCell(col("x"), 0, 512, 8),
      Layout.gridCell(col("y"), 0, 512, 8)), 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_mlog").toString
    Layout.writeClustered(base, dir, key, nFiles = 8)
    val v1 = Layout.latestSnapshot(spark, dir).get
    assert(v1.version == 1L && v1.keyName == "cluster_key")
    assert(v1.files.size == 8 && v1.totalRows == 20000L)

    // simulate an in-flight rewrite: a data file moved in but NOT yet
    // committed (exactly compactFiles' move-in step). A raw directory
    // reader sees duplicate rows; a reader planning from the committed
    // snapshot must not.
    val first = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).minBy(_.getName)
    val stray = new java.io.File(dir, s"part-inflight-${first.getName}")
    java.nio.file.Files.copy(first.toPath, stray.toPath)
    val strayRows = v1.files.minBy(_.name).rows
    assert(spark.read.parquet(dir).count() == 20000L + strayRows,
      "test premise: the raw directory reader DOES see the duplicate")
    assert(Layout.readCommitted(spark, dir).count() == 20000L,
      "committed reader observed a half-moved file")
    assert(stray.delete())

    // compaction commits v2 (rewrites only) before deleting originals
    val totalBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    val stats = Layout.compactFiles(spark, dir, "cluster_key",
      minFileBytes = 64L * 1024 * 1024, targetFileBytes = totalBytes / 4 + 1)
    assert(stats.rowsPreserved && stats.filesReduced)
    val v2 = Layout.latestSnapshot(spark, dir).get
    assert(v2.version == 2L)
    assert(v2.files.map(_.name).toSet.intersect(v1.files.map(_.name).toSet).isEmpty,
      "v2 must list only the rewritten generation")
    assert(v2.totalRows == 20000L)
    val post = Layout.readCommitted(spark, dir).select("id", "x", "y")
    assert(post.exceptAll(base).isEmpty && base.exceptAll(post).isEmpty)

    // single-writer discipline: re-committing a taken version fails loudly
    intercept[IllegalStateException](Layout.commitSnapshot(spark, dir, v2))
  }

  test("prunedCommittedRead plans from persisted stats — no data scan, nothing lost") {
    val n = 50000L
    val base = spark.range(n).select(
      col("id"),
      ((col("id") * 7919L) % 1000).cast("double").as("x"),
      ((col("id") * 104729L) % 1000).cast("double").as("y"))
    val key = Layout.zorderKey(Seq(
      Layout.gridCell(col("x"), 0, 1000, 8),
      Layout.gridCell(col("y"), 0, 1000, 8)), 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_mprune").toString
    Layout.writeClustered(base, dir, key, nFiles = 16)
    val snap = Layout.latestSnapshot(spark, dir).get
    // a box over the lowest file's persisted key range
    val lowBox = snap.files.minBy(_.minKey)
    val (kept, total, df) = Layout.prunedCommittedRead(
      spark, dir, lowBox.minKey, lowBox.maxKey)
    assert(total == 16 && kept.nonEmpty && kept.size < 16,
      s"kept ${kept.size}/$total — persisted stats did not prune")
    val expect = Layout.readCommitted(spark, dir)
      .filter(col("cluster_key") >= lowBox.minKey &&
        col("cluster_key") <= lowBox.maxKey)
      .select("id").as[Long].collect().sorted.toSeq
    assert(df.select("id").as[Long].collect().sorted.toSeq == expect)
    // a box outside every file prunes everything
    val maxKey = snap.files.map(_.maxKey).max
    val (none, _, empty) = Layout.prunedCommittedRead(
      spark, dir, maxKey + 1, maxKey + 1000)
    assert(none.isEmpty && empty.isEmpty)
  }

  test("upsert materialization advances the snapshot version") {
    import graft.ops.SnapshotDiff
    val dir = java.nio.file.Files.createTempDirectory("graft_mupsert").toString
    val base = spark.range(100).select(
      col("id"), concat(lit("v"), col("id")).as("payload"))
    Layout.writeClustered(base, dir, pmod(col("id"), lit(16L)), nFiles = 4)
    assert(Layout.latestSnapshot(spark, dir).get.version == 1L)
    val changes = Seq(
      (5L, "update", 1L, "patched5"),
      (100L, "insert", 1L, "new100"),
      (7L, "delete", 1L, "")).toDF("id", "op", "version", "payload")
    val applied = SnapshotDiff.applyChangeSet(
      Layout.readCommitted(spark, dir).select("id", "payload"),
      changes, "id", Seq("payload"))
    // materialize the applied table back through the committed writer
    Layout.writeClustered(applied, dir, pmod(col("id"), lit(16L)), nFiles = 4)
    val v2 = Layout.latestSnapshot(spark, dir).get
    assert(v2.version == 2L, "overwrite must not reset the version counter")
    val got = Layout.readCommitted(spark, dir).select("id", "payload")
      .as[(Long, String)].collect().toMap
    assert(got.size == 100 && got(5L) == "patched5" &&
      got(100L) == "new100" && !got.contains(7L))
  }

  test("appendClustered + time travel + vacuum: the full committed-table lifecycle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mlife").toString
    val key = pmod(col("id"), lit(64L))
    def batch(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id"), (col("id") * 3 % 997).as("v"))
    Layout.writeClustered(batch(0, 1000), dir, key, nFiles = 4) // v1
    val s2 = Layout.appendClustered(batch(1000, 2000), dir, key, nFiles = 4) // v2
    val s3 = Layout.appendClustered(batch(2000, 3000), dir, key, nFiles = 4) // v3
    assert(s2.version == 2L && s3.version == 3L)
    // append cost ∝ batch: v2's entries are carried into v3 untouched
    assert(s2.files.map(_.name).toSet.subsetOf(s3.files.map(_.name).toSet))
    assert(s3.files.size == s2.files.size + 4)
    assert(Layout.readCommitted(spark, dir).count() == 3000L)
    // time travel: each version is the table as of that commit
    assert(Layout.readVersion(spark, dir, 1).count() == 1000L)
    assert(Layout.readVersion(spark, dir, 2).count() == 2000L)
    assert(Layout.readVersion(spark, dir, 2)
      .agg(max(col("id"))).head().getLong(0) == 1999L)

    // compaction folds the smalls into v4 — LOGICAL delete only: the
    // originals stay on disk, so time travel through v1..v3 still works
    val totalBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    val stats = Layout.compactFiles(spark, dir, "cluster_key",
      minFileBytes = 64L * 1024 * 1024, targetFileBytes = totalBytes / 3 + 1)
    assert(stats.filesReduced && stats.rowsPreserved)
    assert(Layout.latestSnapshot(spark, dir).get.version == 4L)
    assert(Layout.readCommitted(spark, dir).count() == 3000L)
    assert(Layout.readVersion(spark, dir, 2).count() == 2000L,
      "compaction must not break time travel before vacuum")
    // raw directory now holds both generations; the log hides that
    assert(spark.read.parquet(dir).count() > 3000L)

    // vacuum keep-2 retains v3/v4 — v3 still references the originals,
    // so NOTHING is physically deleted yet except v1/v2's snapshots
    // (minAgeMs = 0: this lifecycle is single-writer and quiesced)
    val (snapsDropped2, files2) = Layout.vacuum(spark, dir, keepVersions = 2,
      minAgeMs = 0L)
    assert(snapsDropped2 == 2 && files2 == 0)
    intercept[IllegalArgumentException](Layout.readVersion(spark, dir, 1))
    assert(Layout.readVersion(spark, dir, 3).count() == 3000L)

    // vacuum keep-1: only v4 survives; the compacted originals become
    // orphans and are physically removed; the latest read is unharmed
    val (snapsDropped1, files1) = Layout.vacuum(spark, dir, keepVersions = 1,
      minAgeMs = 0L)
    assert(snapsDropped1 == 1 && files1 == stats.nSmallRewritten)
    intercept[IllegalArgumentException](Layout.readVersion(spark, dir, 3))
    assert(Layout.readCommitted(spark, dir).count() == 3000L)
    // and the raw directory agrees with the log again
    assert(spark.read.parquet(dir).count() == 3000L)

    // append refuses an uncommitted directory
    val raw = java.nio.file.Files.createTempDirectory("graft_mlife_raw").toString
    batch(0, 10).write.mode("overwrite").parquet(raw)
    intercept[IllegalStateException](
      Layout.appendClustered(batch(10, 20), raw, key, nFiles = 1))
  }

  test("concurrent appends: optimistic rebase+retry loses no batch; commit race has one winner") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mocc").toString
    val key = pmod(col("id"), lit(32L))
    Layout.writeClustered(
      spark.range(0, 500).select(col("id")), dir, key, nFiles = 2) // v1
    // 4 appenders race from 4 threads; appends commute, so every one
    // must land (rebase + retry), in SOME serial order
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val batches = (1 to 4).map(i => (i * 1000L, i * 1000L + 250L))
    Await.result(Future.sequence(batches.map { case (lo, hi) => Future {
      Layout.appendClustered(
        spark.range(lo, hi).select(col("id")), dir, key, nFiles = 2)
    }}), Duration.Inf)
    val snap = Layout.latestSnapshot(spark, dir).get
    assert(snap.version == 5L, s"4 appends must commit 4 versions, got v${snap.version}")
    assert(snap.totalRows == 500L + 4 * 250L)
    val ids = Layout.readCommitted(spark, dir)
      .select("id").as[Long].collect().toSet
    val expect = (0L until 500L).toSet ++
      batches.flatMap { case (lo, hi) => lo until hi }
    assert(ids == expect, "a racing append's batch was lost")

    // the raw commit race: two threads, SAME version — exactly one wins
    val racers = Await.result(Future.sequence((1 to 2).map { i => Future {
      try {
        Layout.commitSnapshot(spark, dir,
          snap.copy(version = snap.version + 1,
            files = snap.files.take(i))) // distinguishable bodies
        "won"
      } catch { case _: IllegalStateException => "lost" }
    }}), Duration.Inf)
    assert(racers.sorted == Seq("lost", "won"),
      s"commit race must have exactly one winner, got $racers")
  }

  test("compactFiles on a committed table ignores uncommitted orphans") {
    // a failed append's moved-in files (present on disk, absent from the
    // snapshot) must not be resurrected by the next compaction commit
    val dir = java.nio.file.Files.createTempDirectory("graft_morphan").toString
    val key = pmod(col("id"), lit(16L))
    Layout.writeClustered(
      spark.range(2000).select(col("id")), dir, key, nFiles = 4)
    val first = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).minBy(_.getName)
    val orphan = new java.io.File(dir, s"part-append-dead-0${
      first.getName.dropWhile(_ != '.')}")
    java.nio.file.Files.copy(first.toPath, orphan.toPath)
    val totalBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    val stats = Layout.compactFiles(spark, dir, "cluster_key",
      minFileBytes = 64L * 1024 * 1024, targetFileBytes = totalBytes / 2 + 1)
    assert(stats.nSmallRewritten == 4, "orphan must not be a candidate")
    val v2 = Layout.latestSnapshot(spark, dir).get
    assert(!v2.files.map(_.name).contains(orphan.getName),
      "compaction resurrected an uncommitted orphan into the snapshot")
    assert(v2.totalRows == 2000L)
    assert(Layout.readCommitted(spark, dir).count() == 2000L)
    // vacuum keep-1 clears the orphan (and the logically-deleted
    // originals); minAgeMs = 0 because no writer is in flight here
    Layout.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0L)
    assert(!orphan.exists())
  }

  test("vacuum retention horizon: a racing append's staged files survive, stale garbage goes") {
    // the round-12 gap: appendClustered moves its files into the table
    // directory BEFORE winning the commit race; in that window they are
    // referenced by no snapshot. A vacuum running inside the window must
    // not delete them — the onFilesStaged seam schedules it exactly there.
    val dir = java.nio.file.Files.createTempDirectory("graft_mvacrace").toString
    val key = pmod(col("id"), lit(16L))
    Layout.writeClustered(spark.range(1000).select(col("id")), dir, key, nFiles = 2)
    // plant a STALE orphan (a long-dead append) and backdate it past the
    // horizon — the same sweep that spares the in-flight files must
    // still reclaim genuinely old garbage
    val first = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).minBy(_.getName)
    val stale = new java.io.File(dir, s"part-append-dead-0${
      first.getName.dropWhile(_ != '.')}")
    java.nio.file.Files.copy(first.toPath, stale.toPath)
    assert(stale.setLastModified(
      System.currentTimeMillis() - 2 * Layout.DefaultVacuumRetentionMs))
    var sweptInWindow = (-1, -1)
    val snap = Layout.appendClustered(
      spark.range(1000, 2000).select(col("id")), dir, key, nFiles = 2,
      onFilesStaged = () => {
        sweptInWindow = Layout.vacuum(spark, dir, keepVersions = 1)
      })
    // the vacuum DID run in the window, reclaimed only the stale orphan,
    // and the racing append still landed losslessly
    assert(sweptInWindow._2 == 1, s"expected exactly the stale orphan swept, got $sweptInWindow")
    assert(!stale.exists())
    assert(snap.version == 2L && snap.totalRows == 2000L)
    assert(Layout.readCommitted(spark, dir).count() == 2000L)
    snap.files.foreach(f => assert(new java.io.File(dir, f.name).exists(),
      s"vacuum deleted ${f.name} out from under the in-flight append"))

    // crashed-writer staging sweep: a backdated .append-* dir and a
    // backdated _manifests/.tmp-* body are reclaimed; a FRESH staging
    // dir (a live writer) survives the same sweep
    val old = System.currentTimeMillis() - 2 * Layout.DefaultVacuumRetentionMs
    val deadStage = new java.io.File(dir, ".append-dead")
    assert(deadStage.mkdir())
    val inner = new java.io.File(deadStage, "part-x.parquet")
    java.nio.file.Files.copy(first.toPath, inner.toPath)
    assert(inner.setLastModified(old) && deadStage.setLastModified(old))
    val deadTmp = new java.io.File(new java.io.File(dir, "_manifests"), ".tmp-dead")
    java.nio.file.Files.writeString(deadTmp.toPath, "torn")
    assert(deadTmp.setLastModified(old))
    val liveStage = new java.io.File(dir, ".append-live")
    assert(liveStage.mkdir())
    Layout.vacuum(spark, dir, keepVersions = 1)
    assert(!deadStage.exists(), "stale staging dir must be swept")
    assert(!deadTmp.exists(), "torn manifest tmp must be swept")
    assert(liveStage.exists(), "a live writer's fresh staging must survive")
    assert(Layout.readCommitted(spark, dir).count() == 2000L)
    assert(liveStage.delete())
  }

  test("appendClustered refuses a batch whose schema drifted from the committed table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mschema").toString
    val key = pmod(col("id"), lit(8L))
    Layout.writeClustered(
      spark.range(100).select(col("id"), (col("id") * 2).as("v")), dir, key, nFiles = 1)
    assert(Layout.latestSnapshot(spark, dir).get.schemaHash.nonEmpty,
      "writeClustered must record a schema fingerprint")
    // matching batch lands
    Layout.appendClustered(
      spark.range(100, 200).select(col("id"), (col("id") * 2).as("v")),
      dir, key, nFiles = 1)
    // renamed column: refused loudly, nothing staged, nothing committed
    val before = new java.io.File(dir).listFiles().count(_.getName.startsWith("part-"))
    val ex = intercept[IllegalArgumentException] {
      Layout.appendClustered(
        spark.range(200, 300).select(col("id"), (col("id") * 2).as("v2")),
        dir, key, nFiles = 1)
    }
    assert(ex.getMessage.contains("schema"))
    assert(new java.io.File(dir).listFiles().count(_.getName.startsWith("part-")) == before,
      "refused append must not leave staged files behind")
    // retyped column: also refused
    intercept[IllegalArgumentException] {
      Layout.appendClustered(
        spark.range(300, 400).select(col("id"), (col("id") * 2).cast("int").as("v")),
        dir, key, nFiles = 1)
    }
    assert(Layout.latestSnapshot(spark, dir).get.version == 2L)
    assert(Layout.readCommitted(spark, dir).count() == 200L)
  }

  test("full rewrite preserves history: time travel crosses it, vacuum reclaims the old generation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mrewrite").toString
    val key = pmod(col("id"), lit(16L))
    def batch(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"))
    Layout.writeClustered(batch(0, 1000), dir, key, nFiles = 2) // v1
    Layout.appendClustered(batch(1000, 2000), dir, key, nFiles = 2) // v2
    val gen1 = Layout.latestSnapshot(spark, dir).get.files.map(_.name).toSet
    // FULL REWRITE: entirely new content, committed as v3 under fresh
    // names — the directory (and the log) is never truncated
    val re = Layout.writeClustered(batch(5000, 5500), dir, key, nFiles = 2) // v3
    assert(re.count() == 500L)
    val v3 = Layout.latestSnapshot(spark, dir).get
    assert(v3.version == 3L)
    assert(v3.files.map(_.name).toSet.intersect(gen1).isEmpty,
      "rewrite must commit a fresh generation, not reuse old names")
    // time travel ACROSS the rewrite still answers from the old generation
    assert(Layout.readVersion(spark, dir, 1).count() == 1000L)
    assert(Layout.readVersion(spark, dir, 2).count() == 2000L)
    assert(Layout.readCommitted(spark, dir).count() == 500L)
    // both generations are on disk until vacuum; the log hides that
    assert(spark.read.parquet(dir).count() == 2500L)
    val (snaps, files) = Layout.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0L)
    assert(snaps == 2 && files == gen1.size)
    assert(Layout.readCommitted(spark, dir).count() == 500L)
    assert(spark.read.parquet(dir).count() == 500L)
    // and appends keep working on the rewritten table
    Layout.appendClustered(batch(5500, 5600), dir, key, nFiles = 1) // v4
    assert(Layout.readCommitted(spark, dir).count() == 600L)
    assert(Layout.latestSnapshot(spark, dir).get.version == 4L)
  }

  test("txn-tagged appends are exactly-once: replays no-op, even after a 'restart'") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mtxn").toString
    val key = pmod(col("id"), lit(8L))
    Layout.writeClustered(spark.range(100).select(col("id")), dir, key, nFiles = 1) // v1
    val s2 = Layout.appendClustered(
      spark.range(100, 200).select(col("id")), dir, key, nFiles = 1,
      txn = Some("sinkA" -> 0L)) // batch 0 lands
    assert(s2.version == 2L && s2.txns == Map("sinkA" -> 0L))
    // foreachBatch replay of batch 0: provable no-op — same snapshot back,
    // no new version, no new files (the on-disk txn map is the guard, so
    // a process restart between the two calls changes nothing)
    val filesBefore = new java.io.File(dir).listFiles().count(_.getName.startsWith("part-"))
    val replay = Layout.appendClustered(
      spark.range(100, 200).select(col("id")), dir, key, nFiles = 1,
      txn = Some("sinkA" -> 0L))
    assert(replay.version == 2L)
    assert(new java.io.File(dir).listFiles().count(_.getName.startsWith("part-")) == filesBefore)
    assert(Layout.readCommitted(spark, dir).count() == 200L, "replay must not duplicate rows")
    // the next batch advances; an unrelated writer has its own high-water mark
    val s3 = Layout.appendClustered(
      spark.range(200, 300).select(col("id")), dir, key, nFiles = 1,
      txn = Some("sinkA" -> 1L))
    assert(s3.txns == Map("sinkA" -> 1L))
    val s4 = Layout.appendClustered(
      spark.range(300, 400).select(col("id")), dir, key, nFiles = 1,
      txn = Some("sinkB" -> 0L))
    assert(s4.txns == Map("sinkA" -> 1L, "sinkB" -> 0L))
    assert(Layout.readCommitted(spark, dir).count() == 400L)
    // txn map survives a compaction commit untouched
    val totalBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    Layout.compactFiles(spark, dir, "cluster_key",
      minFileBytes = 64L * 1024 * 1024, targetFileBytes = totalBytes + 1)
    assert(Layout.latestSnapshot(spark, dir).get.txns ==
      Map("sinkA" -> 1L, "sinkB" -> 0L))
  }

  test("tableChanges: appends feed the change feed, compaction adds nothing, rewrite refuses") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mcdf").toString
    val key = pmod(col("id"), lit(16L))
    def batch(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[Long].collect().toSet
    Layout.writeClustered(batch(0, 1000), dir, key, nFiles = 2) // v1 create
    Layout.appendClustered(batch(1000, 2000), dir, key, nFiles = 2) // v2
    Layout.appendClustered(batch(2000, 3000), dir, key, nFiles = 2) // v3
    val totalBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    Layout.compactFiles(spark, dir, "cluster_key",
      minFileBytes = 64L * 1024 * 1024, targetFileBytes = totalBytes + 1) // v4
    Layout.appendClustered(batch(3000, 3500), dir, key, nFiles = 1) // v5
    // ops are recorded in the headers
    assert(Layout.snapshotAt(spark, dir, 1).op == "create")
    assert(Layout.snapshotAt(spark, dir, 2).op == "append")
    assert(Layout.snapshotAt(spark, dir, 4).op == "compact")
    // the full window: exactly the three appended batches, once each
    assert(ids(Layout.tableChanges(spark, dir, 1, 5)) == (1000L until 3500L).toSet)
    // a sub-window; a compact-only window is legally empty
    assert(ids(Layout.tableChanges(spark, dir, 2, 3)) == (2000L until 3000L).toSet)
    assert(Layout.tableChanges(spark, dir, 3, 4).isEmpty)
    assert(Layout.tableChanges(spark, dir, 5, 5).isEmpty)
    // rewrite replaces content: the feed refuses rather than fabricating
    Layout.writeClustered(batch(0, 10), dir, key, nFiles = 1) // v6 rewrite
    val ex = intercept[IllegalArgumentException](
      Layout.tableChanges(spark, dir, 1, 6))
    assert(ex.getMessage.contains("rewrite"))
    // windows that stop before the rewrite keep answering
    assert(ids(Layout.tableChanges(spark, dir, 1, 5)) == (1000L until 3500L).toSet)
  }

  test("per-column snapshot stats: prune on ORIGINAL columns across appends and compaction") {
    val base = spark.range(40000).select(
      col("id"),
      ((col("id") * 7919L) % 1000).as("x"),
      ((col("id") * 104729L) % 1000).as("y"))
    val key = Layout.zorderKey(Seq(
      Layout.gridCell(col("x"), 0, 1000, 8),
      Layout.gridCell(col("y"), 0, 1000, 8)), 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_colstats").toString
    Layout.writeClustered(base.filter(col("id") < 30000), dir, key,
      nFiles = 12, statsCols = Seq("x", "y"))
    assert(Layout.latestSnapshot(spark, dir).get.statsCols == Seq("x", "y"))
    // appends inherit the pruning contract and record their own boxes
    Layout.appendClustered(base.filter(col("id") >= 30000), dir, key, nFiles = 4)
    val snap = Layout.latestSnapshot(spark, dir).get
    assert(snap.statsCols == Seq("x", "y"))
    assert(snap.files.forall(f => f.stats.contains("x") && f.stats.contains("y")))
    def check(): Unit = {
      val (kept, total, df) = Layout.prunedCommittedReadCols(
        spark, dir, Seq(("x", 0L, 99L), ("y", 0L, 99L)))
      assert(kept.nonEmpty && kept.size < total,
        s"column-stats box kept ${kept.size}/$total — nothing pruned")
      val expect = Layout.readCommitted(spark, dir)
        .filter(col("x").between(0, 99) && col("y").between(0, 99))
        .select("id").as[Long].collect().sorted.toSeq
      assert(df.select("id").as[Long].collect().sorted.toSeq == expect,
        "column-stats pruning lost or invented rows")
    }
    check()
    // compaction carries the contract; the rewritten generation stays prunable
    val totalBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    Layout.compactFiles(spark, dir, "cluster_key",
      minFileBytes = 64L * 1024 * 1024, targetFileBytes = totalBytes / 4 + 1)
    assert(Layout.latestSnapshot(spark, dir).get.statsCols == Seq("x", "y"))
    check()
    // un-recorded and non-integral columns are refused, never silently scanned
    intercept[IllegalArgumentException](
      Layout.prunedCommittedReadCols(spark, dir, Seq(("id", 0L, 10L))))
    val dbl = java.nio.file.Files.createTempDirectory("graft_colstats_dbl").toString
    intercept[IllegalArgumentException](
      Layout.writeClustered(
        base.withColumn("xd", col("x").cast("double")), dbl, key,
        nFiles = 2, statsCols = Seq("xd")))
  }

  test("deleteWhere: stats-planned partial rewrite, history intact, feed refuses") {
    val base = spark.range(40000).select(
      col("id"),
      ((col("id") * 7919L) % 1000).as("x"),
      ((col("id") * 104729L) % 1000).as("y"))
    val key = Layout.zorderKey(Seq(
      Layout.gridCell(col("x"), 0, 1000, 8),
      Layout.gridCell(col("y"), 0, 1000, 8)), 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_mdelete").toString
    Layout.writeClustered(base, dir, key, nFiles = 16, statsCols = Seq("x"))
    val v1 = Layout.latestSnapshot(spark, dir).get.version
    val stats = Layout.deleteWhere(spark, dir,
      col("x").between(0, 99), Seq(("x", 0L, 99L)))
    // stats planning: only the files whose x box intersects were touched
    assert(stats.nRowsDeleted == base.filter(col("x").between(0, 99)).count())
    assert(stats.nFilesRewritten > 0 && stats.nFilesRewritten < stats.nFilesTotal,
      s"expected a PARTIAL rewrite, got ${stats.nFilesRewritten}/${stats.nFilesTotal}")
    assert(Layout.latestSnapshot(spark, dir).get.op == "delete")
    // content: exactly the non-matching rows (rows in affected files
    // that do NOT match the predicate survive the rewrite)
    val got = Layout.readCommitted(spark, dir).select("id").as[Long].collect().sorted
    val want = base.filter(!col("x").between(0, 99))
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == want.toSeq, "delete lost or invented rows")
    // history: the pre-delete snapshot still answers in full
    assert(Layout.readVersion(spark, dir, v1).count() == 40000L)
    // the change feed cannot express removal: it refuses to cross
    val ex = intercept[IllegalArgumentException](
      Layout.tableChanges(spark, dir, v1, stats.version))
    assert(ex.getMessage.contains("delete"))
    // appends keep working after a delete; vacuum reclaims the old generation
    Layout.appendClustered(
      spark.range(50000, 50100).select(col("id"),
        (col("id") % 1000).as("x"), (col("id") % 997).as("y")),
      dir, key, nFiles = 1)
    Layout.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0L)
    assert(Layout.readCommitted(spark, dir).count() == want.length + 100L)
    // a delete matching nothing is a no-op commit-wise
    val noop = Layout.deleteWhere(spark, dir,
      col("x") === lit(-5L), Seq(("x", -5L, -5L)))
    assert(noop.nRowsDeleted == 0L && noop.nFilesRewritten == 0L)
    // emptying the table entirely is refused, never a reader-breaking commit
    val tiny = java.nio.file.Files.createTempDirectory("graft_mdelete_all").toString
    Layout.writeClustered(
      spark.range(100).select(col("id"), (col("id") % 10).as("x")),
      tiny, pmod(col("id"), lit(4L)), nFiles = 1, statsCols = Seq("x"))
    intercept[IllegalArgumentException](
      Layout.deleteWhere(spark, tiny, lit(true)))
    assert(Layout.readCommitted(spark, tiny).count() == 100L)
  }

  test("updateWhere: stats-planned partial rewrite, SQL semantics, CDF pairs") {
    val base = spark.range(40000).select(
      col("id"),
      ((col("id") * 7919L) % 1000).as("x"),
      // nullable column: the NULL-predicate row-keeping gate below.
      // modulus 997 (not 1000) so y is decorrelated from x — with both
      // mod 1000 the two residues are a bijection of id%1000 and the
      // conjunction below matches only the all-NULL residue 0
      when(col("id") % 100 === 0, lit(null).cast("long"))
        .otherwise((col("id") * 104729L) % 997).as("y"))
    val key = Layout.zorderKey(Seq(
      Layout.gridCell(col("x"), 0, 1000, 8),
      Layout.gridCell(coalesce(col("y"), lit(0L)), 0, 1000, 8)), 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_mupdate").toString
    Layout.writeClustered(base, dir, key, nFiles = 16, statsCols = Seq("x"))
    val v1 = Layout.latestSnapshot(spark, dir).get.version
    // predicate y < 100 is NULL where y is NULL: those rows must KEEP
    // their values (SQL UPDATE assigns only where TRUE)
    val stats = Layout.updateWhere(spark, dir,
      col("x").between(0, 99) && col("y") < 100L,
      Seq("x" -> (col("x") + 10000L)),
      Seq(("x", 0L, 99L)))
    val matched = base.filter(col("x").between(0, 99) && col("y") < 100L).count()
    assert(stats.nRowsUpdated == matched && matched > 0)
    assert(stats.nFilesRewritten > 0 && stats.nFilesRewritten < stats.nFilesTotal,
      s"expected a PARTIAL rewrite, got ${stats.nFilesRewritten}/${stats.nFilesTotal}")
    assert(Layout.latestSnapshot(spark, dir).get.op == "update")
    // content parity against the CASE WHEN restatement; same row count
    val want = base.select(col("id"),
      when(coalesce(col("x").between(0, 99) && col("y") < 100L, lit(false)),
        col("x") + 10000L).otherwise(col("x")).as("x"), col("y"))
    val got = Layout.readCommitted(spark, dir).select("id", "x", "y")
    assert(got.count() == 40000L)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "update diverged from the CASE WHEN restatement")
    // history: the pre-update snapshot still answers with the OLD values
    assert(Layout.readVersion(spark, dir, v1)
      .filter(col("x") >= 10000L).count() == 0L)
    // the appends-only feed refuses; the CDF surfaces old+new image pairs
    val ex = intercept[IllegalArgumentException](
      Layout.tableChanges(spark, dir, v1, stats.version))
    assert(ex.getMessage.contains("update"))
    val cdf = Layout.tableChangesCdf(spark, dir, v1, stats.version)
    assert(cdf.filter(col("_change_type") === "delete").count() == matched)
    assert(cdf.filter(col("_change_type") === "insert" &&
      col("x") >= 10000L).count() == matched)
    // SET naming a missing column is refused before anything is staged
    val vNow = Layout.latestSnapshot(spark, dir).get.version
    intercept[IllegalArgumentException](
      Layout.updateWhere(spark, dir, lit(true), Seq("nope" -> lit(1L))))
    assert(Layout.latestSnapshot(spark, dir).get.version == vNow)
    // a predicate matching nothing is a no-op commit-wise
    val noop = Layout.updateWhere(spark, dir, col("x") === lit(-5L),
      Seq("x" -> lit(0L)), Seq(("x", -5L, -5L)))
    assert(noop.nRowsUpdated == 0L && noop.nFilesRewritten == 0L &&
      noop.version == vNow)
    // updating the CLUSTER KEY's inputs is legal: the rewritten
    // generation re-clusters, appends + pruned reads keep working
    Layout.appendClustered(
      spark.range(50000, 50100).select(col("id"),
        (col("id") % 1000).as("x"), (col("id") % 997).as("y")),
      dir, key, nFiles = 1)
    assert(Layout.readCommitted(spark, dir).count() == 40100L)
  }

  test("upsertCommitted: MERGE by file-box probe — updates, deletes, inserts, history") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mupsertc").toString
    val base = spark.range(1, 4001).select(
      col("id"), concat(lit("v"), col("id")).as("payload"))
    // cluster BY id so per-file id boxes are tight; record id stats —
    // the merge key's boxes are what the file probe plans over
    Layout.writeClustered(base, dir, col("id"), nFiles = 8,
      statsCols = Seq("id"))
    val v1 = Layout.latestSnapshot(spark, dir).get.version
    // a key-range-local batch: update 5, delete 7, insert 4500 (outside
    // every box) — all ids ≤ 4500, so high-key files stay untouched
    val changes = Seq(
      (5L, "upsert", 1L, "patched5"),
      (7L, "delete", 1L, ""),
      (4500L, "upsert", 1L, "new4500")).toDF("id", "op", "version", "payload")
    val stats = Layout.upsertCommitted(spark, dir, changes,
      "id", Seq("payload"), col("id"))
    assert(stats.nFilesRewritten > 0 && stats.nFilesRewritten < stats.nFilesTotal,
      s"expected a partial rewrite, got ${stats.nFilesRewritten}/${stats.nFilesTotal}")
    assert(stats.nRowsAfter == stats.nRowsBefore) // +1 insert, -1 delete
    assert(Layout.latestSnapshot(spark, dir).get.op == "upsert")
    val got = Layout.readCommitted(spark, dir).select("id", "payload")
      .as[(Long, String)].collect().toMap
    assert(got.size == 4000 && got(5L) == "patched5" &&
      got(4500L) == "new4500" && !got.contains(7L) && got(6L) == "v6")
    // history until vacuum; the feed refuses to cross an upsert
    assert(Layout.readVersion(spark, dir, v1).count() == 4000L)
    val ex = intercept[IllegalArgumentException](
      Layout.tableChanges(spark, dir, v1, stats.version))
    assert(ex.getMessage.contains("upsert"))
    // a PURE insert batch (no box hit) still lands through the anchor file
    val ins = Seq((9000L, "upsert", 2L, "new9000")).toDF("id", "op", "version", "payload")
    val s2 = Layout.upsertCommitted(spark, dir, ins, "id", Seq("payload"), col("id"))
    assert(s2.nRowsAfter == s2.nRowsBefore + 1)
    assert(Layout.readCommitted(spark, dir).count() == 4001L)
    // schema drift is refused before commit
    intercept[IllegalArgumentException] {
      Layout.upsertCommitted(spark, dir,
        Seq((5L, "upsert", 3L, 42L)).toDF("id", "op", "version", "payload2"),
        "id", Seq("payload2"), col("id"))
    }
    assert(Layout.latestSnapshot(spark, dir).get.version == s2.version)
  }

  test("incrementalEtl: exactly-once derived table over the change feed") {
    val src = java.nio.file.Files.createTempDirectory("graft_etl_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_etl_dst").toString + "/v"
    def docs(r: Range) = spark.range(r.start, r.end).select(
      col("id"), (col("id") % 100).as("x"))
    val tf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.filter(col("x") < 50).select("id", "x")
    Layout.writeClustered(docs(0 until 1000), src, col("id"), nFiles = 4)
    // bootstrap materializes transform(full source), mark in the create
    val e1 = Layout.incrementalEtl(spark, src, dst, tf, col("x"), 2)
    assert(e1.fromVersion == 0L && e1.rowsAppended == 500L && !e1.caughtUp)
    // two source commits, ONE consumer run: windows are invisible
    Layout.appendClustered(docs(1000 until 1400), src, col("id"), nFiles = 1)
    Layout.appendClustered(docs(1400 until 2000), src, col("id"), nFiles = 1)
    val e2 = Layout.incrementalEtl(spark, src, dst, tf, col("x"), 2)
    assert(e2.rowsAppended == 500L && e2.toVersion == e2.fromVersion + 2)
    // caught up: a provable no-op, version identity included
    val e3 = Layout.incrementalEtl(spark, src, dst, tf, col("x"), 2)
    assert(e3.caughtUp && e3.rowsAppended == 0L && e3.dstVersion == e2.dstVersion)
    // incremental == full recompute, row for row
    val got = Layout.readCommitted(spark, dst).select("id", "x")
    val want = tf(Layout.readCommitted(spark, src)).select("id", "x")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // an all-filtered window appends nothing and leaves the mark; the
    // window re-enters the next run alongside new rows, exactly once
    Layout.appendClustered(
      spark.range(5000, 5100).select(col("id"), (col("id") % 50 + 50).as("x")),
      src, col("id"), nFiles = 1)
    val e4 = Layout.incrementalEtl(spark, src, dst, tf, col("x"), 2)
    assert(e4.rowsAppended == 0L && !e4.caughtUp && e4.dstVersion == e2.dstVersion)
    Layout.appendClustered(docs(6000 until 6100), src, col("id"), nFiles = 1)
    val e5 = Layout.incrementalEtl(spark, src, dst, tf, col("x"), 2)
    assert(e5.rowsAppended == 50L && e5.fromVersion == e4.fromVersion,
      "the empty window must re-enter and contribute exactly its 0 rows")
    assert(Layout.readCommitted(spark, dst).count() == 1050L)
    // a derived table this pipeline didn't bootstrap is refused
    intercept[IllegalStateException](
      Layout.incrementalEtl(spark, src, dst, tf, col("x"), 2,
        writerId = "someone-else"))
    // a row-level mutation in the source refuses loudly (append-only view)
    Layout.deleteWhere(spark, src, col("id") === 7L, Seq(("cluster_key", 7L, 7L)))
    intercept[IllegalArgumentException](
      Layout.incrementalEtl(spark, src, dst, tf, col("x"), 2))
  }

  test("addColumn: evolve without rewrite, NULL-backed history, backfill, feeds") {
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    val base = spark.range(1, 1001).select(
      col("id"), ((col("id") * 7919L) % 100).as("x"))
    Layout.writeClustered(base, dir, col("id"), nFiles = 4, statsCols = Seq("x"))
    val v1 = Layout.latestSnapshot(spark, dir).get.version
    // evolve: same files, wider schema, zero bytes rewritten
    val filesBefore = Layout.latestSnapshot(spark, dir).get.files.map(_.name).toSet
    val ev = Layout.addColumn(spark, dir, "score",
      org.apache.spark.sql.types.LongType)
    assert(ev.op == "evolve" && ev.files.map(_.name).toSet == filesBefore)
    // committed reads serve NULL for the new column from old files
    val r = Layout.readCommitted(spark, dir)
    assert(r.columns.contains("score"))
    assert(r.filter(col("score").isNull).count() == 1000L)
    // appends must now CARRY the column; the old shape is refused
    intercept[IllegalArgumentException](Layout.appendClustered(
      spark.range(2000, 2010).select(col("id"), (col("id") % 100).as("x")),
      dir, col("id"), nFiles = 1))
    Layout.appendClustered(
      spark.range(2000, 2100).select(col("id"), (col("id") % 100).as("x"),
        (col("id") * 2).as("score")),
      dir, col("id"), nFiles = 1)
    val mixed = Layout.readCommitted(spark, dir)
    assert(mixed.count() == 1100L)
    assert(mixed.filter(col("score").isNotNull).count() == 100L)
    // backfill the old slice where a real value exists (stats-pruned)
    val up = Layout.updateWhere(spark, dir, col("x") < 50L && col("score").isNull,
      Seq("score" -> (col("x") * 10L)), Seq(("x", 0L, 49L)))
    assert(up.nRowsUpdated == base.filter(col("x") < 50).count())
    val want = base.select(col("id"), col("x"),
        when(col("x") < 50, col("x") * 10L).as("score"))
      .unionByName(spark.range(2000, 2100).select(col("id"),
        (col("id") % 100).as("x"), (col("id") * 2).as("score")))
    val got = Layout.readCommitted(spark, dir).select("id", "x", "score")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "evolve + append + backfill diverged from the restatement")
    // time travel BEFORE the evolution reads the original narrow schema
    val old = Layout.readVersion(spark, dir, v1)
    assert(!old.columns.contains("score") && old.count() == 1000L)
    // the CDF crosses the evolution: the appended rows surface with
    // their score, the backfill as old(NULL)/new pairs, evolve itself
    // contributes nothing
    val cdf = Layout.tableChangesCdf(spark, dir, v1, up.version)
    assert(cdf.filter(col("_change_type") === "insert" &&
      col("score").isNotNull).count() == 100L + up.nRowsUpdated)
    assert(cdf.filter(col("_change_type") === "delete").count() == up.nRowsUpdated)
    // compaction across schema generations reads through the recorded
    // schema and keeps the content
    val totalBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    Layout.compactFiles(spark, dir, "cluster_key",
      minFileBytes = 64L * 1024 * 1024, targetFileBytes = totalBytes + 1)
    val afterCompact = Layout.readCommitted(spark, dir).select("id", "x", "score")
    assert(afterCompact.exceptAll(want).isEmpty && want.exceptAll(afterCompact).isEmpty)
    // duplicate name refuses; manifest-only stats still answer
    intercept[IllegalArgumentException](
      Layout.addColumn(spark, dir, "x", org.apache.spark.sql.types.LongType))
    assert(Layout.statsAggregate(spark, dir).head().getLong(0) == 1100L)
    // DROP COLUMN: same files, narrower scan; history keeps the column
    val vBeforeDrop = Layout.latestSnapshot(spark, dir).get.version
    Layout.dropColumn(spark, dir, "score")
    val narrow = Layout.readCommitted(spark, dir)
    assert(!narrow.columns.contains("score") && narrow.count() == 1100L)
    assert(Layout.readVersion(spark, dir, vBeforeDrop).columns.contains("score"))
    // appends must no longer carry it; the narrow shape works again
    intercept[IllegalArgumentException](Layout.appendClustered(
      spark.range(3000, 3010).select(col("id"), (col("id") % 100).as("x"),
        lit(1L).as("score")),
      dir, col("id"), nFiles = 1))
    Layout.appendClustered(
      spark.range(3000, 3010).select(col("id"), (col("id") % 100).as("x")),
      dir, col("id"), nFiles = 1)
    assert(Layout.readCommitted(spark, dir).count() == 1110L)
    // the tombstone: re-adding the dropped name would resurrect stale
    // values from unrewritten files — refused; a fresh name is fine
    intercept[IllegalArgumentException](
      Layout.addColumn(spark, dir, "score", org.apache.spark.sql.types.LongType))
    Layout.addColumn(spark, dir, "score2", org.apache.spark.sql.types.LongType)
    // the cluster key and stats columns refuse to drop
    intercept[IllegalArgumentException](Layout.dropColumn(spark, dir, "cluster_key"))
    intercept[IllegalArgumentException](Layout.dropColumn(spark, dir, "x"))
    // a FULL rewrite clears tombstones: every live file was just
    // rewritten through the current schema, so the dropped name can
    // come back without resurrecting stale bytes
    Layout.writeClustered(
      Layout.readCommitted(spark, dir).select("id", "x"),
      dir, col("id"), nFiles = 2)
    assert(Layout.latestSnapshot(spark, dir).get.droppedCols.isEmpty)
    Layout.addColumn(spark, dir, "score", org.apache.spark.sql.types.LongType)
    assert(Layout.readCommitted(spark, dir)
      .filter(col("score").isNotNull).count() == 0L,
      "re-added column after a rewrite must be all NULL, never stale bytes")
  }

  test("replicateCommitted mirrors a source DROP COLUMN") {
    val src = java.nio.file.Files.createTempDirectory("graft_dc_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_dc_dst").toString + "/r"
    Layout.writeClustered(
      spark.range(1, 301).select(col("id"), (col("id") % 9).as("x"),
        concat(lit("t"), col("id")).as("tag")),
      src, col("id"), nFiles = 2, statsCols = Seq("id"))
    Layout.replicateCommitted(spark, src, dst, "id")
    Layout.dropColumn(spark, src, "tag")
    Layout.appendClustered(
      spark.range(400, 420).select(col("id"), (col("id") % 9).as("x")),
      src, col("id"), nFiles = 1)
    assert(Layout.replicateCommitted(spark, src, dst, "id").versionsApplied == 2L)
    val a = Layout.readCommitted(spark, src).select("id", "x")
    val b = Layout.readCommitted(spark, dst)
    assert(!b.columns.contains("tag"))
    assert(a.exceptAll(b.select("id", "x")).isEmpty &&
      b.select("id", "x").exceptAll(a).isEmpty)
  }

  test("replicateCommitted mirrors a source schema evolution") {
    val src = java.nio.file.Files.createTempDirectory("graft_ev_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_ev_dst").toString + "/r"
    Layout.writeClustered(
      spark.range(1, 501).select(col("id"), (col("id") % 9).as("x")),
      src, col("id"), nFiles = 2, statsCols = Seq("id"))
    Layout.replicateCommitted(spark, src, dst, "id")
    Layout.addColumn(spark, src, "tag", org.apache.spark.sql.types.StringType)
    Layout.appendClustered(
      spark.range(600, 650).select(col("id"), (col("id") % 9).as("x"),
        concat(lit("t"), col("id")).as("tag")),
      src, col("id"), nFiles = 1)
    val st = Layout.replicateCommitted(spark, src, dst, "id")
    assert(st.versionsApplied == 2L)
    val a = Layout.readCommitted(spark, src).select("id", "x", "tag")
    val b = Layout.readCommitted(spark, dst).select("id", "x", "tag")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "replica must mirror the evolved schema and content")
    // replays of the evolve are no-ops (column already present)
    assert(Layout.replicateCommitted(spark, src, dst, "id").caughtUp)
  }

  test("incrementalAggregate: GROUP BY view maintained at window cost") {
    val src = java.nio.file.Files.createTempDirectory("graft_agg_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_agg_dst").toString + "/v"
    def rows(r: Range, gMod: Long) = spark.range(r.start, r.end).select(
      col("id"), (col("id") % gMod).as("g"),
      (col("id") % 7).cast("decimal(10,2)").as("v"))
    val aggs = Seq(("n", "", "count"), ("s", "v", "sum"),
      ("lo", "v", "min"), ("hi", "v", "max"))
    Layout.writeClustered(rows(0 until 3000, 40L), src, col("id"), nFiles = 4)
    val a1 = Layout.incrementalAggregate(spark, src, dst, "g", aggs, nFiles = 4)
    assert(a1.fromVersion == 0L && a1.groupsMerged == 40L)
    def parity(): Unit = {
      val want = Layout.readCommitted(spark, src)
        .groupBy(col("g")).agg(count(lit(1)).as("n"),
          sum(col("v")).cast("decimal(38,2)").as("s"),
          min(col("v")).as("lo"), max(col("v")).as("hi"))
      val got = Layout.readCommitted(spark, dst).select("g", "n", "s", "lo", "hi")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "view != full recompute")
    }
    parity()
    // two appends, one merge; NEW groups (g in 40..79) arrive too
    Layout.appendClustered(rows(3000 until 4000, 40L), src, col("id"), nFiles = 1)
    Layout.appendClustered(rows(4000 until 5000, 80L), src, col("id"), nFiles = 1)
    val a2 = Layout.incrementalAggregate(spark, src, dst, "g", aggs)
    assert(a2.toVersion == a2.fromVersion + 2 && a2.groupsMerged == 80L)
    parity()
    // caught up: provable no-op
    val a3 = Layout.incrementalAggregate(spark, src, dst, "g", aggs)
    assert(a3.caughtUp && a3.dstVersion == a2.dstVersion)
    // a narrow window (1 group) rewrites a strict subset of the files
    Layout.appendClustered(rows(5000 until 5001, 1L), src, col("id"), nFiles = 1)
    val a4 = Layout.incrementalAggregate(spark, src, dst, "g", aggs)
    assert(a4.groupsMerged == 1L &&
      a4.nFilesRewritten < a4.nFilesTotal && a4.nFilesRewritten >= 1L,
      s"narrow window must merge partially: $a4")
    parity()
    // sum over double is refused — merge order would drift the bits
    intercept[IllegalArgumentException] {
      Layout.incrementalAggregate(spark, src,
        java.nio.file.Files.createTempDirectory("graft_agg_dbl").toString + "/v",
        "g", Seq(("s", "vd", "sum")),
        prepare = df => df.withColumn("vd", col("v").cast("double")))
    }
    // a row-level mutation in the source refuses loudly
    Layout.deleteWhere(spark, src, col("id") === 4999L,
      Seq(("cluster_key", 4999L, 4999L)))
    intercept[IllegalArgumentException](
      Layout.incrementalAggregate(spark, src, dst, "g", aggs))
  }

  test("replicateCommitted: CDC replica follows appends, updates, deletes, merges") {
    val src = java.nio.file.Files.createTempDirectory("graft_repl_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_repl_dst").toString + "/r"
    def rows(r: Range) = spark.range(r.start, r.end).select(
      col("id"), concat(lit("v"), col("id")).as("payload"))
    Layout.writeClustered(rows(1 until 1001), src, col("id"), nFiles = 4,
      statsCols = Seq("id"))
    // bootstrap mirrors the source's clustering and stats contract
    val r1 = Layout.replicateCommitted(spark, src, dst, "id")
    assert(r1.fromVersion == 0L && !r1.caughtUp)
    assert(Layout.latestSnapshot(spark, dst).get.statsCols == Seq("id"))
    def parity(): Unit = {
      val a = Layout.readCommitted(spark, src).select("id", "payload")
      val b = Layout.readCommitted(spark, dst).select("id", "payload")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "replica != source")
    }
    parity()
    // append → replicate (resume mid-lifecycle), then mutate → replicate
    Layout.appendClustered(rows(2000 until 2200), src, col("id"), nFiles = 1)
    val r2 = Layout.replicateCommitted(spark, src, dst, "id")
    assert(r2.versionsApplied == 1L)
    parity()
    Layout.updateWhere(spark, src, col("id") <= 10L,
      Seq("payload" -> lit("patched")), Seq(("id", 1L, 10L)))
    Layout.deleteWhere(spark, src, col("id").between(500, 520),
      Seq(("id", 500L, 520L)))
    Layout.upsertCommitted(spark, src,
      Seq((2100L, "upsert", 1L, "merged2100"), (9000L, "upsert", 1L, "v9000"))
        .toDF("id", "op", "version", "payload"),
      "id", Seq("payload"), col("id"))
    val r3 = Layout.replicateCommitted(spark, src, dst, "id")
    assert(r3.versionsApplied == 3L && r3.toVersion == r3.fromVersion + 3)
    parity()
    val got = Layout.readCommitted(spark, dst).select("id", "payload")
      .as[(Long, String)].collect().toMap
    assert(got(5L) == "patched" && got(2100L) == "merged2100" &&
      got(9000L) == "v9000" && !got.contains(510L) && got(11L) == "v11")
    // caught up: provable no-op
    val r4 = Layout.replicateCommitted(spark, src, dst, "id")
    assert(r4.caughtUp && r4.dstVersion == r3.dstVersion)
    // a compaction in the source applies nothing but doesn't block
    val totalBytes = new java.io.File(src).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    Layout.compactFiles(spark, src, "cluster_key",
      minFileBytes = 64L * 1024 * 1024, targetFileBytes = totalBytes + 1)
    Layout.appendClustered(rows(3000 until 3010), src, col("id"), nFiles = 1)
    val r5 = Layout.replicateCommitted(spark, src, dst, "id")
    assert(r5.versionsApplied == 1L, s"compact must apply nothing: $r5")
    parity()
    // replayed version ids are no-ops at the upsert layer too
    val dsnap = Layout.latestSnapshot(spark, dst).get
    val replay = Layout.upsertCommitted(spark, dst,
      Seq((1L, "upsert", 9L, "SHOULD NOT LAND"))
        .toDF("id", "op", "version", "payload"),
      "id", Seq("payload"), col("id"),
      txn = Some(s"sync:$src" -> dsnap.txns(s"sync:$src")))
    assert(replay.version == dsnap.version && replay.nFilesRewritten == 0L)
    // a source full rewrite refuses: no incremental story
    Layout.writeClustered(rows(1 until 50), src, col("id"), nFiles = 1,
      statsCols = Seq("id"))
    intercept[IllegalArgumentException](
      Layout.replicateCommitted(spark, src, dst, "id"))
    // a replica someone else bootstrapped is refused
    intercept[IllegalStateException](
      Layout.replicateCommitted(spark, src, dst, "id", writerId = "other"))
  }

  test("restoreVersion: rollback as a new commit; history, CDF and appends stay consistent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_restore").toString
    def rows(r: Range) = spark.range(r.start, r.end).select(
      col("id"), concat(lit("v"), col("id")).as("payload"))
    Layout.writeClustered(rows(0 until 100), dir, col("id"), nFiles = 2,
      txn = Some("ingest" -> 1L))                                  // v1
    Layout.appendClustered(rows(100 until 200), dir, col("id"), nFiles = 1,
      txn = Some("ingest" -> 2L))                                  // v2
    val vPre = Layout.latestSnapshot(spark, dir).get.version
    assert(vPre == 2L)
    Layout.deleteWhere(spark, dir, col("id") < 20L,
      Seq(("cluster_key", 0L, 19L)))                               // v3
    assert(Layout.readCommitted(spark, dir).count() == 180L)
    val snap = Layout.restoreVersion(spark, dir, vPre)             // v4
    assert(snap.version == 4L && snap.op == "restore")
    // content == the pre-delete snapshot, bit for bit
    val now = Layout.readCommitted(spark, dir).select("id", "payload")
    val pre = Layout.readVersion(spark, dir, vPre).select("id", "payload")
    assert(now.exceptAll(pre).isEmpty && pre.exceptAll(now).isEmpty)
    // txn marks carried forward from the CURRENT head, not v2's copy
    assert(snap.txns == Map("ingest" -> 2L))
    // full history stays time-travelable, restore row in the audit log
    assert(Layout.readVersion(spark, dir, 3L).count() == 180L)
    val hist = Layout.describeHistory(spark, dir)
      .orderBy(col("version")).select("op").collect().map(_.getString(0))
    assert(hist.toSeq == Seq("create", "append", "delete", "restore"))
    // CDF across the restore: exactly the deleted rows come back
    val legs = Layout.tableChangesCdf(spark, dir, 3L, 4L)
    assert(legs.filter(col("_change_type") === "insert").count() == 20L)
    assert(legs.filter(col("_change_type") === "delete").count() == 0L)
    // whole window delete→restore nets to zero row changes
    val net = Layout.tableChangesCdf(spark, dir, 2L, 4L)
    val ins = net.filter(col("_change_type") === "insert").drop("_change_type")
    val del = net.filter(col("_change_type") === "delete").drop("_change_type")
    assert(ins.exceptAll(del).isEmpty && del.exceptAll(ins).isEmpty)
    // the adds-only feed refuses the restore with the CDF remedy
    val err = intercept[IllegalArgumentException](
      Layout.tableChanges(spark, dir, 3L, 4L))
    assert(err.getMessage.contains("tableChangesCdf"))
    // restore-then-append: the restored schema contract accepts batches
    Layout.appendClustered(rows(200 until 210), dir, col("id"), nFiles = 1) // v5
    assert(Layout.readCommitted(spark, dir).count() == 210L)
    // replayed batch ids are still no-ops across the restore
    val again = Layout.appendClustered(rows(900 until 990), dir, col("id"),
      nFiles = 1, txn = Some("ingest" -> 2L))
    assert(again.version == 5L, "replayed batch must not land after a restore")
    // restoring ahead of the head refuses
    intercept[IllegalArgumentException](
      Layout.restoreVersion(spark, dir, 99L))
  }

  test("vacuum across a restore keeps the restored generation readable") {
    val dir = java.nio.file.Files.createTempDirectory("graft_restore_vac").toString
    def rows(r: Range) = spark.range(r.start, r.end).select(
      col("id"), concat(lit("v"), col("id")).as("payload"))
    Layout.writeClustered(rows(0 until 300), dir, col("id"), nFiles = 3) // v1
    Layout.deleteWhere(spark, dir, col("id") >= 250L,
      Seq(("cluster_key", 250L, 299L)))                                  // v2
    Layout.restoreVersion(spark, dir, 1L)                                // v3
    // keep only the restore snapshot; minAge 0 reclaims aggressively
    val (droppedSnaps, droppedFiles) = Layout.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0L)
    assert(droppedSnaps == 2)
    // the delete's rewritten generation is now orphaned — reclaimed
    assert(droppedFiles > 0, "the undone delete's generation should be orphans")
    // the restored (== v1) generation is REFERENCED by the kept
    // snapshot and must survive the sweep
    assert(Layout.readCommitted(spark, dir).count() == 300L)
    // a vacuumed restore target refuses with the retention message
    intercept[IllegalArgumentException](
      Layout.restoreVersion(spark, dir, 2L))
  }

  test("replicateCommitted follows a source RESTORE incrementally") {
    val src = java.nio.file.Files.createTempDirectory("graft_rst_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_rst_dst").toString + "/r"
    def rows(r: Range) = spark.range(r.start, r.end).select(
      col("id"), concat(lit("v"), col("id")).as("payload"))
    Layout.writeClustered(rows(0 until 500), src, col("id"), nFiles = 3,
      statsCols = Seq("id"))                                         // v1
    Layout.replicateCommitted(spark, src, dst, "id")
    def parity(): Unit = {
      val a = Layout.readCommitted(spark, src).select("id", "payload")
      val b = Layout.readCommitted(spark, dst).select("id", "payload")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, "replica != source")
    }
    parity()
    Layout.appendClustered(rows(500 until 600), src, col("id"), nFiles = 1) // v2
    Layout.deleteWhere(spark, src, col("id").between(100, 150),
      Seq(("id", 100L, 150L)))                                       // v3
    Layout.restoreVersion(spark, src, 2L)                            // v4: undo the delete
    val st = Layout.replicateCommitted(spark, src, dst, "id")
    assert(st.versionsApplied == 3L && !st.caughtUp,
      s"append+delete+restore must all apply: $st")
    parity()
    assert(Layout.readCommitted(spark, dst).count() == 600L)
    // and the replica keeps following normally afterwards
    Layout.appendClustered(rows(700 until 720), src, col("id"), nFiles = 1)
    Layout.replicateCommitted(spark, src, dst, "id")
    parity()
  }

  test("statsAggregate: manifest-only COUNT/MIN/MAX, exact across the lifecycle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mstats").toString
    val base = spark.range(10000).select(
      col("id"), ((col("id") * 7919L) % 911).as("x"))
    Layout.writeClustered(base, dir, col("id"), nFiles = 6,
      statsCols = Seq("x"))
    def check(): Unit = {
      val want = Layout.readCommitted(spark, dir)
        .agg(count(lit(1)), min(col("x")), max(col("x")),
          min(col("cluster_key")), max(col("cluster_key"))).head()
      val got = Layout.statsAggregate(spark, dir, Seq("x", "cluster_key")).head()
      assert(got.getLong(0) == want.getLong(0))
      assert(got.getLong(1) == want.getLong(1) && got.getLong(2) == want.getLong(2))
      assert(got.getLong(3) == want.getLong(3) && got.getLong(4) == want.getLong(4))
    }
    check()
    // appends, deletes and compactions keep the union exact
    Layout.appendClustered(
      spark.range(20000, 20500).select(col("id"), lit(5000L).as("x")),
      dir, col("id"), nFiles = 1)
    check()
    Layout.deleteWhere(spark, dir, col("x") === 5000L, Seq(("x", 5000L, 5000L)))
    check()
    val totalBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    Layout.compactFiles(spark, dir, "cluster_key",
      minFileBytes = 64L * 1024 * 1024, targetFileBytes = totalBytes + 1)
    check()
    // a column without persisted stats refuses — guessing would scan
    intercept[IllegalArgumentException](
      Layout.statsAggregate(spark, dir, Seq("id")))
  }

  test("tableChangesCdf: row-level pre/post diffs for deletes and merges") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mcdf_full").toString
    def docs(rows: Seq[(Long, String)]) = rows.toDF("id", "payload")
    Layout.writeClustered(docs((1L to 100L).map(i => (i, s"v$i"))),
      dir, col("id"), nFiles = 4, statsCols = Seq("id")) // v1
    val v1 = 1L
    Layout.appendClustered(docs(Seq((200L, "v200"), (201L, "v201"))),
      dir, col("id"), nFiles = 1) // v2: +2 inserts
    Layout.deleteWhere(spark, dir, col("id") <= 10L, Seq(("id", 1L, 10L))) // v3
    Layout.upsertCommitted(spark, dir,
      Seq((50L, "upsert", 1L, "patched50"), (300L, "upsert", 1L, "v300"))
        .toDF("id", "op", "version", "payload"),
      "id", Seq("payload"), col("id")) // v4: 1 update + 1 insert
    val cdf = Layout.tableChangesCdf(spark, dir, v1, 4L)
      .select(col("_change_type"), col("id"), col("payload"))
      .as[(String, Long, String)].collect().toSet
    val expect =
      Set(("insert", 200L, "v200"), ("insert", 201L, "v201")) ++ // append
      (1L to 10L).map(i => ("delete", i, s"v$i")).toSet ++       // delete
      Set(("delete", 50L, "v50"), ("insert", 50L, "patched50"),  // update = old+new
        ("insert", 300L, "v300"))                                // merge insert
    assert(cdf == expect, s"CDF diverged:\n got=$cdf\n want=$expect")
    // replaying the feed onto the from-version reproduces the table
    val replayed = Layout.readVersion(spark, dir, v1)
      .select("id", "payload")
      .unionByName(Layout.tableChangesCdf(spark, dir, v1, 4L)
        .filter(col("_change_type") === "insert").select("id", "payload"))
      .exceptAll(Layout.tableChangesCdf(spark, dir, v1, 4L)
        .filter(col("_change_type") === "delete").select("id", "payload"))
    val now = Layout.readCommitted(spark, dir).select("id", "payload")
    assert(replayed.exceptAll(now).isEmpty && now.exceptAll(replayed).isEmpty,
      "base + CDF inserts - CDF deletes must reproduce the current table")
    // compaction inside the window still contributes nothing
    val totalBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    Layout.compactFiles(spark, dir, "cluster_key",
      minFileBytes = 64L * 1024 * 1024, targetFileBytes = totalBytes + 1) // v5
    assert(Layout.tableChangesCdf(spark, dir, 4L, 5L).isEmpty)
  }

  test("change feed drives incremental index maintenance: tail == full rebuild") {
    // the composition the feed exists for: a consumer holds a version
    // high-water mark, pulls tableChanges(hwm, latest), and merges ONLY
    // the delta into its inverted index — never rescanning the corpus.
    // Ground truth: a full rebuild over the committed table.
    import graft.ops.Search
    val dir = java.nio.file.Files.createTempDirectory("graft_mcdf_idx").toString
    val key = pmod(col("doc_id"), lit(8L))
    def docs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    Layout.writeClustered(
      docs(Seq((1L, "the cat sat"), (2L, "the dog"))), dir, key, nFiles = 1) // v1
    var hwm = Layout.latestSnapshot(spark, dir).get.version
    var index = Search.invertedIndex(
      Layout.readCommitted(spark, dir).select("doc_id", "text"), "doc_id", "text")
      .localCheckpoint()
    val waves = Seq(
      Seq((3L, "cat cat cat"), (4L, "a fresh dog barks")),
      Seq((5L, "the fresh cat"), (6L, "entirely new tokens here")))
    waves.foreach { w =>
      Layout.appendClustered(docs(w), dir, key, nFiles = 1)
      val latest = Layout.latestSnapshot(spark, dir).get.version
      val delta = Layout.tableChanges(spark, dir, hwm, latest)
        .select("doc_id", "text")
      index = Search.mergePostings(index, delta, "doc_id", "text").localCheckpoint()
      hwm = latest
    }
    val rebuilt = Search.invertedIndex(
      Layout.readCommitted(spark, dir).select("doc_id", "text"), "doc_id", "text")
    assert(index.exceptAll(rebuilt).isEmpty && rebuilt.exceptAll(index).isEmpty,
      "feed-maintained index diverged from a full rebuild over the committed table")
  }

  test("compactFiles(commit = false) on a committed table is refused") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mnocommit").toString
    Layout.writeClustered(
      spark.range(1000).select(col("id")), dir, pmod(col("id"), lit(8L)), nFiles = 4)
    val ex = intercept[IllegalArgumentException] {
      Layout.compactFiles(spark, dir, "cluster_key",
        minFileBytes = 64L * 1024 * 1024, targetFileBytes = 64L * 1024 * 1024,
        commit = false)
    }
    assert(ex.getMessage.contains("commit"))
    // the table is untouched: snapshot still plans, content intact
    assert(Layout.readCommitted(spark, dir).count() == 1000L)
  }

  test("replicateCommitted coalesces a contiguous append run into ONE commit") {
    val src = java.nio.file.Files.createTempDirectory("graft_run_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_run_dst").toString + "/r"
    def rows(r: Range) = spark.range(r.start, r.end)
      .select(col("id"), (col("id") % 9).as("x"))
    Layout.writeClustered(rows(0 until 100), src, col("id"), nFiles = 2,
      statsCols = Seq("id"))
    Layout.replicateCommitted(spark, src, dst, "id") // bootstrap at src v1
    // a 10-append micro-batch run on the source (v2..v11)
    (1 to 10).foreach(i =>
      Layout.appendClustered(rows(100 * i until 100 * (i + 1)), src,
        col("id"), nFiles = 1))
    val dstV = Layout.latestSnapshot(spark, dst).get.version
    val st = Layout.replicateCommitted(spark, src, dst, "id")
    assert(st.versionsApplied == 10L, "all ten source versions consumed")
    val after = Layout.latestSnapshot(spark, dst).get
    // the whole run lands as ONE replica commit (the serial one-job-per-
    // version loop was the op's only scale ceiling) ...
    assert(after.version == dstV + 1,
      s"expected one coalesced commit, got ${after.version - dstV}")
    // ... carrying the coalesced txn high-water mark (the run's end)
    assert(after.txns(s"sync:$src") == 11L)
    val a = Layout.readCommitted(spark, src).select("id", "x")
    val b = Layout.readCommitted(spark, dst).select("id", "x")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(Layout.replicateCommitted(spark, src, dst, "id").caughtUp)
  }

  test("replicateCommitted reaches caughtUp across a trailing no-op tail") {
    val src = java.nio.file.Files.createTempDirectory("graft_tail_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_tail_dst").toString + "/r"
    Layout.writeClustered(
      spark.range(0, 2000).select(col("id"), (col("id") % 9).as("x")),
      src, col("id"), nFiles = 6, statsCols = Seq("id"))
    Layout.replicateCommitted(spark, src, dst, "id") // bootstrap, mark = v1
    // a source compaction materializes NOTHING on the replica — before
    // the txn-only mark advance, the replica stayed 'not caught up'
    // forever and re-walked this tail on every run
    Layout.compactFiles(spark, src, "cluster_key",
      minFileBytes = 64L * 1024 * 1024, targetFileBytes = 64L * 1024 * 1024)
    val st = Layout.replicateCommitted(spark, src, dst, "id")
    assert(!st.caughtUp && st.versionsApplied == 0L)
    val st2 = Layout.replicateCommitted(spark, src, dst, "id")
    assert(st2.caughtUp, "mark must advance across a no-op tail")
    assert(st2.versionsApplied == 0L && st2.dstVersion == st.dstVersion)
    // the advance is a txn-only commit: same files, feed-transparent
    val snap = Layout.latestSnapshot(spark, dst).get
    assert(snap.op == "txn" && snap.txns(s"sync:$src") == 2L)
    assert(Layout.tableChanges(spark, dst, snap.version - 1, snap.version)
      .isEmpty, "a txn commit must add no rows to the change feed")
  }

  test("replicateCommitted applies evolve + mutation in ONE window") {
    val src = java.nio.file.Files.createTempDirectory("graft_em_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_em_dst").toString + "/r"
    Layout.writeClustered(
      spark.range(1, 201).select(col("id"), (col("id") % 9).as("x")),
      src, col("id"), nFiles = 2, statsCols = Seq("id"))
    Layout.replicateCommitted(spark, src, dst, "id")
    // evolve FOLLOWED by a row-level mutation, both unseen by the
    // replica: the change-set payload must be built against the
    // POST-evolve column set or the upsert's fingerprint check refuses
    Layout.addColumn(spark, src, "tag", org.apache.spark.sql.types.StringType)
    Layout.updateWhere(spark, src, col("id") <= 50,
      Seq("tag" -> concat(lit("t"), col("id"))), Seq(("id", 0L, 50L)))
    val st = Layout.replicateCommitted(spark, src, dst, "id")
    assert(st.versionsApplied == 2L)
    val a = Layout.readCommitted(spark, src).select("id", "x", "tag")
    val b = Layout.readCommitted(spark, dst).select("id", "x", "tag")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "evolve+mutation window must replicate in one run")
    assert(Layout.replicateCommitted(spark, src, dst, "id").caughtUp)
  }

  test("incrementalAggregate: in-window evolve contract") {
    val src = java.nio.file.Files.createTempDirectory("graft_evagg_src").toString
    val dstA = java.nio.file.Files.createTempDirectory("graft_evagg_a").toString + "/v"
    val dstB = java.nio.file.Files.createTempDirectory("graft_evagg_b").toString + "/v"
    def rows(r: Range) = spark.range(r.start, r.end).select(
      col("id"), (col("id") % 10).as("g"),
      (col("id") % 7).cast("decimal(10,2)").as("v"))
    val aggs = Seq(("n", "", "count"), ("s", "v", "sum"))
    Layout.writeClustered(rows(0 until 1000), src, col("id"), nFiles = 2)
    Layout.incrementalAggregate(spark, src, dstA, "g", aggs, nFiles = 2)
    Layout.incrementalAggregate(spark, src, dstB, "g", aggs, nFiles = 2)
    // an UNRELATED evolve passes: the view never touches the new column
    Layout.addColumn(spark, src, "note", org.apache.spark.sql.types.StringType)
    Layout.appendClustered(
      rows(1000 until 1500).withColumn("note", concat(lit("n"), col("id"))),
      src, col("id"), nFiles = 1)
    val ok = Layout.incrementalAggregate(spark, src, dstA, "g", aggs)
    assert(!ok.caughtUp && ok.groupsMerged == 10L)
    val want = Layout.readCommitted(spark, src).groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("v")).cast("decimal(38,2)").as("s"))
    val got = Layout.readCommitted(spark, dstA).select("g", "n", "s")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // an evolve DROPPING an agg input refuses loudly with the remedy
    // (dstB's mark still points before the drop, so its next window
    // crosses it)
    Layout.dropColumn(spark, src, "v")
    val ex = intercept[IllegalArgumentException] {
      Layout.incrementalAggregate(spark, src, dstB, "g", aggs)
    }
    assert(ex.getMessage.contains("re-bootstrap"),
      s"refusal must name the remedy, got: ${ex.getMessage}")
  }

  test("describeHistory audits the log; asOfVersion pins bounded consumption") {
    val src = java.nio.file.Files.createTempDirectory("graft_hist_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_hist_dst").toString + "/d"
    def rows(r: Range) = spark.range(r.start, r.end)
      .select(col("id"), (col("id") % 9).as("x"))
    Layout.writeClustered(rows(0 until 1000), src, col("id"), nFiles = 2)
    Layout.appendClustered(rows(1000 until 1400), src, col("id"), nFiles = 1)
    Layout.appendClustered(rows(1400 until 1600), src, col("id"), nFiles = 1)
    // metadata-only audit: versions, ops, exact cumulative row counts
    val h = Layout.describeHistory(spark, src).orderBy(col("version"))
      .select("version", "op", "n_rows").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(h == Seq((1L, "create", 1000L), (2L, "append", 1400L),
      (3L, "append", 1600L)))
    // bounded consumption (the Delta endingVersion analog): a consumer
    // pinned to a version sees exactly that prefix, reproducibly, and
    // re-running the pin is a provable no-op
    val e1 = Layout.incrementalEtl(spark, src, dst, identity, col("id"),
      nFiles = 2, asOfVersion = 1L)
    assert(e1.rowsAppended == 1000L && e1.toVersion == 1L)
    val e2 = Layout.incrementalEtl(spark, src, dst, identity, col("id"),
      nFiles = 2, asOfVersion = 2L)
    assert(e2.fromVersion == 1L && e2.toVersion == 2L && e2.rowsAppended == 400L)
    assert(Layout.incrementalEtl(spark, src, dst, identity, col("id"),
      nFiles = 2, asOfVersion = 2L).caughtUp)
    // unpinned run drains the rest; the stepped path equals the table
    val e3 = Layout.incrementalEtl(spark, src, dst, identity, col("id"), nFiles = 2)
    assert(e3.rowsAppended == 200L)
    val a = Layout.readCommitted(spark, src).select("id", "x")
    val b = Layout.readCommitted(spark, dst).select("id", "x")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // a pinned replica bootstrap materializes the PAST version
    val rep = java.nio.file.Files.createTempDirectory("graft_hist_rep").toString + "/r"
    val r1 = Layout.replicateCommitted(spark, src, rep, "cluster_key",
      asOfVersion = 2L)
    assert(r1.toVersion == 2L &&
      Layout.readCommitted(spark, rep).count() == 1400L)
    // a never-committed pin refuses loudly
    intercept[IllegalArgumentException](
      Layout.describeHistory(spark, src + "/nope"))
  }

  test("writeClustered is a pure permutation (content parity, key kept)") {
    val base = spark.range(5000).select(
      col("id"), ((col("id") * 37L) % 100).as("x"), ((col("id") * 11L) % 100).as("y"))
    val dir = java.nio.file.Files.createTempDirectory("graft_layout_p").toString
    val re = Layout.writeClustered(
      base, dir, Layout.zorderKey(Seq(col("x"), col("y")), 7), nFiles = 8)
    assert(re.columns.toSeq == Seq("id", "x", "y", "cluster_key"))
    assert(re.count() == 5000)
    assert(re.select("id", "x", "y").exceptAll(base).isEmpty &&
      base.exceptAll(re.select("id", "x", "y")).isEmpty)
    // the persisted key column is the key of its own row
    assert(re.filter(Layout.zorderKey(Seq(col("x"), col("y")), 7) =!=
      col("cluster_key")).isEmpty)
  }

  /** Shared fixture for the deletion-vector battery: 40k rows, 16
    * z-ordered files, x stats recorded.
    */
  private def dvTable(tag: String): (String, DataFrame) = {
    val base = spark.range(40000).select(
      col("id"),
      ((col("id") * 7919L) % 1000).as("x"),
      ((col("id") * 104729L) % 997).as("y"))
    val key = Layout.zorderKey(Seq(
      Layout.gridCell(col("x"), 0, 1000, 8),
      Layout.gridCell(col("y"), 0, 997, 8)), 8)
    val dir = java.nio.file.Files.createTempDirectory(tag).toString
    Layout.writeClustered(base, dir, key, nFiles = 16, statsCols = Seq("x"))
    (dir, base)
  }

  test("deleteWhereDv: merge-on-read delete — no data rewrite, refs merge, history intact") {
    val (dir, base) = dvTable("graft_dv")
    val snap1 = Layout.latestSnapshot(spark, dir).get
    val s1 = Layout.deleteWhereDv(spark, dir,
      col("x").between(0, 99), Seq(("x", 0L, 99L)))
    assert(s1.nRowsDeleted == base.filter(col("x").between(0, 99)).count())
    assert(s1.nFilesDropped == 0L && s1.nFilesDvUpdated > 0L)
    val snap2 = Layout.latestSnapshot(spark, dir).get
    assert(snap2.op == "deletedv" && snap2.hasDeletionVectors)
    // merge-on-read means NO data files were rewritten: same names
    assert(snap2.files.map(_.name).toSet == snap1.files.map(_.name).toSet)
    // the committed read serves exactly the survivors
    val want1 = base.filter(!col("x").between(0, 99))
    assert(Layout.readCommitted(spark, dir).select("id").as[Long].collect().sorted
      .toSeq == want1.select("id").as[Long].collect().sorted.toSeq)
    // live accounting: physical rows unchanged, live rows down
    assert(snap2.totalRows == 40000L &&
      snap2.totalLiveRows == 40000L - s1.nRowsDeleted)
    // time travel to the pre-delete snapshot resurrects everything
    assert(Layout.readVersion(spark, dir, snap1.version).count() == 40000L)
    // a second DV delete FOLDS refs (one ref per file, both slices gone)
    val s2 = Layout.deleteWhereDv(spark, dir,
      col("x").between(100, 149), Seq(("x", 100L, 149L)))
    assert(s2.nRowsDeleted == base.filter(col("x").between(100, 149)).count())
    val want2 = base.filter(!col("x").between(0, 149))
    assert(Layout.readCommitted(spark, dir).count() == want2.count())
    Layout.latestSnapshot(spark, dir).get.files.foreach(f =>
      assert(f.dv.forall(_.nDeleted < f.rows)))
    // re-deleting an already-deleted slice is a no-op commit-wise
    val s3 = Layout.deleteWhereDv(spark, dir,
      col("x").between(0, 99), Seq(("x", 0L, 99L)))
    assert(s3.nRowsDeleted == 0L && s3.version == s2.version)
    // the adds-only feed refuses to cross a deletedv commit
    val ex = intercept[IllegalArgumentException](
      Layout.tableChanges(spark, dir, snap1.version, s2.version))
    assert(ex.getMessage.contains("deletion-vector"))
    // manifest-only MIN/MAX is unsound under DVs and says so; the
    // row count alone stays exact (live)
    val ex2 = intercept[IllegalArgumentException](
      Layout.statsAggregate(spark, dir, Seq("x")))
    assert(ex2.getMessage.contains("deletion vectors"))
    assert(Layout.statsAggregate(spark, dir).select("n_rows")
      .as[Long].head() == want2.count())
    // DESCRIBE HISTORY reports live rows per version
    val hist = Layout.describeHistory(spark, dir)
      .select("version", "n_rows").as[(Long, Long)].collect().toMap
    assert(hist(snap1.version) == 40000L && hist(s2.version) == want2.count())
  }

  test("deleteWhereDv: full-file coverage drops the file; emptying the table is refused") {
    val base = spark.range(1000).select(col("id"), (col("id") % 10).as("x"))
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_drop").toString
    Layout.writeClustered(base, dir, col("x"), nFiles = 10, statsCols = Seq("x"))
    // target ONE actual file's key box: every row of that file matches,
    // so the commit must DROP it from the list instead of DV'ing 100%
    val snap0 = Layout.latestSnapshot(spark, dir).get
    val victim = snap0.files.maxBy(_.rows)
    val (mn, mx) = (victim.minKey, victim.maxKey)
    val expect = Layout.readCommitted(spark, dir)
      .filter(col("cluster_key").between(mn, mx)).count()
    val s = Layout.deleteWhereDv(spark, dir,
      col("cluster_key").between(mn, mx), Seq(("cluster_key", mn, mx)))
    assert(s.nRowsDeleted == expect && s.nFilesDropped >= 1L)
    val snap = Layout.latestSnapshot(spark, dir).get
    assert(!snap.files.exists(_.name == victim.name), "victim must leave the list")
    assert(snap.totalLiveRows == 1000L - expect)
    assert(Layout.readCommitted(spark, dir)
      .filter(col("cluster_key").between(mn, mx)).isEmpty)
    // deleting everything is refused before anything commits
    intercept[IllegalArgumentException](
      Layout.deleteWhereDv(spark, dir, lit(true)))
    assert(Layout.readCommitted(spark, dir).count() == 1000L - expect)
  }

  test("compactFiles materializes deletion vectors; CoW mutations count live rows") {
    val (dir, base) = dvTable("graft_dv_mat")
    Layout.deleteWhereDv(spark, dir, col("x").between(0, 199), Seq(("x", 0L, 199L)))
    val live = base.filter(!col("x").between(0, 199))
    // compact everything (huge minFileBytes): the rewritten generation
    // must carry the deletes physically — no refs left, content equal
    val cs = Layout.compactFiles(spark, dir, "cluster_key",
      minFileBytes = Long.MaxValue / 4, targetFileBytes = Long.MaxValue / 4)
    assert(cs.nSmallRewritten > 0 && cs.rowsPreserved)
    val snap = Layout.latestSnapshot(spark, dir).get
    assert(!snap.hasDeletionVectors, "compaction must materialize DVs")
    assert(snap.totalRows == live.count() && snap.totalLiveRows == snap.totalRows)
    assert(Layout.readCommitted(spark, dir).select("id").as[Long].collect().sorted
      .toSeq == live.select("id").as[Long].collect().sorted.toSeq)
    // copy-on-write delete on a DV table: accounting starts from live
    val (dir2, base2) = dvTable("graft_dv_cow")
    Layout.deleteWhereDv(spark, dir2, col("x").between(0, 99), Seq(("x", 0L, 99L)))
    val cow = Layout.deleteWhere(spark, dir2,
      col("x").between(50, 199), Seq(("x", 50L, 199L)))
    // rows 50-99 are already DV-deleted: only 100-199 count as deleted here
    assert(cow.nRowsDeleted == base2.filter(col("x").between(100, 199)).count())
    assert(Layout.readCommitted(spark, dir2).count() ==
      base2.filter(!col("x").between(0, 199)).count())
    // updateWhere on a DV'd slice keeps deleted rows dead
    val (dir3, base3) = dvTable("graft_dv_upd")
    Layout.deleteWhereDv(spark, dir3, col("x") < 100, Seq(("x", 0L, 99L)))
    Layout.updateWhere(spark, dir3, col("x").between(100, 199),
      Seq("y" -> lit(-1L)), Seq(("x", 100L, 199L)))
    val got3 = Layout.readCommitted(spark, dir3)
    assert(got3.count() == base3.filter(col("x") >= 100).count())
    assert(got3.filter(col("x") < 100).isEmpty)
    assert(got3.filter(col("y") === -1L).count() ==
      base3.filter(col("x").between(100, 199)).count())
  }

  test("tableChangesCdf crosses deletedv with exactly the newly-deleted rows") {
    // statsCols includes id so a CDC replica can follow this table
    val base = spark.range(40000).select(
      col("id"),
      ((col("id") * 7919L) % 1000).as("x"),
      ((col("id") * 104729L) % 997).as("y"))
    val key = Layout.zorderKey(Seq(
      Layout.gridCell(col("x"), 0, 1000, 8),
      Layout.gridCell(col("y"), 0, 997, 8)), 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_cdf").toString
    Layout.writeClustered(base, dir, key, nFiles = 16, statsCols = Seq("x", "id"))
    val v1 = Layout.latestSnapshot(spark, dir).get.version
    val sA = Layout.deleteWhereDv(spark, dir,
      col("x").between(0, 49), Seq(("x", 0L, 49L)))
    val sB = Layout.deleteWhereDv(spark, dir,
      col("x").between(50, 99), Seq(("x", 50L, 99L)))
    // the full window: both slices, all tagged delete
    val cdfAll = Layout.tableChangesCdf(spark, dir, v1, sB.version)
    assert(cdfAll.filter(col("_change_type") =!= "delete").isEmpty)
    assert(cdfAll.select("id").as[Long].collect().sorted.toSeq ==
      base.filter(col("x").between(0, 99)).select("id").as[Long]
        .collect().sorted.toSeq)
    // the second window alone: ONLY slice B — the pre-image leg must
    // apply version A's DVs or slice A would be re-reported
    val cdfB = Layout.tableChangesCdf(spark, dir, sA.version, sB.version)
    assert(cdfB.select("id").as[Long].collect().sorted.toSeq ==
      base.filter(col("x").between(50, 99)).select("id").as[Long]
        .collect().sorted.toSeq)
    // CDF-driven downstream: bootstrap the replica at the PRE-delete
    // version, then sync — the catch-up must WALK both deletedv commits
    // (a latest-version bootstrap would never exercise them)
    val repl = java.nio.file.Files.createTempDirectory("graft_dv_repl").toString
    Layout.replicateCommitted(spark, dir, repl, "id", asOfVersion = v1)
    assert(Layout.readCommitted(spark, repl).count() == 40000L)
    val sync = Layout.replicateCommitted(spark, dir, repl, "id")
    assert(sync.versionsApplied >= 2L || sync.toVersion == sB.version)
    assert(Layout.readCommitted(spark, repl).select("id").as[Long].collect().sorted
      .toSeq == Layout.readCommitted(spark, dir).select("id").as[Long]
        .collect().sorted.toSeq)
  }

  test("vacuum keeps referenced DV sidecars; restore crosses deletedv both ways") {
    val (dir, base) = dvTable("graft_dv_vac")
    val v1 = Layout.latestSnapshot(spark, dir).get.version
    Layout.deleteWhereDv(spark, dir, col("x") < 50, Seq(("x", 0L, 49L)))
    val s2 = Layout.deleteWhereDv(spark, dir,
      col("x").between(50, 99), Seq(("x", 50L, 99L)))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    def dvFiles() = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("dv-")).toSet
    assert(dvFiles().size >= 2, "each deletedv commit stages its own sidecar")
    // restore to the pre-delete version FIRST (needs v1 retained), then
    // verify both directions of the rollback
    val r1 = Layout.restoreVersion(spark, dir, v1)
    assert(Layout.readCommitted(spark, dir).count() == 40000L)
    val r2 = Layout.restoreVersion(spark, dir, s2.version)
    assert(Layout.readCommitted(spark, dir).count() ==
      base.filter(col("x") >= 100).count())
    assert(r2.hasDeletionVectors, "restore must carry the DV refs")
    // vacuum to the latest snapshot only: the first commit's sidecar is
    // now unreferenced and goes; the restored refs' sidecar stays
    Layout.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0L)
    val left = dvFiles()
    val referenced = Layout.latestSnapshot(spark, dir).get
      .files.flatMap(_.dv).map(_.name).toSet
    assert(referenced.nonEmpty && referenced.subsetOf(left))
    assert(left == referenced, s"unreferenced sidecars must be reclaimed: $left")
    assert(Layout.readCommitted(spark, dir).count() ==
      base.filter(col("x") >= 100).count())
    assert(intercept[IllegalArgumentException](
      Layout.restoreVersion(spark, dir, r1.version)).getMessage
      .contains("retention"))
  }

  test("purgeDeletes: threshold-scoped DV materialization, content preserved, feeds no-op") {
    val (dir, base) = dvTable("graft_dv_purge")
    Layout.deleteWhereDv(spark, dir, col("x") < 120, Seq(("x", 0L, 119L)))
    val snapDv = Layout.latestSnapshot(spark, dir).get
    val live = snapDv.totalLiveRows
    // pick a threshold between the min and max per-file deleted
    // fractions so the purge is provably PARTIAL
    val fracs = snapDv.files.flatMap(f => f.dv.map(_.nDeleted.toDouble / f.rows))
    assume(fracs.distinct.size >= 2, "fixture needs uneven DV coverage")
    val thr = (fracs.min + fracs.max) / 2
    val ps = Layout.purgeDeletes(spark, dir, minDeletedFraction = thr)
    assert(ps.nFilesPurged > 0 && ps.nFilesPurged < fracs.size,
      s"expected a partial purge, got ${ps.nFilesPurged}/${fracs.size} DV'd files")
    val snapP = Layout.latestSnapshot(spark, dir).get
    assert(snapP.op == "purge")
    assert(snapP.totalLiveRows == live, "purge must preserve live content")
    assert(snapP.files.count(_.dv.isDefined) ==
      fracs.size - ps.nFilesPurged.toInt, "purged files must shed their refs")
    // purge everything remaining: table fully materialized
    val ps2 = Layout.purgeDeletes(spark, dir)
    val snapAll = Layout.latestSnapshot(spark, dir).get
    assert(!snapAll.hasDeletionVectors && snapAll.totalRows == live)
    assert(Layout.readCommitted(spark, dir).select("id").as[Long].collect().sorted
      .toSeq == base.filter(col("x") >= 120).select("id").as[Long]
        .collect().sorted.toSeq)
    // a DV-free table purges as a no-op without committing
    val ps3 = Layout.purgeDeletes(spark, dir)
    assert(ps3.nFilesPurged == 0L && ps3.version == ps2.version)
    // both feeds cross a purge as a no-op
    assert(Layout.tableChanges(spark, dir, ps.version, ps2.version).count() == 0L)
    assert(Layout.tableChangesCdf(spark, dir, ps.version, ps2.version).count() == 0L)
  }

  test("updateWhereDv: merge-on-read UPDATE — old images DV'd, new images appended, one commit") {
    val (dir, base) = dvTable("graft_dv_mupd")
    val snap0 = Layout.latestSnapshot(spark, dir).get
    val us = Layout.updateWhereDv(spark, dir,
      col("x").between(100, 199), Seq("y" -> lit(-7L)),
      Seq(("x", 100L, 199L)))
    val expect = base.filter(col("x").between(100, 199)).count()
    assert(us.nRowsUpdated == expect)
    val snap1 = Layout.latestSnapshot(spark, dir).get
    assert(snap1.op == "updatedv" && snap1.hasDeletionVectors)
    // the original files are all still listed (none fully covered by a
    // partial predicate at this geometry); new image files were ADDED
    assert(snap0.files.map(_.name).toSet.subsetOf(snap1.files.map(_.name).toSet)
      || us.nFilesDropped > 0)
    assert(snap1.files.map(_.name).toSet.size > snap0.files.size - us.nFilesDropped)
    // live content: the CASE WHEN image of the pristine table
    val got = Layout.readCommitted(spark, dir)
      .select(col("id"), col("y")).as[(Long, Long)].collect().sorted.toSeq
    val want = base.select(col("id"),
      when(col("x").between(100, 199), lit(-7L)).otherwise(col("y")).as("y"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == want, "updated image diverged from the CASE WHEN oracle")
    assert(snap1.totalLiveRows == 40000L)
    // an already-updated (hence DV-deleted) old image must NOT be
    // resurrected by a second update matching the same predicate: the
    // second run matches the NEW images only (y now -7, set y = -8)
    val us2 = Layout.updateWhereDv(spark, dir,
      col("x").between(100, 199) && col("y") === -7L, Seq("y" -> lit(-8L)))
    assert(us2.nRowsUpdated == expect, "second update must match each row once")
    assert(Layout.readCommitted(spark, dir).filter(col("y") === -8L).count()
      == expect)
    assert(Layout.readCommitted(spark, dir).count() == 40000L)
    // time travel: pre-update snapshot intact
    assert(Layout.readVersion(spark, dir, snap0.version)
      .filter(col("y") < 0).count() == 0L)
    // CDF across the first update: old-image deletes + new-image inserts
    val cdf = Layout.tableChangesCdf(spark, dir, snap0.version, us.version)
    assert(cdf.filter(col("_change_type") === "delete").count() == expect)
    assert(cdf.filter(col("_change_type") === "insert").count() == expect)
    assert(cdf.filter(col("_change_type") === "insert")
      .filter(col("y") =!= -7L).isEmpty)
    // adds-only feed refuses
    val ex = intercept[IllegalArgumentException](
      Layout.tableChanges(spark, dir, snap0.version, us.version))
    assert(ex.getMessage.contains("UPDATE"))
    // a replica bootstrapped pre-update follows both updatedv commits
    val repl = java.nio.file.Files.createTempDirectory("graft_dv_mupd_repl").toString
    val src2 = java.nio.file.Files.createTempDirectory("graft_dv_mupd_src").toString
    val key2 = Layout.zorderKey(Seq(
      Layout.gridCell(col("x"), 0, 1000, 8),
      Layout.gridCell(col("y"), 0, 997, 8)), 8)
    Layout.writeClustered(base, src2, key2, nFiles = 8, statsCols = Seq("x", "id"))
    val v1 = Layout.latestSnapshot(spark, src2).get.version
    Layout.replicateCommitted(spark, src2, repl, "id", asOfVersion = v1)
    Layout.updateWhereDv(spark, src2,
      col("x").between(0, 49), Seq("y" -> lit(-9L)), Seq(("x", 0L, 49L)))
    Layout.replicateCommitted(spark, src2, repl, "id")
    assert(Layout.readCommitted(spark, repl).select("id", "y")
      .as[(Long, Long)].collect().sorted.toSeq ==
      Layout.readCommitted(spark, src2).select("id", "y")
        .as[(Long, Long)].collect().sorted.toSeq)
  }

  test("CHECK constraints: add validates history, every batch kind verified, evolve guard, mirror") {
    val base = spark.range(4000).select(
      col("id"),
      ((col("id") * 7919L) % 1000).as("x"),
      // NULLs on ~1/7 of rows: SQL CHECK passes NULL (only FALSE violates)
      when(pmod(col("id"), lit(7L)) === 0L, lit(null).cast("long"))
        .otherwise((col("id") * 104729L) % 997).as("y"))
    val dir = java.nio.file.Files.createTempDirectory("graft_chk").toString
    Layout.writeClustered(base, dir, pmod(col("x"), lit(64L)), nFiles = 8,
      statsCols = Seq("x", "id"))
    // history validation: a satisfied invariant commits (NULL y passes),
    // a violated one refuses with nothing committed
    val c1 = Layout.addCheckConstraint(spark, dir, "x_nonneg", "x >= 0")
    assert(c1.op == "constraint" && c1.constraints == Seq("x_nonneg" -> "x >= 0"))
    Layout.addCheckConstraint(spark, dir, "y_nonneg", "y >= 0"): Unit
    val exAdd = intercept[IllegalArgumentException](
      Layout.addCheckConstraint(spark, dir, "x_small", "x < 500"))
    assert(exAdd.getMessage.contains("x_small") &&
      Layout.latestSnapshot(spark, dir).get.constraints.size == 2)
    // append: a bad batch refuses BEFORE staging (no version, no orphans)
    val vBefore = Layout.latestSnapshot(spark, dir).get.version
    val bad = spark.range(10).select(col("id") + 100000L as "id",
      lit(-5L).as("x"), lit(1L).as("y"))
    intercept[IllegalArgumentException](
      Layout.appendClustered(bad, dir, pmod(col("x"), lit(64L)), nFiles = 1))
    assert(Layout.latestSnapshot(spark, dir).get.version == vBefore)
    val good = spark.range(10).select(col("id") + 100000L as "id",
      lit(5L).as("x"), lit(null).cast("long").as("y"))
    Layout.appendClustered(good, dir, pmod(col("x"), lit(64L)), nFiles = 1): Unit
    // row-level mutations verify their images (CoW and merge-on-read)
    intercept[IllegalArgumentException](
      Layout.updateWhere(spark, dir, col("x") === 5L, Seq("x" -> lit(-1L))))
    intercept[IllegalArgumentException](
      Layout.updateWhereDv(spark, dir, col("x") === 5L, Seq("y" -> lit(-2L))))
    Layout.updateWhereDv(spark, dir, col("x") === 5L, Seq("y" -> lit(2L))): Unit
    assert(Layout.readCommitted(spark, dir).filter(col("y") < 0).isEmpty)
    // MERGE verifies the merged generation
    import spark.implicits._
    val badChange = Seq((0L, 1L, "upsert", -9L, 0L, 0L))
      .toDF("id", "version", "op", "x", "y", "cluster_key")
    intercept[IllegalArgumentException](
      Layout.upsertCommitted(spark, dir, badChange, "id",
        Seq("x", "y", "cluster_key"), pmod(col("x"), lit(64L))))
    // rewrite verifies the whole new content
    intercept[IllegalArgumentException](
      Layout.writeClustered(base.withColumn("x", col("x") - 100L),
        dir, pmod(col("x"), lit(64L)), nFiles = 8))
    // DROP COLUMN refuses while a constraint resolves against the column
    val exDrop = intercept[IllegalArgumentException](
      Layout.dropColumn(spark, dir, "y"))
    assert(exDrop.getMessage.contains("y_nonneg"))
    Layout.dropCheckConstraint(spark, dir, "y_nonneg"): Unit
    Layout.dropColumn(spark, dir, "y"): Unit
    intercept[IllegalArgumentException](
      Layout.dropCheckConstraint(spark, dir, "nope"))
    // the metadata commits are invisible to both feeds
    assert(Layout.tableChanges(spark, dir, c1.version - 1, c1.version).count() == 0L)
    assert(Layout.tableChangesCdf(spark, dir, c1.version - 1, c1.version).count() == 0L)
    // a replica mirrors the constraint list and enforces it on its own
    // future batches
    val src = java.nio.file.Files.createTempDirectory("graft_chk_src").toString
    Layout.writeClustered(base, src, pmod(col("x"), lit(64L)), nFiles = 4,
      statsCols = Seq("x", "id"))
    val v1 = Layout.latestSnapshot(spark, src).get.version
    val repl = java.nio.file.Files.createTempDirectory("graft_chk_repl").toString
    Layout.replicateCommitted(spark, src, repl, "id", asOfVersion = v1)
    Layout.addCheckConstraint(spark, src, "x_nonneg", "x >= 0"): Unit
    Layout.replicateCommitted(spark, src, repl, "id")
    assert(Layout.latestSnapshot(spark, repl).get.constraints ==
      Seq("x_nonneg" -> "x >= 0"))
    intercept[IllegalArgumentException](
      Layout.appendClustered(bad, repl, pmod(col("x"), lit(64L)), nFiles = 1))
    // a replica bootstrapped AFTER the source was constrained mirrors
    // the list at bootstrap (the catch-up loop starts past the commit
    // that added it)
    val repl2 = java.nio.file.Files.createTempDirectory("graft_chk_repl2").toString
    Layout.replicateCommitted(spark, src, repl2, "id")
    assert(Layout.latestSnapshot(spark, repl2).get.constraints ==
      Seq("x_nonneg" -> "x >= 0"))
    // restore to the pre-constraint version rolls the list back too —
    // and a replica following the restore RESYNCS (a stale stricter
    // list would wedge it on the source's next legitimate append)
    val r = Layout.restoreVersion(spark, src, v1)
    assert(r.constraints.isEmpty)
    Layout.replicateCommitted(spark, src, repl2, "id")
    assert(Layout.latestSnapshot(spark, repl2).get.constraints.isEmpty)
    Layout.appendClustered(bad, src, pmod(col("x"), lit(64L)), nFiles = 1): Unit
    Layout.replicateCommitted(spark, src, repl2, "id")
    assert(Layout.readCommitted(spark, repl2).count() ==
      Layout.readCommitted(spark, src).count())
  }

  test("deleteWhereDv resolves predicate columns named 'pos'/'file' to DATA, not metadata") {
    // SAM tables carry a core 'pos' column — a predicate on it must
    // never silently bind to the parquet row index
    val base = spark.range(2000).select(
      col("id"), (col("id") % 100).as("pos"),
      concat(lit("f"), col("id") % 7).as("file"))
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_collide").toString
    Layout.writeClustered(base, dir, pmod(col("id"), lit(16L)), nFiles = 4)
    val s = Layout.deleteWhereDv(spark, dir, col("pos") < 10)
    assert(s.nRowsDeleted == base.filter(col("pos") < 10).count())
    val got = Layout.readCommitted(spark, dir)
    assert(got.filter(col("pos") < 10).isEmpty)
    assert(got.count() == base.filter(col("pos") >= 10).count())
    // and the string 'file' column survives untouched as data
    val s2 = Layout.deleteWhereDv(spark, dir, col("file") === "f3")
    assert(s2.nRowsDeleted ==
      base.filter(col("pos") >= 10 && col("file") === "f3").count())
  }

  test("CDF and replication cross a RESTORE over DV commits (position-diff legs)") {
    val base = spark.range(20000).select(
      col("id"),
      ((col("id") * 7919L) % 1000).as("x"),
      ((col("id") * 104729L) % 997).as("y"))
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_restcdf").toString
    Layout.writeClustered(base, dir, pmod(col("x"), lit(64L)), nFiles = 8,
      statsCols = Seq("x", "id"))
    val v1 = Layout.latestSnapshot(spark, dir).get.version
    val sliceA = base.filter(col("x") < 100)
    val sDel = Layout.deleteWhereDv(spark, dir, col("x") < 100, Seq(("x", 0L, 99L)))
    // bootstrap a replica AFTER the delete (it holds the post-delete view)
    val repl = java.nio.file.Files.createTempDirectory("graft_dv_restrepl").toString
    Layout.replicateCommitted(spark, dir, repl, "id")
    // restore to the pre-delete version: same file NAMES, refs cleared —
    // the name diff is empty, so only the position-diff legs can carry
    // the resurrection
    val sRest = Layout.restoreVersion(spark, dir, v1)
    val cdf = Layout.tableChangesCdf(spark, dir, sDel.version, sRest.version)
    assert(cdf.filter(col("_change_type") === "delete").isEmpty)
    assert(cdf.filter(col("_change_type") === "insert")
      .select("id").as[Long].collect().sorted.toSeq ==
      sliceA.select("id").as[Long].collect().sorted.toSeq,
      "restore across deletedv must resurrect exactly the deleted rows")
    // the replica follows the rollback through the same legs
    Layout.replicateCommitted(spark, dir, repl, "id")
    assert(Layout.readCommitted(spark, repl).count() == 20000L)
    // and the reverse direction: restoring BACK to the post-delete
    // version re-deletes through the cur-minus-prev leg
    val sBack = Layout.restoreVersion(spark, dir, sDel.version)
    val cdf2 = Layout.tableChangesCdf(spark, dir, sRest.version, sBack.version)
    assert(cdf2.filter(col("_change_type") === "insert").isEmpty)
    assert(cdf2.filter(col("_change_type") === "delete").count() == sliceA.count())
    Layout.replicateCommitted(spark, dir, repl, "id")
    assert(Layout.readCommitted(spark, repl).count() == 20000L - sliceA.count())
  }

  test("minwriter: reading a newer-writer table stays legal, mutating refuses") {
    val (dir, _) = dvTable("graft_dv_wrt")
    val n = Layout.readCommitted(spark, dir).count()
    val mdir = new java.io.File(dir, "_manifests")
    val v99 = new java.io.File(mdir, "v0000000099.txt")
    val cur = mdir.listFiles().filter(_.getName.endsWith(".txt")).maxBy(_.getName)
    val body = scala.io.Source.fromFile(cur, "UTF-8").mkString
    val w = new java.io.PrintWriter(v99, "UTF-8")
    // same content, stamped as requiring a FUTURE writer level
    body.split("\n").foreach { l =>
      w.println(l)
      if (l.startsWith("key=")) w.println("minwriter=99")
    }
    w.close()
    assert(Layout.readCommitted(spark, dir).count() == n,
      "minwriter must not gate reads")
    val ex = intercept[IllegalArgumentException](
      Layout.appendClustered(
        spark.range(5).select(col("id"),
          lit(1L).as("x"), lit(1L).as("y")),
        dir, pmod(col("id"), lit(4L)), nFiles = 1))
    assert(ex.getMessage.contains("writer version 99"))
    intercept[IllegalArgumentException](
      Layout.deleteWhereDv(spark, dir, lit(false)))
    intercept[IllegalArgumentException](
      Layout.addCheckConstraint(spark, dir, "c1", "x >= 0"))
    v99.delete(): Unit
  }

  /** Commits a copy of the latest snapshot of `dir` as v99, stamped as
    * requiring a future writer level; returns the version file.
    */
  private def stampFutureWriter(dir: String): java.io.File = {
    val mdir = new java.io.File(dir, "_manifests")
    val cur = mdir.listFiles().filter(_.getName.endsWith(".txt")).maxBy(_.getName)
    val v99 = new java.io.File(mdir, "v0000000099.txt")
    val w = new java.io.PrintWriter(v99, "UTF-8")
    scala.io.Source.fromFile(cur, "UTF-8").getLines().foreach { l =>
      if (!l.startsWith("minwriter=")) w.println(l)
      if (l.startsWith("key=")) w.println("minwriter=99")
    }
    w.close()
    assert(Layout.latestSnapshot(spark, dir).get.minWriter == 99)
    v99
  }

  test("minwriter: incrementalAggregate refuses to merge into a newer-writer view") {
    val src = java.nio.file.Files.createTempDirectory("graft_agg_wrt_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_agg_wrt_dst").toString + "/v"
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"), (col("id") % 10).as("g"))
    val aggs = Seq(("n", "", "count"))
    Layout.writeClustered(rows(0L, 500L), src, col("id"), nFiles = 2)
    Layout.incrementalAggregate(spark, src, dst, "g", aggs): Unit
    Layout.appendClustered(rows(500L, 600L), src, col("id"), nFiles = 1): Unit
    stampFutureWriter(dst)
    val ex = intercept[IllegalArgumentException](
      Layout.incrementalAggregate(spark, src, dst, "g", aggs))
    assert(ex.getMessage.contains("incrementalAggregate: table requires writer version 99"),
      ex.getMessage)
    assert(Layout.latestSnapshot(spark, dst).get.version == 99L, "the view was committed to")
  }

  test("minwriter: replicateCommitted refuses to mirror constraints into a newer-writer replica") {
    val src = java.nio.file.Files.createTempDirectory("graft_repl_wrt_src").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_repl_wrt_dst").toString + "/r"
    Layout.writeClustered(spark.range(1, 301).select(col("id"), (col("id") % 9).as("x")),
      src, col("id"), nFiles = 2, statsCols = Seq("id"))
    Layout.replicateCommitted(spark, src, dst, "id"): Unit
    // a constraint-only window: the catch-up commits nothing but the mirror
    Layout.addCheckConstraint(spark, src, "x_nonneg", "x >= 0"): Unit
    stampFutureWriter(dst)
    val ex = intercept[IllegalArgumentException](
      Layout.replicateCommitted(spark, src, dst, "id"))
    assert(ex.getMessage.contains("replicateCommitted: table requires writer version 99"),
      ex.getMessage)
    assert(Layout.latestSnapshot(spark, dst).get.version == 99L, "the replica was committed to")
  }

  test("compactFiles refuses a key that differs from the committed table's") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_key").toString
    Layout.writeClustered(spark.range(2000).select(col("id")), dir,
      pmod(col("id"), lit(16L)), nFiles = 4)
    val before = Layout.latestSnapshot(spark, dir).get
    val ex = intercept[IllegalArgumentException](Layout.compactFiles(spark, dir, "id",
      minFileBytes = 1L << 30, targetFileBytes = 1L << 30))
    assert(ex.getMessage.contains("keyed on 'cluster_key', not 'id'"), ex.getMessage)
    val after = Layout.latestSnapshot(spark, dir).get
    assert(after.version == before.version && after.keyName == "cluster_key",
      "a refused compaction committed")
  }

  test("minreader: a snapshot stamped above this reader's level refuses to parse") {
    val (dir, _) = dvTable("graft_dv_rdr")
    val mdir = new java.io.File(dir, "_manifests")
    val v99 = new java.io.File(mdir, "v0000000099.txt")
    val w = new java.io.PrintWriter(v99, "UTF-8")
    w.println("graft-snapshot-v1")
    w.println("key=cluster_key")
    w.println("minreader=99")
    w.println("fake-file.parquet\t1\t1\t0\t0")
    w.close()
    val ex = intercept[IllegalArgumentException](
      Layout.latestSnapshot(spark, dir))
    assert(ex.getMessage.contains("reader version 99"))
    v99.delete()
    assert(Layout.latestSnapshot(spark, dir).get.version >= 1L)
  }

  test("carry rule: every mutating verb keeps the constraints, tombstones, stats and txns") {
    val base = spark.range(4000).select(
      col("id"),
      ((col("id") * 7919L) % 1000).as("x"),
      (col("id") % 13).as("y"),
      (col("id") % 5).as("z"))
    val key = pmod(col("x"), lit(64L))
    val dir = java.nio.file.Files.createTempDirectory("graft_carry").toString
    Layout.writeClustered(base, dir, key, nFiles = 8,
      txn = Some("w" -> 1L), statsCols = Seq("x", "id"))
    Layout.addCheckConstraint(spark, dir, "x_nonneg", "x >= 0"): Unit
    Layout.dropColumn(spark, dir, "z"): Unit
    val setup = Layout.latestSnapshot(spark, dir).get
    // each verb must commit, and its commit must carry all four fields
    // (a full rewrite clears the tombstones by design: every file it
    // lists was just written through the current schema)
    def after(verb: String, dropped: Seq[String] = Seq("z"))(body: => Any): Unit = {
      val before = Layout.latestSnapshot(spark, dir).get.version
      body
      val s = Layout.latestSnapshot(spark, dir).get
      assert(s.version > before, s"$verb committed nothing")
      assert(s.constraints == Seq("x_nonneg" -> "x >= 0"), s"$verb lost the CHECK constraint")
      assert(s.droppedCols == dropped, s"$verb lost the dropped-column tombstone")
      assert(s.statsCols == Seq("x", "id"), s"$verb lost the stats columns")
      assert(s.txns.get("w").contains(1L), s"$verb lost the txn map")
    }
    after("append")(Layout.appendClustered(
      spark.range(4000, 4100).select(col("id"), (col("id") % 1000).as("x"),
        (col("id") % 13).as("y")), dir, key, nFiles = 1))
    after("delete")(Layout.deleteWhere(spark, dir, col("id") < 10L,
      scanRanges = Seq(("id", 0L, 9L))))
    after("deletedv")(Layout.deleteWhereDv(spark, dir, col("id").between(10L, 19L),
      scanRanges = Seq(("id", 10L, 19L))))
    after("update")(Layout.updateWhere(spark, dir, col("id") === 100L,
      Seq("y" -> lit(7L)), scanRanges = Seq(("id", 100L, 100L))))
    after("updatedv")(Layout.updateWhereDv(spark, dir, col("id") === 200L,
      Seq("y" -> lit(8L)), scanRanges = Seq(("id", 200L, 200L))))
    after("purge")(Layout.purgeDeletes(spark, dir))
    after("upsert")(Layout.upsertCommitted(spark, dir,
      Seq((300L, 2L, "upsert", 5L, 1L, 0L))
        .toDF("id", "version", "op", "x", "y", "cluster_key"),
      "id", Seq("x", "y", "cluster_key"), key))
    after("addColumn")(Layout.addColumn(spark, dir, "w",
      org.apache.spark.sql.types.LongType))
    after("restore")(Layout.restoreVersion(spark, dir, setup.version))
    after("compact")(Layout.compactFiles(spark, dir, "cluster_key",
      minFileBytes = 1L << 30, targetFileBytes = 1L << 30))
    after("commitTxn")(Layout.commitTxn(spark, dir, "w2", 5L))
    after("rewrite", dropped = Nil)(Layout.writeClustered(
      Layout.readCommitted(spark, dir).drop("cluster_key"), dir, key, nFiles = 4))
    assert(Layout.readCommitted(spark, dir).count() ==
      Layout.readVersion(spark, dir, setup.version).count())
  }

  test("minwriter is derived at commit: dropping the last constraint stops stamping it") {
    def stamped(dir: String): Boolean = {
      val v = Layout.latestSnapshot(spark, dir).get.version
      val f = new java.io.File(dir, f"_manifests/v$v%010d.txt")
      scala.io.Source.fromFile(f, "UTF-8").getLines().contains("minwriter=2")
    }
    // DV-free: the constraint alone stamps level 2, and its drop clears it
    val dir = java.nio.file.Files.createTempDirectory("graft_minwriter").toString
    Layout.writeClustered(spark.range(100).select(col("id")), dir,
      col("id"), nFiles = 2)
    assert(!stamped(dir))
    Layout.addCheckConstraint(spark, dir, "id_nonneg", "id >= 0"): Unit
    assert(stamped(dir))
    val dropped = Layout.dropCheckConstraint(spark, dir, "id_nonneg")
    assert(dropped.minWriter == 1)
    assert(!stamped(dir), "a table with no level-2 feature left must not demand a level-2 writer")
    assert(Layout.latestSnapshot(spark, dir).get.minWriter == 1)
    // with deletion vectors the level stays 2 after the drop
    val (dvDir, _) = dvTable("graft_minwriter_dv")
    Layout.deleteWhereDv(spark, dvDir, col("id") < 100L): Unit
    Layout.addCheckConstraint(spark, dvDir, "id_nonneg", "id >= 0"): Unit
    Layout.dropCheckConstraint(spark, dvDir, "id_nonneg"): Unit
    assert(stamped(dvDir))
  }
}
