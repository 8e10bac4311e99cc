package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Per-file Bloom-filter sidecars for a committed [[Layout]] table —
  * point-lookup file skipping on columns the cluster key does NOT
  * order. The snapshot's min/max boxes prune range predicates on
  * correlated columns; a high-cardinality column scattered across the
  * layout (an order id in a table z-ordered by part/supplier, a doc id
  * in a table clustered by domain) has a full-range box in every file,
  * so a point lookup reads 100 TB to find seven rows. A ~1 byte/row
  * bloom per file answers "can this file hold this value?" with no
  * false negatives; the lookup reads only the files whose filters fire.
  *
  * Build is ONE keyed aggregate over (file, xxhash64(value)) — a custom
  * [[Aggregator]] OR-merging fixed-size bitsets, partial-combined
  * map-side like any sum. The sidecar (`_blooms/<column>/`) is a
  * parquet table of #files rows × (bits/8) bytes — ~0.1% of the data
  * it indexes, scanned distributed at probe time, never collected —
  * stamped with the snapshot version it indexed in a meta marker
  * written last. A probe against a sidecar
  * whose version is not the table's latest REFUSES loudly — a stale
  * bloom would silently miss rows appended since — naming the rebuild
  * call. Membership tests run as a distributed filter over the sidecar
  * scan (only candidate file NAMES reach the driver); the probe
  * hashes ride the SAME engine expression (xxhash64 over the same
  * type) via a one-row Spark projection, so build and probe can never
  * drift.
  */
object BloomIndex {

  val SidecarDir = "_blooms"

  /** Double hashing (Kirsch–Mitzenmacher): k positions from one 64-bit
    * hash, h2 forced odd so the stride cycles any power-of-two m.
    */
  private[ops] def bitPositions(h: Long, k: Int, mBits: Int): Array[Int] = {
    val h1 = h
    val h2 = (h >>> 32) | 1L
    Array.tabulate(k)(i => (((h1 + i * h2) % mBits + mBits) % mBits).toInt)
  }

  /** Fixed-size bitset OR-aggregator over xxhash64 values. */
  private final class BloomAgg(mBits: Int, k: Int)
      extends Aggregator[Long, Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = new Array[Byte](mBits / 8)
    def reduce(b: Array[Byte], h: Long): Array[Byte] = {
      bitPositions(h, k, mBits).foreach { p =>
        b(p >>> 3) = (b(p >>> 3) | (1 << (p & 7))).toByte
      }
      b
    }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
      a
    }
    def finish(b: Array[Byte]): Array[Byte] = b
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  private def sidecarPath(path: String, column: String) =
    s"$path/$SidecarDir/$column"

  private def metaPath(path: String, column: String) =
    s"${sidecarPath(path, column)}/_bloom_meta.txt"

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** What [[writeBloomSidecar]] built. `rowsCapacity` is the per-file
    * row count the bitset was sized for (0 on metas written before the
    * field existed — [[extendBloomSidecar]] then skips its guard).
    */
  final case class BloomMeta(version: Long, column: String, mBits: Int, k: Int,
      rowsCapacity: Long = 0L)

  private def writeMeta(spark: SparkSession, path: String, m: BloomMeta): Unit = {
    val fs = fsOf(spark, path)
    val p = new org.apache.hadoop.fs.Path(metaPath(path, m.column))
    val tmp = new org.apache.hadoop.fs.Path(
      p.getParent, s".tmp-meta-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, false)
    try out.write(
      (s"graft-bloom-v1\nversion=${m.version}\ncolumn=${m.column}\n" +
        s"mBits=${m.mBits}\nk=${m.k}\ncapacity=${m.rowsCapacity}\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"bloom meta publish $tmp -> $p failed")
  }

  private def readMeta(spark: SparkSession, path: String, column: String): BloomMeta = {
    val fs = fsOf(spark, path)
    val p = new org.apache.hadoop.fs.Path(metaPath(path, column))
    require(fs.exists(p),
      s"no bloom sidecar for '$column' under $path — build one with " +
      "BloomIndex.writeBloomSidecar")
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = txt.split("\n")
    require(lines.headOption.contains("graft-bloom-v1"),
      s"unrecognized bloom meta format in $p")
    val kv = lines.drop(1).filter(_.contains('='))
      .map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }
      .toMap
    BloomMeta(kv("version").toLong, kv("column"), kv("mBits").toInt, kv("k").toInt,
      kv.get("capacity").map(_.toLong).getOrElse(0L))
  }

  /** Build the per-file bloom sidecar for `column` over the CURRENT
    * committed snapshot: one distributed keyed aggregate (file →
    * bitset), one small parquet write, meta marker last. Bitset size is
    * sized off the snapshot's largest file (`bitsPerKey` bits per row,
    * rounded up to a multiple of 64) so every file shares one m and the
    * driver-side probe stays branch-free. Returns the meta it stamped.
    */
  def writeBloomSidecar(spark: SparkSession, path: String, column: String,
      bitsPerKey: Int = 10, k: Int = 7): BloomMeta = {
    require(bitsPerKey >= 1 && k >= 1)
    val snap = Layout.head(spark, path, "writeBloomSidecar")
    val maxRows = snap.files.map(_.rows).max
    val mBits = math.max(64L, ((maxRows * bitsPerKey + 63L) / 64L) * 64L)
    require(mBits <= Int.MaxValue.toLong, s"bloom bitset of $mBits bits per " +
      "file is absurd — compact the table into more, smaller files first")
    val src = Layout.readFiles(spark, path, snap, snap.files.map(_.name))
    require(src.columns.contains(column),
      s"writeBloomSidecar: table at $path has no column '$column'")
    // ~8k bitsets per sidecar shard: one file at gate scale, still
    // sane shards when the table has a million files
    bloomRows(src, column, mBits.toInt, k)
      .repartition(math.max(1, snap.files.size / 8192))
      .write.mode("overwrite").parquet(s"${sidecarPath(path, column)}/data")
    val meta = BloomMeta(snap.version, column, mBits.toInt, k, maxRows)
    writeMeta(spark, path, meta)
    meta
  }

  /** One (file, bitset) row per input file — the shared build kernel. */
  private def bloomRows(src: DataFrame, column: String, mBits: Int, k: Int)
      : DataFrame = {
    val agg = udaf(new BloomAgg(mBits, k))
    src.select(input_file_name().as("__file"), xxhash64(col(column)).as("__h"))
      .groupBy(col("__file")).agg(agg(col("__h")).as("bits"))
      .select(
        // store the snapshot-relative name, like the snapshot itself
        element_at(split(col("__file"), "/"), -1).as("file"),
        col("bits"))
  }

  /** Maintain the sidecar across commits WITHOUT a rebuild: bloom-hash
    * only the current snapshot's files that carry no sidecar row yet
    * (an append's new files, a compaction's or update's rewritten
    * generation), APPEND those rows to the sidecar table, and bump the
    * meta version — the same delta discipline the MinHash and IVF
    * persisted indexes follow, cost ∝ the new files, never the table.
    * Rows for files that left the snapshot stay behind harmlessly (the
    * probe intersects candidates with the snapshot's own file list)
    * until the next full rebuild sweeps them.
    *
    * The bitset geometry (m, k) is FIXED at build time, so a new file
    * far bigger than the filter was sized for would run at a degraded
    * false-positive rate (never a false negative) — files beyond 4x the
    * recorded capacity are refused with the rebuild remedy. Crash-safe:
    * a rerun after a crash between the data append and the meta bump
    * finds the rows already present, appends nothing new for them, and
    * re-stamps the meta; duplicate rows from a torn write are identical
    * bits and the probe dedups candidate names.
    */
  def extendBloomSidecar(spark: SparkSession, path: String, column: String)
      : BloomMeta = {
    val snap = Layout.head(spark, path, "extendBloomSidecar")
    val meta = readMeta(spark, path, column)
    if (meta.version == snap.version) return meta // already current
    require(meta.version < snap.version,
      s"extendBloomSidecar: sidecar for '$column' under $path indexes " +
      s"v${meta.version}, AHEAD of the table's v${snap.version} — the table " +
      "was restored or the sidecar belongs to another table; rebuild with " +
      "BloomIndex.writeBloomSidecar")
    import spark.implicits._
    val dataPath = s"${sidecarPath(path, column)}/data"
    val covered = spark.read.parquet(dataPath)
      .select(col("file")).as[String].collect().toSet
    val fresh = snap.files.filterNot(f => covered.contains(f.name))
    if (fresh.nonEmpty) {
      if (meta.rowsCapacity > 0L) {
        val biggest = fresh.map(_.rows).max
        require(biggest <= 4L * meta.rowsCapacity,
          s"extendBloomSidecar: a new file carries $biggest rows but the " +
          s"bitset was sized for ${meta.rowsCapacity} — the false-positive " +
          "rate would degrade past useful; rebuild with writeBloomSidecar")
      }
      val src = Layout.readFiles(spark, path, snap, fresh.map(_.name))
      bloomRows(src, column, meta.mBits, meta.k)
        .repartition(math.max(1, fresh.size / 8192))
        .write.mode("append").parquet(dataPath)
    }
    val next = meta.copy(version = snap.version)
    writeMeta(spark, path, next)
    next
  }

  /** Point-lookup read through the sidecar: returns (candidate files,
    * total files, DataFrame over just the candidates). No false
    * negatives — every file containing any of `values` is a candidate;
    * bloom false positives are re-filtered by the caller's own
    * predicate (the returned frame is the files' full content, exactly
    * like [[Layout.prunedCommittedRead]]). The membership tests run as
    * a DISTRIBUTED filter over the sidecar scan — at 100 TB the sidecar
    * is #files × m/8 bytes, far too big to collect — and only the
    * CANDIDATE file names (bounded by the lookup's true reach plus the
    * fp rate) reach the driver as planning state. Refuses a sidecar
    * older than the table's latest snapshot — a stale bloom would
    * silently miss appended rows.
    */
  def bloomPrunedRead(spark: SparkSession, path: String, column: String,
      values: Seq[Any]): (Int, Int, DataFrame) = {
    require(values.nonEmpty, "bloomPrunedRead: empty probe set")
    val snap = Layout.head(spark, path, "bloomPrunedRead")
    val meta = readMeta(spark, path, column)
    require(meta.version == snap.version,
      s"bloom sidecar for '$column' under $path indexes snapshot " +
      s"v${meta.version} but the table is at v${snap.version} — rebuild with " +
      "BloomIndex.writeBloomSidecar")
    // probe hashes through the SAME engine expression and column type.
    // The type comes from the snapshot's RECORDED schema when it has one
    // — on an addColumn-evolved table the head file may predate the
    // evolution and physically lack the column, while the build side
    // hashed through the recorded schema (NULL-served); only
    // pre-schema-era snapshots fall back to a physical footer.
    val dt = snap.schema match {
      case Some(st) =>
        require(st.fieldNames.contains(column),
          s"bloomPrunedRead: table at $path has no column '$column' " +
          s"(schema: ${st.fieldNames.mkString(",")})")
        st(column).dataType
      case None =>
        spark.read.parquet(s"$path/${snap.files.head.name}")
          .schema(column).dataType
    }
    import spark.implicits._
    val hashRow = spark.range(1)
      .select(values.zipWithIndex.map { case (v, i) =>
        xxhash64(lit(v).cast(dt)).as(s"h$i")
      }: _*).head()
    val hashes = values.indices.map(hashRow.getLong)
    val (k, m) = (meta.k, meta.mBits)
    val hit = udf { bits: Array[Byte] =>
      hashes.exists { h =>
        bitPositions(h, k, m).forall { p =>
          (bits(p >>> 3) & (1 << (p & 7))) != 0
        }
      }
    }
    val candidates = spark.read.parquet(s"${sidecarPath(path, column)}/data")
      .filter(hit(col("bits")))
      .select(col("file")).as[String].collect().toSet
    val names = snap.files.map(_.name).filter(candidates.contains)
    val df =
      if (names.isEmpty)
        Layout.readSnapshot(spark, path, snap).filter(lit(false))
      else Layout.readFiles(spark, path, snap, names)
    (names.size, snap.files.size, df)
  }
}
