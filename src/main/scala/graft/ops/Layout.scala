package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout via space-filling curves — the file- and
  * row-group-skipping lever that single-column sorting cannot provide.
  *
  * A 100 TB corpus is usually range-filtered on MORE than one column
  * (time AND tenant, partkey AND suppkey, x AND y). Sorting by one column
  * gives that column tight per-file min/max stats and leaves the other
  * uniformly smeared across every file, so a conjunctive box predicate
  * still touches everything. Interleaving the dimensions into a single
  * clustering key (Z-order/Morton, or the strictly-more-local Hilbert
  * curve) makes every file a small hyper-rectangle: min/max footer stats
  * on the ORIGINAL columns become tight simultaneously, and parquet
  * row-group pruning (plus range-partition file pruning) skips everything
  * outside the query box. This is the same design Delta's OPTIMIZE
  * ZORDER BY and Iceberg's sort-order transforms ship; here it is plain
  * Spark: a pure-builtin key expression + repartitionByRange + parquet.
  *
  * Everything below is integer-exact builtin arithmetic — no UDF, no
  * nondeterminism, oracle-checkable in any engine with shifts.
  */
/** One data file as recorded in a committed table snapshot: relative
  * name, size, row count, and the min/max box of the integral cluster
  * key — exactly the [[Layout.fileManifest]] schema, persisted.
  * `stats` optionally carries per-ORIGINAL-column min/max boxes for the
  * integral columns named in the snapshot's `statsCols` header, so a
  * committed read can prune on the query's own predicate columns
  * without restating the cluster key (the Iceberg/Delta column-stats
  * discipline; the Z-order key makes these boxes TIGHT simultaneously).
  */
final case class SnapshotFile(
    name: String, bytes: Long, rows: Long, minKey: Long, maxKey: Long,
    stats: Map[String, (Long, Long)] = Map.empty,
    dv: Option[DvRef] = None) {
  /** Rows a reader actually serves: physical rows minus the deletion
    * vector's positions. `rows` stays the PHYSICAL count (what a scan
    * of the file yields before DV application) — the invariant every
    * rewrite verification in this file counts against.
    */
  def liveRows: Long = rows - dv.map(_.nDeleted).getOrElse(0L)
}

/** A deletion vector reference: `name` is a positions parquet under the
  * table directory (columns `file: string, pos: bigint` — parquet row
  * indexes within the named data file), `nDeleted` the number of this
  * data file's positions it holds. One physical DV parquet may serve
  * many data files (each file's rows are hash-co-located, so a file's
  * positions live in exactly one DV parquet); a data file carries at
  * most ONE DvRef — a later merge-on-read delete folds old + new
  * positions into a fresh DV parquet and repoints the ref, so readers
  * never union DV generations.
  */
final case class DvRef(name: String, nDeleted: Long)

/** A committed table version: the authoritative file list readers plan
  * from. Files on disk but not listed here are invisible (in-flight
  * rewrites, stray temporaries); files listed here define the table.
  *
  * `schemaHash` fingerprints the table schema (ordered names + types) so
  * appends with a drifted schema are refused at COMMIT time instead of
  * poisoning committed reads with a merge error later; None on snapshots
  * written before the fingerprint existed (the check is then skipped and
  * the next commit records one). `txns` is the cumulative map of
  * (writer id -> highest committed batch id) — the Delta `txn` action —
  * carried forward by every commit so a streaming sink's foreachBatch
  * replay is a provable no-op even across process restarts.
  *
  * `schema` is the FULL recorded table schema (not just the hash) — what
  * makes ADD COLUMN ([[Layout.addColumn]]) possible: committed reads
  * apply it to the scan, so files written before the evolution serve
  * NULL for the new column instead of failing the merge. None on
  * snapshots from before schema recording; such tables read bare (all
  * files share one physical schema) until their next commit records it.
  *
  * `minWriter` is derived at commit, never carried: [[next]] resets it
  * and [[Layout.commitSnapshot]] stamps the level the snapshot's own
  * features need (2 for deletion vectors or CHECK constraints, else
  * nothing). A carried value could only be at most
  * [[Layout.WriterVersion]] after the writable check, so carrying it
  * would only keep a level whose feature is gone: a table whose last
  * constraint was dropped reads as level 1 again.
  */
final case class TableSnapshot(
    version: Long, keyName: String, files: Seq[SnapshotFile],
    schemaHash: Option[String] = None, txns: Map[String, Long] = Map.empty,
    op: String = "unknown", statsCols: Seq[String] = Nil,
    schema: Option[org.apache.spark.sql.types.StructType] = None,
    droppedCols: Seq[String] = Nil,
    constraints: Seq[(String, String)] = Nil,
    minWriter: Int = 1) {
  def totalRows: Long = files.map(_.rows).sum
  /** Rows a committed read serves — physical rows minus every file's
    * deletion-vector positions; equals [[totalRows]] on DV-free tables.
    */
  def totalLiveRows: Long = files.map(_.liveRows).sum
  /** True when any listed file carries a deletion vector — readers must
    * be merge-on-read aware ([[Layout.ReaderVersion]] >= 2) and
    * manifest-only min/max answers become unsound (a deleted row may
    * have held the extreme).
    */
  def hasDeletionVectors: Boolean = files.exists(_.dv.isDefined)
  /** Each listed file's deletion-vector ref, by file name. */
  def dvRefs: Map[String, Option[DvRef]] = files.iterator.map(f => f.name -> f.dv).toMap
  /** File `f`'s [min, max] box on column `c`: the key box for the
    * cluster key, else the recorded stats.
    */
  def box(f: SnapshotFile, c: String): (Long, Long) =
    if (c == keyName) (f.minKey, f.maxKey) else f.stats(c)

  /** The commit after this one: the next version, listing `files` under `op`,
    * with every field the caller does not name carried unchanged. Every
    * commit of an existing table is built here, so a new verb cannot
    * forget a CHECK constraint, a tombstone or a txn mark.
    */
  def next(files: Seq[SnapshotFile], op: String,
      keyName: String = this.keyName,
      schemaHash: Option[String] = this.schemaHash,
      txns: Map[String, Long] = this.txns,
      statsCols: Seq[String] = this.statsCols,
      schema: Option[org.apache.spark.sql.types.StructType] = this.schema,
      droppedCols: Seq[String] = this.droppedCols,
      constraints: Seq[(String, String)] = this.constraints): TableSnapshot =
    TableSnapshot(version + 1, keyName, files, schemaHash, txns, op,
      statsCols, schema, droppedCols, constraints)
}

object Layout {

  /** Z-order (Morton) key: bitwise interleave of `cols.size` non-negative
    * integer columns, `bits` low bits each, dimension j contributing bit i
    * to output position `i*d + j`. Pure shift/mask builtins — the whole
    * key rides WholeStageCodegen inside the scan's project.
    *
    * Callers must pre-scale each dimension into [0, 2^bits) —
    * [[gridCell]] for doubles with known bounds, `pmod` for integer ids.
    */
  def zorderKey(cols: Seq[Column], bits: Int): Column = {
    val d = cols.size
    require(d >= 1 && bits >= 1 && d * bits <= 62,
      s"zorderKey: need 1 <= dims*bits <= 62, got $d*$bits")
    val terms = for {
      (c, j) <- cols.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(shiftright(c.cast("long"), i).bitwiseAND(lit(1L)), i * d + j)
    terms.reduce(_ bitwiseOR _)
  }

  /** Min-max scale a numeric column onto the `2^bits`-cell grid:
    * floor((c - lo) / (hi - lo) * 2^bits), clamped into [0, 2^bits).
    * Out-of-bound values saturate at the edge cells (they stay queryable,
    * just cluster at the border), so a stale lo/hi estimate degrades
    * locality — never correctness.
    */
  def gridCell(c: Column, lo: Double, hi: Double, bits: Int): Column = {
    require(hi > lo && bits >= 1 && bits <= 31)
    val n = (1L << bits).toDouble
    least(
      greatest(floor((c.cast("double") - lit(lo)) / lit(hi - lo) * lit(n))
        .cast("long"), lit(0L)),
      lit((1L << bits) - 1L))
  }

  /** Hilbert-curve key for a 2^bits x 2^bits grid (2 dims): the classic
    * top-down xy->d bit transform, run as ONE `aggregate` fold over bit
    * positions carrying struct(d, x, y) state. Hilbert keeps every pair
    * of consecutive cells Manhattan-adjacent (Z-order jumps at quadrant
    * seams), so range boxes split into fewer, longer key runs — fewer
    * row-groups touched for the same box.
    *
    * Builtins only: the variable shift inside the lambda is expressed as
    * division by 2^i (exact in doubles for bits <= 30), the `(3*rx) XOR
    * ry` quadrant rank as the arithmetic identity `rx*(3-ry) + (1-rx)*ry`
    * — the same spelling the DuckDB oracle twin uses. Integer-exact and
    * order-free: one row's key never sees another row, so the output is
    * bit-stable under any partitioning.
    */
  def hilbertKey(xCol: Column, yCol: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 30, s"hilbertKey: need 1 <= bits <= 30, got $bits")
    val init = struct(
      lit(0L).as("d"), xCol.cast("long").as("x"), yCol.cast("long").as("y"))
    val folded = aggregate(
      sequence(lit(bits - 1), lit(0), lit(-1)),
      init,
      (acc, i) => {
        val s  = pow(lit(2.0), i.cast("double")).cast("long")
        val sd = s.cast("double")
        val x  = acc.getField("x")
        val y  = acc.getField("y")
        val rx = floor(x.cast("double") / sd).cast("long") % 2
        val ry = floor(y.cast("double") / sd).cast("long") % 2
        val quad = rx * (lit(3L) - ry) + (lit(1L) - rx) * ry // == (3*rx) XOR ry
        val newD = acc.getField("d") + s * s * quad
        // later steps only read bits below i, so reduce the state mod s
        // BEFORE rotating — this keeps it in [0, s) (the raw `s-1-x`
        // reflection would go negative exactly when bit i is set, and
        // unlike the two's-complement `&` spelling, the division-based
        // bit extraction above has no sign to hide behind)
        val xm = pmod(x, s)
        val ym = pmod(y, s)
        // rotation: if ry==0 { if rx==1 reflect both; then swap x<->y }
        val newX = when(ry === 0L, when(rx === 1L, s - 1L - ym).otherwise(ym))
          .otherwise(xm)
        val newY = when(ry === 0L, when(rx === 1L, s - 1L - xm).otherwise(xm))
          .otherwise(ym)
        struct(newD.as("d"), newX.as("x"), newY.as("y"))
      })
    folded.getField("d")
  }

  /** Per-file min/max statistics over `cols` — the manifest a table
    * format (Iceberg/Delta) persists to plan scans without touching
    * data files. One aggregate keyed by `input_file_name()`: state is
    * nFiles × |cols| scalars regardless of row count.
    */
  def fileManifest(reread: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty)
    val aggs = cols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))
    } :+ count(lit(1)).as("n_rows")
    reread.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Manifest-driven pruned read: keep only files whose [min,max] box
    * intersects every requested [lo,hi] range, then scan just those.
    * The manifest filter is per-file interval logic (a file survives iff
    * max_c >= lo AND min_c <= hi for every range); the residual row
    * filter still applies because file stats are necessarily coarse.
    * The collected object is the pruned FILE-PATH LIST — bounded by the
    * shard count, never by rows — which is exactly what any scan
    * planner must materialize to construct splits. Returns (paths kept,
    * total paths, the pruned-and-filtered DataFrame).
    */
  def prunedRead(reread: DataFrame, ranges: Seq[(String, Double, Double)])
      : (Seq[String], Long, DataFrame) = {
    val spark = reread.sparkSession
    val manifest = fileManifest(reread, ranges.map(_._1))
    val total = manifest.count()
    val survivors = ranges.foldLeft(manifest) { case (m, (c, lo, hi)) =>
      m.filter(col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi))
    }
    val paths = survivors.select(col("file")).collect().map(_.getString(0)).toSeq
    val residual = ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    val df =
      if (paths.isEmpty) reread.filter(lit(false))
      else spark.read.schema(reread.schema).parquet(paths: _*).filter(residual)
    (paths, total, df)
  }

  /** What [[compactFiles]] did: shard counts and the rewritten-row
    * parity needed to assert the commit was lossless.
    */
  final case class CompactionStats(
      nFilesBefore: Long,
      nSmallRewritten: Long,
      nFilesAfter: Long,
      nRowsRewritten: Long,
      nRowsAfterRewrite: Long) {
    def filesReduced: Boolean = nFilesAfter < nFilesBefore
    def rowsPreserved: Boolean = nRowsRewritten == nRowsAfterRewrite
  }

  /** Manifest-aware small-file compaction — the maintenance op an
    * incremental ingest needs after a few hundred micro-batches (Delta
    * OPTIMIZE / Iceberg rewrite_data_files, over plain parquet): select
    * the part files under `minFileBytes` (optionally only those whose
    * cluster-key box intersects `keyRange` — a manifest probe over just
    * the candidates, so maintenance can be scoped to the hot key range
    * without touching cold files), rewrite them into ~`targetFileBytes`
    * outputs RANGE-PARTITIONED AND SORTED on the cluster key (so the
    * rewritten files keep disjoint key boxes and the manifest stays as
    * prunable as the original clustered write), and commit by moving
    * the rewritten files in; on a committed table the originals are
    * then only logically deleted (see below), on a raw directory they
    * are dropped immediately.
    *
    * Scale shape: the listing is bounded by shard count; only the
    * small files are ever read or shuffled (one repartitionByRange of
    * the candidate set — cold large files are untouched); the commit is
    * rename+delete, no data copy.
    *
    * Atomicity: with `commit` (the default) the rewrite ends by
    * committing snapshot N+1 — untouched files plus the rewritten
    * outputs — BEFORE the originals are deleted. Readers planning
    * through the manifest log ([[readCommitted]]) therefore never see
    * the move-in/delete window: before the commit they plan snapshot N
    * (originals only, moved-in files invisible), after it snapshot N+1
    * (rewrites only). Only a raw directory lister can observe
    * duplicates — which is exactly the reader the log deprecates.
    * Untouched files' stats are carried forward from snapshot N, never
    * recomputed; only the rewritten outputs are scanned for their
    * entries. Returns the stats needed to assert the rewrite was
    * lossless.
    */
  def compactFiles(
      spark: SparkSession,
      path: String,
      keyName: String,
      minFileBytes: Long,
      targetFileBytes: Long,
      keyRange: Option[(Long, Long)] = None,
      commit: Boolean = true): CompactionStats = {
    require(minFileBytes > 0 && targetFileBytes > 0)
    val dirPath = new org.apache.hadoop.fs.Path(path)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles() = fs.listStatus(dirPath)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
    // on a COMMITTED table, plan the compaction from the snapshot's file
    // list, never the raw directory — a directory listing would resurrect
    // uncommitted orphans (a failed append's moved-in files) into the
    // next snapshot. Raw directories (no log) keep the listing behavior.
    val committed = latestSnapshot(spark, path)
    committed.foreach { snap =>
      require(snap.keyName == keyName,
        s"compactFiles: the committed table at $path is keyed on " +
        s"'${snap.keyName}', not '$keyName' — compacting under another key " +
        "would re-key the table at commit")
      assertWritable(snap, "compactFiles")
    }
    // an UNCOMMITTED compaction of a committed table would physically
    // replace files the latest snapshot still references (breaking every
    // committed reader) or leave a moved-in generation as orphans for no
    // benefit — refuse it outright rather than pick a silent poison
    require(commit || committed.isEmpty,
      s"compactFiles(commit = false) on the committed table at $path would " +
      "desynchronize the snapshot log from the directory; compact committed " +
      "tables with commit = true (the originals stay until vacuum)")
    val before = committed match {
      case Some(snap) =>
        val names = snap.files.map(_.name).toSet
        dataFiles().filter(st => names.contains(st.getPath.getName))
      case None => dataFiles()
    }
    val small0 = before.filter(_.getLen < minFileBytes)
    val candidates = keyRange match {
      case None => small0
      case Some((lo, hi)) if small0.nonEmpty =>
        // manifest probe over the candidates only: a file is in scope
        // iff its key box intersects [lo, hi]
        val inScope = fileManifest(
          spark.read.parquet(small0.map(_.getPath.toString).toIndexedSeq: _*),
          Seq(keyName))
          .filter(col(s"max_$keyName") >= lit(lo) && col(s"min_$keyName") <= lit(hi))
          .select(col("file")).collect()
          .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName).toSet
        small0.filter(st => inScope.contains(st.getPath.getName))
      case _ => small0
    }
    if (candidates.length < 2)
      return CompactionStats(before.length, 0, before.length, 0, 0)
    val smallPaths = candidates.map(_.getPath.toString).toIndexedSeq
    // an evolved table's smalls can span schema generations — read them
    // through the recorded schema so older files serve NULL columns.
    // Committed candidates go through readFiles: compaction is the
    // deletion-vector MATERIALIZATION path (the rewritten generation
    // carries none), and a raw read would resurrect deleted rows.
    val smalls = committed match {
      case Some(snap) =>
        readFiles(spark, path, snap, candidates.map(_.getPath.getName).toIndexedSeq)
      case None => spark.read.parquet(smallPaths: _*)
    }
    val nRows = smalls.count()
    val totalBytes = candidates.map(_.getLen).sum
    val nOut = math.max(1L,
      (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    // commit: move the rewritten files in under fresh names, verify the
    // rewrite row count, then drop the originals
    val movedNames = stageAndMoveIn(smalls, path, "compact", keyName, nOut)
    // one column-pruned scan of the rewritten files doubles as the
    // row-count verification AND the snapshot entries for the commit
    // (recomputed with the table's recorded stats columns, so the
    // rewritten generation stays as prunable as the original)
    val movedEntries = snapshotEntries(spark, path, keyName,
      movedNames, committed.map(_.statsCols).getOrElse(Nil))
    val nRowsAfter = movedEntries.map(_.rows).sum
    if (nRowsAfter != nRows) {
      // refuse to delete sources on a lossy rewrite — fail loudly with
      // both generations on disk (recoverable), never silently drop rows
      throw new IllegalStateException(
        s"compactFiles: rewrite row count $nRowsAfter != source $nRows; " +
        s"sources left in place, rewrite moved in as ${movedNames.mkString(", ")}")
    }
    if (commit) {
      val candidateNames = candidates.map(_.getPath.getName).toSet
      val untouched = before.map(_.getPath.getName)
        .filterNot(candidateNames.contains).toIndexedSeq
      val prev = latestSnapshot(spark, path)
      val carried = prev match {
        case Some(snap) if snap.keyName == keyName =>
          val byName = snap.files.map(f => f.name -> f).toMap
          val (known, fresh) = untouched.partition(byName.contains)
          known.map(byName) ++
            snapshotEntries(spark, path, keyName, fresh, snap.statsCols)
        case _ => snapshotEntries(spark, path, keyName, untouched)
      }
      // schema fingerprint, txn map and stats columns survive a
      // compaction unchanged — it permutes bytes, never the schema, the
      // ingest high-water marks, or the pruning contract
      val files = carried ++ movedEntries
      commitSnapshot(spark, path, prev.fold(
        TableSnapshot(1L, keyName, files, op = "compact"))(
        _.next(files, "compact", keyName = keyName)))
    }
    // physical deletion: on a COMMITTED table the compacted originals
    // are only LOGICALLY deleted (absent from snapshot N+1) — they stay
    // on disk for readers still planning older snapshots, and [[vacuum]]
    // removes them once the retention horizon passes. That is what makes
    // [[readVersion]] time travel sound across compactions. Raw
    // directories (no log) have no old-snapshot readers to protect, so
    // the originals are dropped immediately as before.
    if (committed.isEmpty)
      candidates.foreach(st => fs.delete(st.getPath, false))
    val nAfter =
      if (committed.isDefined) before.length - candidates.length + movedNames.length
      else dataFiles().length
    CompactionStats(before.length, candidates.length, nAfter.toLong,
      nRows, nRowsAfter)
  }

  private def suffixOf(name: String): String = {
    val i = name.indexOf('.')
    if (i < 0) "" else name.substring(i)
  }

  // ---- versioned manifest-commit log ------------------------------------
  //
  // The Delta/Iceberg-pattern minimum over raw parquet: every mutation
  // (clustered write, compaction, upsert materialization) ends by writing
  // a NEW snapshot file — the full data-file list with per-file key boxes
  // — into `_manifests/` via write-temp + rename, and readers plan
  // STRICTLY from the latest committed snapshot. In-flight rewrites
  // (files moved in but not yet committed) are invisible, so the
  // compaction duplicate window that a raw directory lister sees cannot
  // be observed through the log. Rename is the atomicity primitive
  // (atomic on HDFS and POSIX); committing an already-taken version
  // fails loudly — the single-writer discipline every manifest-log
  // format requires without a lock service.
  //
  // Scale shape: a snapshot is ONE small file (bytes per data file, not
  // per row); planning a read costs one manifest fetch, never a
  // directory walk or a data scan. Old snapshots are retained for
  // in-flight readers — a vacuum with a retention horizon (the standard
  // table-format answer) is the deployment's job.

  private val ManifestDir = "_manifests"
  private val SnapshotMagic = "graft-snapshot-v1"

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private def snapshotName(version: Long): String = f"v$version%010d.txt"

  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".txt"))
      scala.util.Try(name.stripPrefix("v").stripSuffix(".txt").toLong).toOption
    else None

  /** Schema fingerprint recorded in snapshots and checked by appends:
    * ordered field names + Catalyst types, hashed. Nullability is
    * deliberately EXCLUDED — a parquet round trip legally flips it, and
    * refusing a logically-identical batch over that would be noise; a
    * renamed, retyped, added, or dropped column all change the hash.
    */
  def schemaHashOf(schema: org.apache.spark.sql.types.StructType): String = {
    val canon = schema.fields
      .map(f => s"${f.name}:${f.dataType.catalogString}").mkString(";")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(canon.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(12).map(b => f"$b%02x").mkString
  }

  /** Highest snapshot-format feature level this reader understands.
    * Version 2 added deletion vectors (merge-on-read deletes): a v2
    * snapshot's file entries may carry a DV reference, and a reader
    * that ignored it would RESURRECT deleted rows — so any snapshot
    * using the feature stamps `minreader=2` and pre-v2 parsers that
    * learned the header refuse instead of answering wrongly. (Parsers
    * from before the header existed skip it — the same bootstrap gap
    * Delta's protocol-version action has; the guard protects every
    * reader from here on.)
    */
  val ReaderVersion: Int = 2

  /** Highest snapshot-format feature level this WRITER understands.
    * Version 2 covers deletion vectors (a DV-unaware compactor would
    * resurrect deleted rows into its rewrite) and CHECK constraints (a
    * constraint-unaware writer would append without verifying — worse
    * than refusing, per Delta's minWriterVersion rationale). Snapshots
    * using either feature stamp `minwriter=2`; reading such a table
    * stays legal for any reader that passes the `minreader` gate, but
    * every MUTATING verb calls [[assertWritable]] first and refuses a
    * table stamped above this level.
    */
  val WriterVersion: Int = 2

  /** Refuse to mutate a table whose snapshot demands a newer writer —
    * the guard every content- or metadata-changing verb runs before
    * touching anything.
    */
  private def assertWritable(snap: TableSnapshot, who: String): Unit =
    require(snap.minWriter <= WriterVersion,
      s"$who: table requires writer version ${snap.minWriter}, this " +
      s"writer is $WriterVersion — mutating it could silently void a " +
      "feature this build does not understand (refusing is the " +
      "minWriterVersion contract)")

  /** Commit `snap` (see [[commitSnapshot]]) and return it. */
  private def commitNext(spark: SparkSession, path: String,
      snap: TableSnapshot): TableSnapshot = {
    commitSnapshot(spark, path, snap)
    snap
  }

  /** The latest snapshot of the committed table at `path`, or a named
    * error: where every verb on an existing table starts.
    */
  private[ops] def head(spark: SparkSession, path: String, who: String): TableSnapshot =
    latestSnapshot(spark, path).getOrElse(throw new IllegalStateException(
      s"$who: no committed table under $path"))

  /** [[head]] of a table `who` is about to mutate, past the writer gate. */
  private def writableHead(spark: SparkSession, path: String, who: String): TableSnapshot = {
    val snap = head(spark, path, who)
    assertWritable(snap, who)
    snap
  }

  /** The files of `snap` whose stats boxes meet every [lo, hi] range (on
    * the cluster key or a recorded stats column), and the rest: the
    * pruning every stats-planned read and mutation plans from. No range
    * keeps every file.
    */
  private def affected(snap: TableSnapshot, ranges: Seq[(String, Long, Long)],
      who: String): (Seq[SnapshotFile], Seq[SnapshotFile]) = {
    ranges.foreach { case (c, _, _) =>
      require(c == snap.keyName || snap.statsCols.contains(c),
        s"$who: snapshot v${snap.version} carries no stats " +
        s"for '$c' (recorded: key=${snap.keyName}, " +
        s"stats=${snap.statsCols.mkString(",")})")
    }
    snap.files.partition(f => ranges.forall { case (c, lo, hi) =>
      val (mn, mx) = snap.box(f, c)
      mx >= lo && mn <= hi
    })
  }

  /** The files of `snap` whose `c` box holds a value of the long column
    * `ids` of `probe`, and the rest: one broadcast interval join of the
    * probe against the file list, never a table scan. A probe that hits
    * no box (a pure-insert batch) anchors on the smallest file, so its
    * rows still enter through the caller's rewrite.
    */
  private def probed(snap: TableSnapshot, c: String, probe: DataFrame,
      ids: Column): (Seq[SnapshotFile], Seq[SnapshotFile]) = {
    val spark = probe.sparkSession
    import spark.implicits._
    val boxes = snap.files.map { f =>
      val (mn, mx) = snap.box(f, c)
      (f.name, mn, mx)
    }.toDF("__name", "__mn", "__mx")
    val hit = probe.select(ids.as("__id"))
      .join(broadcast(boxes), col("__id") >= col("__mn") && col("__id") <= col("__mx"))
      .select(col("__name")).distinct().as[String].collect().toSet
    val anchor =
      if (snap.files.exists(f => hit.contains(f.name))) hit
      else snap.files.sortBy(_.rows).take(1).map(_.name).toSet
    snap.files.partition(f => anchor.contains(f.name))
  }

  /** Parse one snapshot file body. Header lines (`key=`, `schema=`,
    * repeatable `txn=writer:batchId`) precede the tab-separated file
    * entries; unknown `name=value` headers are skipped so the format can
    * grow without breaking old readers (file entries always contain a
    * tab, header lines never do) — EXCEPT `minreader=N`, which is the
    * forward-compatibility stop: it names the feature level the
    * snapshot requires, and a parser below it must refuse rather than
    * misread.
    */
  private def parseSnapshot(version: Long, txt: String, where: String): TableSnapshot = {
    val lines = txt.split("\n").filter(_.nonEmpty)
    require(lines.nonEmpty && lines(0) == SnapshotMagic,
      s"unrecognized snapshot format in $where")
    val (headers, fileLines) = lines.drop(1).partition(l => !l.contains('\t'))
    var key: String = null
    var schemaHash: Option[String] = None
    var schemaJson: Option[org.apache.spark.sql.types.StructType] = None
    var op: String = "unknown"
    var statsCols: Seq[String] = Nil
    var dropped: Seq[String] = Nil
    var minWriter: Int = 1
    val constraints = Seq.newBuilder[(String, String)]
    val txns = Map.newBuilder[String, Long]
    headers.foreach { h =>
      val eq = h.indexOf('=')
      require(eq > 0, s"malformed snapshot header '$h' in $where")
      (h.substring(0, eq), h.substring(eq + 1)) match {
        case ("key", v)    => key = v
        case ("schema", v) => schemaHash = Some(v)
        case ("schemajson", v) => schemaJson = Some(
          org.apache.spark.sql.types.DataType.fromJson(v)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
        case ("op", v)     => op = v
        case ("stats", v)  => statsCols = v.split(",").toIndexedSeq.filter(_.nonEmpty)
        case ("dropped", v) => dropped = v.split(",").toIndexedSeq.filter(_.nonEmpty)
        case ("txn", v) =>
          val c = v.lastIndexOf(':')
          require(c > 0, s"malformed txn header '$h' in $where")
          txns += (v.substring(0, c) -> v.substring(c + 1).toLong)
        case ("constraint", v) =>
          val c = v.indexOf(':')
          require(c > 0, s"malformed constraint header '$h' in $where")
          constraints += (v.substring(0, c) -> v.substring(c + 1))
        case ("minwriter", v) =>
          // reading stays legal — the gate fires in assertWritable
          // when a mutation is attempted
          minWriter = v.toInt
        case ("minreader", v) =>
          require(v.toInt <= ReaderVersion,
            s"snapshot in $where requires reader version $v, this reader " +
            s"is $ReaderVersion — refusing rather than misreading (a " +
            "feature-unaware read of e.g. a deletion-vector snapshot " +
            "would resurrect deleted rows)")
        case _ => // forward-compatible: ignore unknown headers
      }
    }
    require(key != null, s"snapshot in $where has no key= header")
    val files = fileLines.toIndexedSeq.map { l =>
      val f = l.split("\t", -1)
      val stats = statsCols.zipWithIndex.map { case (c, i) =>
        c -> ((f(5 + 2 * i).toLong, f(6 + 2 * i).toLong))
      }.toMap
      // optional deletion-vector fields follow the stats columns; a
      // DV-free file's line simply ends earlier
      val dvBase = 5 + 2 * statsCols.size
      val dv =
        if (f.length >= dvBase + 2 && f(dvBase).nonEmpty)
          Some(DvRef(f(dvBase), f(dvBase + 1).toLong))
        else None
      SnapshotFile(f(0), f(1).toLong, f(2).toLong, f(3).toLong, f(4).toLong,
        stats, dv)
    }
    TableSnapshot(version, key, files, schemaHash, txns.result(), op,
      statsCols, schemaJson, dropped, constraints.result(), minWriter)
  }

  private def readSnapshotFile(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, version: Long): TableSnapshot = {
    val in = fs.open(p)
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    parseSnapshot(version, txt, p.toString)
  }

  /** The latest committed snapshot, or None for an uncommitted (raw
    * parquet) directory.
    */
  def latestSnapshot(spark: SparkSession, path: String): Option[TableSnapshot] = {
    val fs = fsOf(spark, path)
    val mdir = new org.apache.hadoop.fs.Path(path, ManifestDir)
    if (!fs.exists(mdir)) None
    else {
      val versions = fs.listStatus(mdir)
        .flatMap(st => versionOf(st.getPath.getName).map(_ -> st.getPath))
      if (versions.isEmpty) None
      else {
        val (v, p) = versions.maxBy(_._1)
        Some(readSnapshotFile(fs, p, v))
      }
    }
  }

  /** Atomically commit `snapshot` as `path/_manifests/v<version>.txt`:
    * write a hidden temp file fully, then publish it under the version
    * name with an arbiter that REFUSES an existing target — losing a
    * version race throws IllegalStateException (rewrites treat that as
    * the single-writer contract broken and fail loudly; appends rebase
    * and retry, see [[appendClustered]]).
    *
    * Arbiter: on a local filesystem the publish is a HARD LINK —
    * link(2) is atomic and fails with EEXIST, so exactly one of two
    * racing committers wins even in the same instant (a bare
    * exists+rename would let the loser CLOBBER the winner on POSIX,
    * silently unreferencing its files). On HDFS-like filesystems the
    * fallback is exists+rename, whose rename is itself no-clobber
    * there.
    */
  def commitSnapshot(spark: SparkSession, path: String, snapshot: TableSnapshot): Unit = {
    val fs = fsOf(spark, path)
    val mdir = new org.apache.hadoop.fs.Path(path, ManifestDir)
    fs.mkdirs(mdir)
    val target = new org.apache.hadoop.fs.Path(mdir, snapshotName(snapshot.version))
    val body = new StringBuilder()
    body.append(SnapshotMagic).append('\n')
    body.append("key=").append(snapshot.keyName).append('\n')
    // deletion vectors are a reader-breaking feature: stamp the level so
    // a DV-unaware parser refuses instead of resurrecting deleted rows
    if (snapshot.hasDeletionVectors)
      body.append("minreader=2").append('\n')
    // DVs and CHECK constraints are writer-breaking: a feature-unaware
    // writer must refuse to mutate (assertWritable) instead of
    // resurrecting rows in a compaction or appending unverified batches
    val mw = math.max(snapshot.minWriter,
      if (snapshot.hasDeletionVectors || snapshot.constraints.nonEmpty) 2 else 1)
    if (mw > 1)
      body.append("minwriter=").append(mw).append('\n')
    if (snapshot.op != "unknown")
      body.append("op=").append(snapshot.op).append('\n')
    if (snapshot.statsCols.nonEmpty) {
      snapshot.statsCols.foreach(c => require(
        !c.contains(',') && !c.contains('\t') && !c.contains('\n'),
        s"stats column name '$c' contains reserved characters"))
      body.append("stats=").append(snapshot.statsCols.mkString(",")).append('\n')
    }
    if (snapshot.droppedCols.nonEmpty) {
      snapshot.droppedCols.foreach(c => require(
        !c.contains(',') && !c.contains('\t') && !c.contains('\n'),
        s"dropped column name '$c' contains reserved characters"))
      body.append("dropped=").append(snapshot.droppedCols.mkString(",")).append('\n')
    }
    snapshot.schemaHash.foreach(h => body.append("schema=").append(h).append('\n'))
    snapshot.schema.foreach { st =>
      val j = st.json
      require(!j.contains('\n') && !j.contains('\t'),
        "schema JSON contains reserved characters")
      body.append("schemajson=").append(j).append('\n')
    }
    snapshot.txns.toSeq.sortBy(_._1).foreach { case (app, id) =>
      require(!app.contains('\n') && !app.contains('\t'),
        s"txn writer id '$app' contains reserved characters")
      body.append("txn=").append(app).append(':').append(id).append('\n')
    }
    snapshot.constraints.foreach { case (cname, sql) =>
      require(cname.nonEmpty && cname.forall(ch =>
          ch.isLetterOrDigit || ch == '_'),
        s"constraint name '$cname' must be [A-Za-z0-9_]+")
      require(!sql.contains('\n') && !sql.contains('\t') && sql.nonEmpty,
        s"constraint '$cname' expression contains reserved characters")
      body.append("constraint=").append(cname).append(':').append(sql).append('\n')
    }
    snapshot.files.sortBy(_.name).foreach { f =>
      body.append(f.name).append('\t').append(f.bytes).append('\t')
        .append(f.rows).append('\t').append(f.minKey).append('\t')
        .append(f.maxKey)
      snapshot.statsCols.foreach { c =>
        val (mn, mx) = f.stats.getOrElse(c, throw new IllegalArgumentException(
          s"snapshot v${snapshot.version}: file ${f.name} lacks stats for '$c'"))
        body.append('\t').append(mn).append('\t').append(mx)
      }
      f.dv.foreach { d =>
        require(!d.name.contains('\t') && !d.name.contains('\n') && d.name.nonEmpty,
          s"deletion vector name '${d.name}' contains reserved characters")
        require(d.nDeleted > 0 && d.nDeleted < f.rows,
          s"snapshot v${snapshot.version}: file ${f.name} records " +
          s"${d.nDeleted} deleted of ${f.rows} physical rows — an empty " +
          "or fully-deleted file must be dropped from the list, not DV'd")
        body.append('\t').append(d.name).append('\t').append(d.nDeleted)
      }
      body.append('\n')
    }
    val tmp = new org.apache.hadoop.fs.Path(
      mdir, s".tmp-${java.util.UUID.randomUUID().toString.take(12)}")
    val out = fs.create(tmp, false)
    try out.write(body.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val local = fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
      fs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
    if (local) {
      val tgt = java.nio.file.Paths.get(
        new org.apache.hadoop.fs.Path(mdir, snapshotName(snapshot.version))
          .toUri.getPath)
      val src = java.nio.file.Paths.get(tmp.toUri.getPath)
      try java.nio.file.Files.createLink(tgt, src)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          fs.delete(tmp, false)
          throw new IllegalStateException(
            s"snapshot v${snapshot.version} already committed under $path — " +
            "lost the commit race (appends rebase+retry; rewrites are single-writer)")
      }
      fs.delete(tmp, false)
    } else {
      if (fs.exists(target)) {
        fs.delete(tmp, false)
        throw new IllegalStateException(
          s"snapshot v${snapshot.version} already committed under $path — " +
          "lost the commit race (appends rebase+retry; rewrites are single-writer)")
      }
      if (!fs.rename(tmp, target)) {
        fs.delete(tmp, false)
        throw new java.io.IOException(s"snapshot commit rename $tmp -> $target failed")
      }
    }
  }

  /** Read a subset of a snapshot's files through the snapshot's
    * RECORDED schema when it has one: files written before an
    * [[addColumn]] evolution lack the new column and serve NULL for it
    * (the parquet reader fills requested-but-absent columns); a bare
    * merged read would instead fail or silently drop the column
    * depending on which file's footer wins. Pre-schema-era snapshots
    * read bare — all their files share one physical schema.
    */
  private[ops] def readFiles(spark: SparkSession, path: String,
      snap: TableSnapshot, names: Seq[String]): DataFrame =
    readFilesDv(spark, path, snap, names, snap.dvRefs)

  /** [[readFiles]] with the deletion-vector ownership made explicit:
    * `dvOf` maps file name -> that file's DV ref AS OF the version being
    * read (pass none for the physical rows). The change-feed legs need
    * this split because they read a PREVIOUS version's removed files
    * through the window-end schema — the schema comes from `snap`, the
    * DV state from the version that owned the files.
    *
    * With `positioned`, every row keeps its file name and parquet row
    * index as `_graft_dv_file` and `_graft_dv_pos`: what the
    * deletion-vector verbs record and the position diffs join on. The
    * names are collision-proof, so a table column named `file` or `pos`
    * (SAM tables have `pos`) still resolves to the data.
    */
  private def readFilesDv(spark: SparkSession, path: String,
      snap: TableSnapshot, names: Seq[String],
      dvOf: Map[String, Option[DvRef]], positioned: Boolean = false): DataFrame = {
    require(names.nonEmpty, "readFiles: empty file list")
    val paths = names.map(n => s"$path/$n")
    val base = snap.schema match {
      case Some(st) => spark.read.schema(st).parquet(paths: _*)
      case None     => spark.read.parquet(paths: _*)
    }
    def tagged = base
      .withColumn("_graft_dv_file", col("_metadata.file_name"))
      .withColumn("_graft_dv_pos", col("_metadata.row_index"))
    // merge-on-read: anti-join the scan against the referenced DV
    // positions on (file name, parquet row index). The positions side
    // is BROADCAST — it is bounded by rows deleted since the last
    // rewrite of these files (compaction materializes DVs and resets
    // it), so the scan side never shuffles; predicate pushdown and
    // column pruning on the data columns are untouched below the join.
    dvPositions(spark, path, names.flatMap(n => dvOf.getOrElse(n, None).map(n -> _))) match {
      case None => if (positioned) tagged else base
      case Some(deleted) =>
        val live = tagged.join(broadcast(deleted
          .withColumnRenamed("file", "_graft_dv_file")
          .withColumnRenamed("pos", "_graft_dv_pos")),
          Seq("_graft_dv_file", "_graft_dv_pos"), "left_anti")
        if (positioned) live else live.drop("_graft_dv_file", "_graft_dv_pos")
    }
  }

  /** The (file, pos) rows the deletion vectors `refs` (data file name ->
    * its ref) hold, or None for no ref. A shared DV parquet may also
    * hold OTHER files' positions, so the read keeps only the named files.
    */
  private def dvPositions(spark: SparkSession, path: String,
      refs: Seq[(String, DvRef)]): Option[DataFrame] =
    if (refs.isEmpty) None
    else Some(spark.read.parquet(refs.map(r => s"$path/${r._2.name}").distinct: _*)
      .filter(col("file").isin(refs.map(_._1): _*)))

  /** Read `path` through a specific snapshot: exactly the listed files,
    * nothing else. A reader holding snapshot N keeps a consistent view
    * while snapshot N+1's rewrite is in flight.
    */
  def readSnapshot(spark: SparkSession, path: String, snap: TableSnapshot): DataFrame = {
    require(snap.files.nonEmpty, s"snapshot v${snap.version} lists no files")
    readFiles(spark, path, snap, snap.files.map(_.name))
  }

  /** Read `path` through the LATEST committed snapshot. This is the
    * reader the log exists for: in-flight rewrites and the compaction
    * move-in/delete window are unobservable because uncommitted files
    * are simply not in the plan.
    */
  def readCommitted(spark: SparkSession, path: String): DataFrame =
    readSnapshot(spark, path, head(spark, path, "readCommitted"))

  /** Manifest-log twin of [[prunedRead]]: plan the pruned scan from the
    * PERSISTED per-file key boxes — one manifest fetch, zero data-file
    * access at planning time (prunedRead must first scan the data to
    * build its stats; at 100 TB that difference is the whole point of
    * a table format). Returns (kept names, total files, DataFrame with
    * the residual key filter applied).
    */
  def prunedCommittedRead(spark: SparkSession, path: String, lo: Long, hi: Long)
      : (Seq[String], Long, DataFrame) = {
    val snap = head(spark, path, "prunedCommittedRead")
    val (kept, _) = affected(snap, Seq((snap.keyName, lo, hi)), "prunedCommittedRead")
    val residual = col(snap.keyName) >= lit(lo) && col(snap.keyName) <= lit(hi)
    val df =
      if (kept.isEmpty) readSnapshot(spark, path, snap).filter(lit(false))
      else readFiles(spark, path, snap, kept.map(_.name)).filter(residual)
    (kept.map(_.name), snap.files.size.toLong, df)
  }

  /** Stats-planned committed read on the table's ORIGINAL columns: keep
    * only files whose persisted per-column [min,max] box intersects
    * every requested range, then scan just those with the residual
    * filter. The query never restates the cluster key — it prunes on
    * its own predicate columns, which is the face a table format shows
    * its users (the Z-order layout is what makes these boxes tight on
    * several columns AT ONCE). Ranges may also name the cluster-key
    * column itself (served from the key box). Refuses a column the
    * snapshot carries no stats for — silent full scans are how pruning
    * regressions hide.
    */
  def prunedCommittedReadCols(spark: SparkSession, path: String,
      ranges: Seq[(String, Long, Long)]): (Seq[String], Long, DataFrame) = {
    require(ranges.nonEmpty, "prunedCommittedReadCols: no ranges")
    val snap = head(spark, path, "prunedCommittedReadCols")
    val (kept, _) = affected(snap, ranges, "prunedCommittedReadCols")
    val residual = ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    val df =
      if (kept.isEmpty) readSnapshot(spark, path, snap).filter(lit(false))
      else readFiles(spark, path, snap, kept.map(_.name)).filter(residual)
    (kept.map(_.name), snap.files.size.toLong, df)
  }

  /** Read `path` as of a specific committed version — time travel.
    * Fails loudly if that snapshot file was vacuumed or never existed.
    */
  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame =
    readSnapshot(spark, path, snapshotAt(spark, path, version))

  /** The committed snapshot at a specific retained version. */
  def snapshotAt(spark: SparkSession, path: String, version: Long): TableSnapshot = {
    val fs = fsOf(spark, path)
    val p = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path, ManifestDir), snapshotName(version))
    require(fs.exists(p),
      s"no snapshot v$version under $path — never committed, or vacuumed " +
      "past the retention horizon")
    readSnapshotFile(fs, p, version)
  }

  /** CHANGE FEED over the manifest log — the Delta-CDF shape for an
    * append-only ingest: the rows ADDED to the table by the commits in
    * (fromVersion, toVersion]. Each append contributes exactly its new
    * files, planned from the SNAPSHOT DIFF (never a directory listing,
    * never a data diff); compactions are content-preserving and legally
    * contribute nothing; a create/rewrite inside the window replaces
    * table content — something row-adds cannot express — so the feed
    * refuses loudly instead of fabricating a delta. Cost ∝ the changed
    * files: a downstream consumer (index maintenance, stats refresh,
    * incremental export) tails a 100 TB table for the price of the
    * day's batches. Snapshots before the fingerprint era carry
    * op=unknown and are refused the same way.
    */
  def tableChanges(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"tableChanges: fromVersion $fromVersion > toVersion $toVersion")
    var prev = snapshotAt(spark, path, fromVersion)
    val added = Seq.newBuilder[String]
    var v = fromVersion + 1
    while (v <= toVersion) {
      val cur = snapshotAt(spark, path, v)
      cur.op match {
        case "append" =>
          val before = prev.files.map(_.name).toSet
          added ++= cur.files.map(_.name).filterNot(before.contains)
        case "compact" => // byte permutation: adds no rows
        case "purge"   => // DV materialization: live content unchanged
        case "evolve"  => // same files, wider schema: adds no rows
        case "txn"     => // mark-only commit: same files, adds no rows
        case "constraint" => // metadata-only commit: same files
        case "restore" =>
          throw new IllegalArgumentException(
            s"tableChanges: v$v under $path is a RESTORE — a rollback can " +
            "REMOVE rows, which an adds-only feed cannot express; consume " +
            "the window with tableChangesCdf (insert+delete legs) instead")
        case "deletedv" | "updatedv" =>
          throw new IllegalArgumentException(
            s"tableChanges: v$v under $path is a deletion-vector " +
            s"${if (cur.op == "deletedv") "DELETE" else "UPDATE"} — it " +
            "removes rows, which an adds-only feed cannot express; " +
            "consume the window with tableChangesCdf (the DV position " +
            "diff becomes its delete leg)")
        case other =>
          throw new IllegalArgumentException(
            s"tableChanges: v$v under $path is a '$other' commit — it replaces " +
            "table content, which a row-level change feed cannot express; " +
            "re-read the snapshot (readVersion) instead")
      }
      prev = cur
      v += 1
    }
    val names = added.result()
    if (names.isEmpty)
      readSnapshot(spark, path, prev).filter(lit(false))
    else
      readFiles(spark, path, prev, names)
  }

  /** Full change-data-feed over the manifest log: every row the commits
    * in (fromVersion, toVersion] added OR removed, tagged with a
    * `_change_type` column (insert | delete). Appends contribute their
    * new files as inserts (no data diff — the snapshot diff IS the
    * answer); deletes, updates and upserts contribute the row-level difference
    * between the affected files' pre- and post-images (two multiset
    * exceptAll legs scoped to ONLY the changed files — cost ∝ the
    * commit's reach, never the table; an updated row appears as its
    * old image deleted + its new image inserted, the standard CDF
    * encoding). Compactions contribute nothing; create/rewrite/unknown
    * still refuse — whole-table replacement has no row-level story.
    * Requires the window's non-latest snapshots AND the removed
    * generations to still be on disk (vacuum within the window breaks
    * it loudly at read). The cheap appends-only path is
    * [[tableChanges]]; use this one when the window may contain
    * deletes/merges.
    */
  def tableChangesCdf(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"tableChangesCdf: fromVersion $fromVersion > toVersion $toVersion")
    var prev = snapshotAt(spark, path, fromVersion)
    // all windows read through the TO-version schema so the unioned
    // legs align across an addColumn evolution inside the window
    val toSnap = snapshotAt(spark, path, toVersion)
    val empty = readFiles(spark, path, toSnap, prev.files.map(_.name))
      .filter(lit(false))
    // each leg reads through the window-end SCHEMA but the owning
    // version's DV state: a pre-image leg must apply the DVs the rows
    // had BEFORE the commit (or rows deleted in an earlier version
    // would be re-reported), a post-image leg the DVs after
    def read(names: Seq[String], dvOwner: TableSnapshot): DataFrame =
      if (names.isEmpty) empty
      else readFilesDv(spark, path, toSnap, names, dvOwner.dvRefs)
    // the rows at the positions `from`'s DVs hold that `to`'s do NOT —
    // i.e. the per-file DV position diff over same-named files, joined
    // back to the data. Direction gives both CDF legs: (prev -> cur)
    // is rows this commit deleted, (cur -> prev) rows it resurrected
    // (a RESTORE across a DV commit). None when no ref changed.
    def dvDiffRows(from: Seq[SnapshotFile],
        to: Map[String, Option[DvRef]]): Option[DataFrame] = {
      val changed = from.filter(f =>
        to.contains(f.name) && to(f.name) != f.dv && f.dv.isDefined)
      if (changed.isEmpty) return None
      def positions(dvOf: SnapshotFile => Option[DvRef]) =
        dvPositions(spark, path, changed.flatMap(f => dvOf(f).map(f.name -> _)))
      val fromPos = positions(_.dv).get // changed filters on dv.isDefined
      val toPos = positions(f => to(f.name))
      val diff = toPos match {
        case None => fromPos
        case Some(t) => fromPos.join(
          t.withColumnRenamed("file", "_pf").withColumnRenamed("pos", "_pp"),
          col("file") === col("_pf") && col("pos") === col("_pp"),
          "left_anti")
      }
      val raw = readFilesDv(spark, path, toSnap, changed.map(_.name), Map.empty,
        positioned = true)
      Some(raw.join(
        broadcast(diff
          .withColumnRenamed("file", "_graft_dv_file")
          .withColumnRenamed("pos", "_graft_dv_pos")),
        Seq("_graft_dv_file", "_graft_dv_pos"))
        .drop("_graft_dv_file", "_graft_dv_pos"))
    }
    var out: DataFrame = empty.withColumn("_change_type", lit("insert"))
    var v = fromVersion + 1
    while (v <= toVersion) {
      val cur = snapshotAt(spark, path, v)
      val prevNames = prev.files.map(_.name).toSet
      val curNames = cur.files.map(_.name).toSet
      val added = cur.files.map(_.name).filterNot(prevNames.contains)
      val removed = prev.files.map(_.name).filterNot(curNames.contains)
      cur.op match {
        case "append" =>
          out = out.unionByName(
            read(added, cur).withColumn("_change_type", lit("insert")))
        case "compact" => // byte permutation: no row-level change
        case "purge"   => // DV materialization: live content unchanged
        case "evolve"  => // schema widened; rows unchanged (reads align
                          // on the TO-version schema, see above)
        case "txn"     => // mark-only commit: no row-level change
        case "constraint" => // metadata-only commit: no row-level change
        case "delete" | "upsert" | "update" | "restore" =>
          // a restore IS a known file-list diff (the files V re-listed
          // vs the files the undone commits had written), so the same
          // pre/post legs express it exactly — Delta's RESTORE appears
          // in ITS change feed the same way. Restores across DV
          // commits additionally repoint or clear refs on SAME-NAMED
          // files — invisible to a name diff — so both position-diff
          // directions ride too: positions cur holds that prev did
          // not are rows the rollback re-deleted, positions prev held
          // that cur does not are rows it RESURRECTED.
          val pre = read(removed, prev)
          val post = read(added, cur)
          out = out
            .unionByName(post.exceptAll(pre)
              .withColumn("_change_type", lit("insert")))
            .unionByName(pre.exceptAll(post)
              .withColumn("_change_type", lit("delete")))
          dvDiffRows(cur.files, prev.dvRefs).foreach(d =>
            out = out.unionByName(d.withColumn("_change_type", lit("delete"))))
          dvDiffRows(prev.files, cur.dvRefs).foreach(d =>
            out = out.unionByName(d.withColumn("_change_type", lit("insert"))))
        case "deletedv" | "updatedv" =>
          // a merge-on-read delete names its rows exactly: the commit's
          // delta IS the position diff (cur DV minus prev DV per
          // surviving file) plus every live row of the files it
          // dropped. Cost ∝ the delete — the position join scans only
          // the files whose refs changed, never the table. A
          // merge-on-read UPDATE adds one more leg: its appended files
          // are the new images (inserts), making the standard CDF
          // old-delete + new-insert pair.
          out = out.unionByName(
            read(added, cur).withColumn("_change_type", lit("insert")))
          out = out.unionByName(
            read(removed, prev).withColumn("_change_type", lit("delete")))
          dvDiffRows(cur.files, prev.dvRefs).foreach(d =>
            out = out.unionByName(d.withColumn("_change_type", lit("delete"))))
        case other =>
          throw new IllegalArgumentException(
            s"tableChangesCdf: v$v under $path is a '$other' commit — it " +
            "replaces table content wholesale; re-read the snapshot " +
            "(readVersion) instead")
      }
      prev = cur
      v += 1
    }
    out
  }

  /** Resolve a consumer's source snapshot: the latest commit, or —
    * with `asOfVersion >= 0` — exactly that retained version, the Delta
    * `endingVersion` analog. Bounded consumption is what makes a run
    * REPRODUCIBLE (pin the version, rerun the consumer, get the same
    * window regardless of concurrent ingest) and lets a backfill walk a
    * long history in deliberate steps.
    */
  private def resolveAsOf(spark: SparkSession, srcPath: String,
      asOfVersion: Long, who: String): TableSnapshot =
    if (asOfVersion >= 0L) snapshotAt(spark, srcPath, asOfVersion)
    else head(spark, srcPath, who)

  /** What [[incrementalEtl]] did: the source window it processed
    * ((fromVersion, toVersion]; fromVersion = 0 on the bootstrap run),
    * the rows it appended to the derived table, and the derived table's
    * committed version after the run. `caughtUp` = the run found no new
    * source commits and touched nothing.
    */
  final case class EtlStats(
      fromVersion: Long, toVersion: Long, rowsAppended: Long,
      dstVersion: Long, caughtUp: Boolean)

  /** Incrementally maintain a DERIVED committed table from a source
    * committed table's change feed — the 100 TB consumer loop: each run
    * reads only the source commits since its own high-water mark,
    * transforms them, and appends to the derived table, so following a
    * table costs the day's batches, never the table.
    *
    * EXACTLY-ONCE: the high-water mark is the source version recorded
    * in the DERIVED table's own txn map (writer id `etl:<srcPath>` by
    * default) — state and data commit atomically in one snapshot, the
    * same mechanism Structured Streaming rides ([[appendClustered]]'s
    * `txn`). A crash between transform and commit replays the window;
    * a crash after the commit makes the retry a provable no-op (the
    * mark already covers the window). The first run bootstraps: it
    * materializes `transform(full committed source)` via
    * [[writeClustered]] with the mark recorded in the create snapshot.
    *
    * TRANSFORM CONTRACT: `transform` must be ROW-WISE (per-row
    * projections/filters — map-only plans). That is what makes window
    * boundaries invisible: transform(batch A ∪ batch B) ==
    * transform(A) ∪ transform(B), so one run processing three source
    * commits equals three runs processing one each, and a window whose
    * transform yields zero rows can safely leave the mark in place (the
    * rows re-enter the next window and still yield nothing). Aggregating
    * views need a different maintenance algebra — build them as a
    * grouped read OVER this row-wise view instead.
    *
    * Source windows are read with [[tableChanges]], so a row-level
    * mutation (delete/update/upsert) or rewrite in the source REFUSES
    * loudly — an append-only view cannot express removal; re-materialize
    * by dropping the derived table and bootstrapping again (or follow
    * [[tableChangesCdf]] by hand for a mutable-source pipeline).
    */
  def incrementalEtl(spark: SparkSession, srcPath: String, dstPath: String,
      transform: DataFrame => DataFrame, key: Column, nFiles: Int,
      writerId: String = null, statsCols: Seq[String] = Nil,
      asOfVersion: Long = -1L): EtlStats = {
    val srcSnap = resolveAsOf(spark, srcPath, asOfVersion, "incrementalEtl")
    val writer = Option(writerId).getOrElse(s"etl:$srcPath")
    latestSnapshot(spark, dstPath) match {
      case None =>
        val out = transform(readSnapshot(spark, srcPath, srcSnap))
        val written = writeClustered(out, dstPath, key, nFiles,
          txn = Some(writer -> srcSnap.version), statsCols = statsCols)
        EtlStats(0L, srcSnap.version, written.count(),
          head(spark, dstPath, "incrementalEtl").version, caughtUp = false)
      case Some(dst) =>
        val from = dst.txns.getOrElse(writer, throw new IllegalStateException(
          s"incrementalEtl: derived table at $dstPath carries no high-water " +
          s"mark for writer '$writer' — it was not bootstrapped by this " +
          "pipeline; drop it or pass the writerId that created it"))
        if (from >= srcSnap.version)
          return EtlStats(from, from, 0L, dst.version, caughtUp = true)
        // materialize once: the emptiness check and the append would
        // otherwise re-read the window twice
        val out = transform(tableChanges(spark, srcPath, from, srcSnap.version))
          .localCheckpoint()
        val nOut = out.count()
        if (nOut == 0L)
          // nothing to append: leave the mark — the window re-enters next
          // run and (row-wise transform) still yields nothing
          EtlStats(from, srcSnap.version, 0L, dst.version, caughtUp = false)
        else {
          val next = appendClustered(out, dstPath, key, nFiles,
            txn = Some(writer -> srcSnap.version))
          EtlStats(from, srcSnap.version, nOut, next.version, caughtUp = false)
        }
    }
  }

  /** Stage `df` clustered on `keyName` into a hidden dir and move the
    * parts in under `part-<tag>-<token>-<i>` names — the shared
    * rewrite-generation discipline (append/compact/delete/update/upsert/
    * purge/aggregate all stage exactly this way).
    */
  private def stageAndMoveIn(df: DataFrame, path: String, tag: String,
      keyName: String, nOut: Int): IndexedSeq[String] =
    moveIn(df.repartitionByRange(nOut, col(keyName)).sortWithinPartitions(keyName),
      path, tag, s"part-$tag")

  /** Stage `rows` as a new generation of `snap`'s table (`nOut` files
    * clustered on its key) and return its snapshot entries; no rows stage
    * nothing. Refuses, before anything commits, a generation that does
    * not hold exactly `expect` rows: both generations stay on disk and
    * the staged files are vacuum-able orphans.
    */
  private def stageGeneration(spark: SparkSession, path: String,
      snap: TableSnapshot, rows: DataFrame, tag: String, nOut: Int,
      expect: Long, who: String): Seq[SnapshotFile] =
    if (expect == 0L) Nil
    else {
      val entries = snapshotEntries(spark, path, snap.keyName,
        stageAndMoveIn(rows, path, tag, snap.keyName, nOut), snap.statsCols)
      val got = entries.map(_.rows).sum
      require(got == expect,
        s"$who: the staged generation holds $got rows where $expect were " +
        "expected; nothing committed, both generations on disk")
      entries
    }

  /** Write `df` into a hidden `.<tag>-<token>` dir under `path`, move its
    * parts in as `<prefix>-<token>-<i>` and drop the dir; returns the
    * moved names. Until a snapshot lists them they are invisible to
    * committed readers, and vacuum sweeps what a crash leaves (the
    * `.<tag>-` dir, or moved-in files no snapshot references).
    */
  private def moveIn(df: DataFrame, path: String, tag: String,
      prefix: String): IndexedSeq[String] = {
    val fs = fsOf(df.sparkSession, path)
    val token = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/.$tag-$token")
    df.write.mode("overwrite").parquet(tmp.toString)
    val staged = fs.listStatus(tmp)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
    val moved = staged.zipWithIndex.map { case (st, i) =>
      val target = new org.apache.hadoop.fs.Path(
        s"$path/$prefix-$token-$i${suffixOf(st.getPath.getName)}")
      if (!fs.rename(st.getPath, target))
        throw new java.io.IOException(
          s"$tag rename ${st.getPath} -> $target failed")
      target.getName
    }.toIndexedSeq
    fs.delete(tmp, true)
    moved
  }

  /** What [[incrementalAggregate]] did. `groupsMerged` counts the
    * distinct group keys this run's window touched.
    */
  final case class AggEtlStats(
      fromVersion: Long, toVersion: Long, groupsMerged: Long,
      nFilesRewritten: Long, nFilesTotal: Long, dstVersion: Long,
      caughtUp: Boolean)

  /** Incrementally maintained AGGREGATE view — `SELECT group, agg …
    * GROUP BY group` over an append-only source, kept current at the
    * cost of each window's partial: the derived committed table holds
    * one row per group, clustered by `xxhash64(group)` (any group
    * type), and each run (1) partial-aggregates ONLY the source rows
    * since its high-water mark, (2) box-probes which derived files
    * hold touched groups — one broadcast semi-join of the window's
    * group hashes against the file list, never a table scan — and
    * (3) rewrites just those files with the partials merged in (new
    * groups ride the rewritten generation, pure-new-group windows
    * anchor on the smallest file, the [[upsertCommitted]] discipline).
    * The mark commits atomically with the merge (op=upsert, the same
    * txn mechanism everywhere else), so crashes resume exactly and
    * replays no-op. This is what "streaming GROUP BY over 100 TB"
    * should cost: the firehose is never re-scanned.
    *
    * `aggs` are `(outName, inCol, fn)` with fn ∈ count | sum | min |
    * max — exactly the mergeable algebra (count merges by sum, sum by
    * sum, min/max by themselves). Sums over FLOAT/DOUBLE inputs are
    * REFUSED: merge order would drift the low bits and the view would
    * diverge from its own recompute — pre-cast to DECIMAL in `prepare`
    * (row-wise, applied before every partial) instead. AVG is a
    * sum/count pair at read time.
    *
    * Source windows ride [[tableChanges]]: a row-level mutation in the
    * source refuses loudly (aggregate deltas of a retraction need a
    * retractable algebra — re-bootstrap instead).
    */
  def incrementalAggregate(spark: SparkSession, srcPath: String,
      dstPath: String, groupCol: String,
      aggs: Seq[(String, String, String)],
      prepare: DataFrame => DataFrame = identity(_),
      nFiles: Int = 0, writerId: String = null,
      asOfVersion: Long = -1L): AggEtlStats = {
    require(aggs.nonEmpty, "incrementalAggregate: empty agg list")
    require(aggs.map(_._1).distinct.size == aggs.size,
      "incrementalAggregate: duplicate output names")
    require(!aggs.map(_._1).contains(groupCol),
      "incrementalAggregate: an output name shadows the group column")
    val srcSnap = resolveAsOf(spark, srcPath, asOfVersion, "incrementalAggregate")
    val writer = Option(writerId).getOrElse(s"aggetl:$srcPath")

    import org.apache.spark.sql.types._
    // stable output type per agg: partial and merge must agree or the
    // schema fingerprint drifts between bootstrap and merge commits
    def stableSum(dt: DataType): DataType = dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType => LongType
      case d: DecimalType => DecimalType(38, d.scale)
      case other => throw new IllegalArgumentException(
        s"incrementalAggregate: sum over ${other.simpleString} is " +
        "merge-order-sensitive; pre-cast to DECIMAL in `prepare`")
    }
    def partial(df: DataFrame): DataFrame = {
      val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
      df.groupBy(col(groupCol)).agg(
        aggs.head match { case (out, in, fn) => partialExpr(out, in, fn, fields) },
        aggs.tail.map { case (out, in, fn) => partialExpr(out, in, fn, fields) }: _*)
    }
    def partialExpr(out: String, in: String, fn: String,
        fields: Map[String, DataType]): Column = fn match {
      case "count" => count(lit(1)).as(out)
      case "sum"   => sum(col(in)).cast(stableSum(fields(in))).as(out)
      case "min"   => min(col(in)).as(out)
      case "max"   => max(col(in)).as(out)
      case other => throw new IllegalArgumentException(
        s"incrementalAggregate: unmergeable agg '$other' (count|sum|min|max)")
    }
    def merge(df: DataFrame): DataFrame = {
      val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
      def m(out: String, fn: String): Column = fn match {
        case "count" | "sum" => sum(col(out)).cast(fields(out)).as(out)
        case "min"           => min(col(out)).as(out)
        case "max"           => max(col(out)).as(out)
        case other           => throw new IllegalStateException(other)
      }
      df.groupBy(col(groupCol)).agg(
        aggs.head match { case (out, _, fn) => m(out, fn) },
        aggs.tail.map { case (out, _, fn) => m(out, fn) }: _*)
    }

    latestSnapshot(spark, dstPath) match {
      case None =>
        val boot = partial(prepare(readSnapshot(spark, srcPath, srcSnap)))
        val n = if (nFiles > 0) nFiles else math.max(1, srcSnap.files.size / 2)
        writeClustered(boot, dstPath, xxhash64(col(groupCol)), n,
          txn = Some(writer -> srcSnap.version)): Unit
        val d = head(spark, dstPath, "incrementalAggregate")
        AggEtlStats(0L, srcSnap.version, d.totalRows, 0L,
          d.files.size.toLong, d.version, caughtUp = false)
      case Some(dst0) =>
        assertWritable(dst0, "incrementalAggregate")
        val from = dst0.txns.getOrElse(writer, throw new IllegalStateException(
          s"incrementalAggregate: view at $dstPath carries no high-water " +
          s"mark for writer '$writer' — it was not bootstrapped by this " +
          "pipeline; drop it or pass the writerId that created it"))
        if (from >= srcSnap.version)
          return AggEtlStats(from, from, 0L, 0L, dst0.files.size.toLong,
            dst0.version, caughtUp = true)
        // EVOLUTION CONTRACT: an in-window evolve that adds or drops one
        // of the view's OWN columns (the group key or an agg input)
        // invalidates the maintenance algebra — pre-evolve partials for
        // an added column would be NULL-merged as if those rows never
        // existed, silently diverging the view from its own recompute.
        // Refuse loudly with the remedy. Evolves on unrelated columns
        // pass: the window reads through the TO-version schema and the
        // partial never touches them. The walk is manifest-file reads
        // only, bounded by the window length.
        locally {
          val watched = (groupCol +: aggs.map(_._2).filter(_.nonEmpty)).toSet
          var pv = snapshotAt(spark, srcPath, from)
          var vv = from + 1
          while (vv <= srcSnap.version) {
            val sv = snapshotAt(spark, srcPath, vv)
            // pre-schema-era `from` snapshots record no column set; an
            // empty-set default would make EVERY in-window evolve look
            // like it added the watched columns and spuriously refuse
            // legacy tables — skip the diff until both sides record a
            // schema (the evolve commit itself always does, so the walk
            // self-heals one version in)
            if (sv.op == "evolve" && pv.schema.isDefined) {
              val before = pv.schema.map(_.fieldNames.toSet).getOrElse(Set.empty)
              val after = sv.schema.map(_.fieldNames.toSet).getOrElse(before)
              val touched = ((after diff before) ++ (before diff after)) & watched
              require(touched.isEmpty,
                s"incrementalAggregate: source evolve at v$vv under $srcPath " +
                s"adds/drops view column(s) ${touched.mkString(", ")} — the " +
                "merge algebra cannot restate history; drop the view at " +
                s"$dstPath and re-bootstrap")
            }
            pv = sv
            vv += 1
          }
        }
        // materialize the window partial once: the count, the box probe
        // and the merge would otherwise re-read the window three times
        val part = partial(prepare(
          tableChanges(spark, srcPath, from, srcSnap.version)))
          .localCheckpoint()
        val nGroups = part.count()
        if (nGroups == 0L)
          // empty window: leave the mark — the window re-enters next run
          // and contributes the same zero rows (the incrementalEtl rule)
          return AggEtlStats(from, srcSnap.version, 0L, 0L,
            dst0.files.size.toLong, dst0.version, caughtUp = false)
        val keyName = dst0.keyName
        val (affected, untouched) = probed(dst0, keyName, part, xxhash64(col(groupCol)))
        val current = readFiles(spark, dstPath, dst0, affected.map(_.name))
          .drop(keyName)
        val mergedRows = merge(current.unionByName(part))
        val clustered = mergedRows.withColumn(keyName, xxhash64(col(groupCol)))
        dst0.schemaHash.foreach { expect =>
          val got = schemaHashOf(clustered.schema)
          require(got == expect,
            s"incrementalAggregate: merged schema (hash $got) does not match " +
            s"the view's recorded schema (hash $expect) under $dstPath — agg " +
            "spec or prepare drifted since bootstrap")
        }
        val nOut = math.max(1, affected.size)
        val moved = stageAndMoveIn(clustered, dstPath, "upsert", keyName, nOut)
        val movedEntries = snapshotEntries(spark, dstPath, keyName, moved, Nil)
        val next = commitNext(spark, dstPath, dst0.next(untouched ++ movedEntries,
          "upsert", txns = dst0.txns + (writer -> srcSnap.version)))
        AggEtlStats(from, srcSnap.version, nGroups, affected.size.toLong,
          dst0.files.size.toLong, next.version, caughtUp = false)
    }
  }

  /** What [[replicateCommitted]] did: the source version window it
    * walked, how many source commits it applied (compactions apply
    * nothing), and the replica's committed version after the run.
    */
  final case class SyncStats(
      fromVersion: Long, toVersion: Long, versionsApplied: Long,
      dstVersion: Long, caughtUp: Boolean)

  /** Maintain an exact REPLICA of a mutable committed table — the CDC
    * sink that follows a source through appends, updates, deletes and
    * merges for the price of each commit's reach, never a source scan.
    * Each run walks the source versions past its high-water mark:
    * appends re-append the added files' rows ([[appendClustered]], no
    * replica rewrite), row-level mutations convert that version's CDF
    * legs into a change set (old images as version-1 deletes, new
    * images as version-2 upserts — an update's pair resolves to the
    * new image by last-writer-wins) applied via [[upsertCommitted]]'s
    * box-pruned rewrite, and compactions apply nothing (content
    * identity). The mark lives in the REPLICA's txn map under
    * `sync:<srcPath>` and commits atomically with each applied version,
    * so a crash mid-window resumes exactly where the last commit left
    * off and a replayed version is a provable no-op (the same `txn`
    * guard appends use). Bootstrap materializes the full source with
    * the source's own clustering and stats contract.
    *
    * REQUIRES: `idCol` unique in the source (the change-set contract —
    * [[graft.ops.SnapshotDiff.applyChangeSet]] elects one winner per
    * id) and carrying per-file stats there (the key or a statsCols
    * entry), so the replica-side rewrite plans over boxes. A source
    * RESTORE applies incrementally too (it is a known file-list diff —
    * its CDF legs are exactly the rollback's removed + resurrected
    * rows); only rewrite/unknown commits refuse loudly — whole-table
    * replacement has no incremental story; re-bootstrap the replica.
    */
  def replicateCommitted(spark: SparkSession, srcPath: String,
      dstPath: String, idCol: String, nFiles: Int = 0,
      writerId: String = null, asOfVersion: Long = -1L): SyncStats = {
    val srcSnap = resolveAsOf(spark, srcPath, asOfVersion, "replicateCommitted")
    val writer = Option(writerId).getOrElse(s"sync:$srcPath")
    require(idCol == srcSnap.keyName || srcSnap.statsCols.contains(idCol),
      s"replicateCommitted: '$idCol' has no per-file stats in the source " +
      s"(key=${srcSnap.keyName}, stats=${srcSnap.statsCols.mkString(",")}) — " +
      "create the source with statsCols including the replication id")
    def replica(): TableSnapshot = head(spark, dstPath, "replicateCommitted")
    // mirror a source CHECK-constraint list so the replica enforces the
    // same invariants on ITS future batches; a matching list commits
    // nothing. Content equality makes re-validation redundant — the rows
    // are the source's, which the source verified on add.
    def mirrorConstraints(want: Seq[(String, String)]): Unit = {
      val d = writableHead(spark, dstPath, "replicateCommitted")
      if (d.constraints != want)
        commitSnapshot(spark, dstPath, d.next(d.files, "constraint", constraints = want))
    }
    latestSnapshot(spark, dstPath) match {
      case None =>
        val n = if (nFiles > 0) nFiles else srcSnap.files.size
        writeClustered(readSnapshot(spark, srcPath, srcSnap), dstPath,
          col(srcSnap.keyName), n, keyName = srcSnap.keyName,
          txn = Some(writer -> srcSnap.version),
          statsCols = srcSnap.statsCols): Unit
        // mirror the source's CHECK constraints at bootstrap — the
        // catch-up loop starts PAST the version that added them, so
        // without this seed a replica of a constrained table would
        // never enforce the invariants on its own future batches
        mirrorConstraints(srcSnap.constraints)
        SyncStats(0L, srcSnap.version, 1L, replica().version, caughtUp = false)
      case Some(dst0) =>
        assertWritable(dst0, "replicateCommitted")
        val from = dst0.txns.getOrElse(writer, throw new IllegalStateException(
          s"replicateCommitted: replica at $dstPath carries no high-water " +
          s"mark for writer '$writer' — it was not bootstrapped by this " +
          "pipeline; drop it or pass the writerId that created it"))
        if (from >= srcSnap.version)
          return SyncStats(from, from, 0L, dst0.version, caughtUp = true)
        // payload columns are recomputed from the replica's CURRENT
        // recorded schema each time a change set is applied: a window
        // holding an evolve FOLLOWED by a row-level mutation must build
        // the mutation's legs against the post-evolve column set, or the
        // upsert's schema-fingerprint check refuses the run
        def payloadCols(): Seq[String] = {
          val d = replica()
          d.schema.map(_.fieldNames.toIndexedSeq)
            .getOrElse(readCommitted(spark, dstPath).columns.toIndexedSeq)
            .filterNot(_ == idCol)
        }
        var applied = 0L
        var prev = snapshotAt(spark, srcPath, from)
        var v = from + 1
        while (v <= srcSnap.version) {
          val cur = snapshotAt(spark, srcPath, v)
          cur.op match {
            case "append" =>
              // coalesce the whole CONTIGUOUS run of append commits into
              // one replica commit: tableChanges(v-1, end) is exactly the
              // run's added files, and appends commute, so one clustered
              // append with the run's high-water mark has identical
              // content and exactly-once semantics — a replica thousands
              // of appends behind catches up in one job per run, not one
              // per version (the serial loop was the op's scale ceiling)
              var end = v
              var endSnap = cur
              var continue = true
              while (continue && end < srcSnap.version) {
                val nxt = snapshotAt(spark, srcPath, end + 1)
                if (nxt.op == "append") { end += 1; endSnap = nxt }
                else continue = false
              }
              appendClustered(tableChanges(spark, srcPath, v - 1, end),
                dstPath, col(cur.keyName),
                nFiles = math.max(1, endSnap.files.size - prev.files.size),
                txn = Some(writer -> end)): Unit
              applied += end - v + 1
              prev = endSnap
              v = end + 1
            case "compact" | "purge" | "txn" =>
              // byte permutation / DV materialization / mark-only: the
              // replica already agrees on live content
              prev = cur
              v += 1
            case "constraint" =>
              mirrorConstraints(cur.constraints)
              applied += 1
              prev = cur
              v += 1
            case "evolve" =>
              // mirror the schema change (adds AND drops); idempotent
              // under replays (present columns skip, absent ones too)
              val have = replica().schema.map(_.fieldNames.toSet).getOrElse(Set.empty)
              val want = cur.schema.map(_.fieldNames.toSet).getOrElse(have)
              cur.schema.foreach(_.fields
                .filterNot(f => have.contains(f.name))
                .foreach(f => addColumn(spark, dstPath, f.name, f.dataType): Unit))
              have.diff(want)
                .foreach(c => dropColumn(spark, dstPath, c): Unit)
              applied += 1
              prev = cur
              v += 1
            case "delete" | "update" | "upsert" | "restore" | "deletedv"
               | "updatedv" =>
              // a restore is a known file-list diff, so the replica
              // follows it incrementally like any row-level mutation:
              // the CDF legs carry exactly the rows the rollback
              // removed and resurrected (round-14 directive #8 — the
              // former `case other` refusal forced a re-bootstrap).
              // A deletion-vector delete rides the same path: its CDF
              // delta is the position diff's rows, applied here as
              // content deletes by id — the replica's physical layout
              // differs from the source's, so positions don't
              // transfer, but ids do
              val cdf = tableChangesCdf(spark, srcPath, v - 1, v)
              val legs = cdf
                .withColumn("version",
                  when(col("_change_type") === "insert", lit(2L)).otherwise(lit(1L)))
                .withColumn("op",
                  when(col("_change_type") === "insert", lit("upsert"))
                    .otherwise(lit("delete")))
                .drop("_change_type")
              upsertCommitted(spark, dstPath, legs, idCol, payloadCols(),
                col(cur.keyName), txn = Some(writer -> v)): Unit
              // a RESTORE can roll the source's CHECK-constraint list
              // back; resync it or the replica keeps enforcing a stale
              // stricter list and wedges on the source's next
              // legitimately-unconstrained append
              mirrorConstraints(cur.constraints)
              applied += 1
              prev = cur
              v += 1
            case other =>
              throw new IllegalArgumentException(
                s"replicateCommitted: v$v under $srcPath is a '$other' commit " +
                "— whole-table replacement has no incremental story; drop the " +
                "replica and bootstrap again")
          }
        }
        // a window tail of no-op versions (compact/evolve/txn) advances
        // no mark through the data commits above — record it with a
        // txn-only commit so the next run reports caughtUp instead of
        // re-walking (and re-counting) the tail forever; commitTxn
        // commits nothing when a data commit already recorded the mark
        val dstAfter = commitTxn(spark, dstPath, writer, srcSnap.version)
        SyncStats(from, srcSnap.version, applied, dstAfter.version, caughtUp = false)
    }
  }

  /** Manifest-only aggregates — `SELECT COUNT(*), MIN(c), MAX(c) …`
    * answered from the committed snapshot alone: one small-file read,
    * ZERO data access, any table size. Row count is exact (every commit
    * records per-file counts); min/max are exact for the cluster key
    * and any recorded stats column because the boxes are computed from
    * the rows at commit time (the per-file min/max union IS the table
    * min/max). Columns without persisted stats are refused — guessing
    * would silently scan.
    */
  def statsAggregate(spark: SparkSession, path: String,
      cols: Seq[String] = Nil): DataFrame = {
    val snap = head(spark, path, "statsAggregate")
    // n_rows stays exact under deletion vectors (every DV ref records
    // its count); per-column MIN/MAX do NOT — a deleted row may have
    // held the extreme, and the boxes are computed at write time —
    // so a DV-carrying snapshot refuses them with the remedy
    require(cols.isEmpty || !snap.hasDeletionVectors,
      s"statsAggregate: snapshot v${snap.version} under $path carries " +
      "deletion vectors — per-file min/max boxes may cover deleted rows, " +
      "so manifest-only MIN/MAX would be unsound; compact the table to " +
      "materialize the DVs first (row count alone is still exact)")
    val exprs = lit(snap.totalLiveRows).as("n_rows") +: cols.flatMap { c =>
      require(c == snap.keyName || snap.statsCols.contains(c),
        s"statsAggregate: snapshot v${snap.version} carries no stats for " +
        s"'$c' (key=${snap.keyName}, stats=${snap.statsCols.mkString(",")})")
      val boxes = snap.files.map(snap.box(_, c))
      Seq(lit(boxes.map(_._1).min).as(s"min_$c"),
        lit(boxes.map(_._2).max).as(s"max_$c"))
    }
    spark.range(1).select(exprs.toIndexedSeq: _*)
  }

  /** Verify every recorded CHECK constraint over `df` in ONE pass: a
    * single aggregate sums each constraint's violation indicator (SQL
    * CHECK semantics — only FALSE violates; NULL passes), so N
    * constraints cost one job over the batch, not N. Refuses with the
    * first violated constraint named and counted; nothing staged,
    * nothing committed.
    */
  private def verifyConstraints(df: DataFrame,
      constraints: Seq[(String, String)], who: String): Unit = {
    if (constraints.isEmpty) return
    val aggs = constraints.map { case (cname, sql) =>
      sum(when(coalesce(expr(sql), lit(true)) === false, 1L)
        .otherwise(0L)).as(cname)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    constraints.zipWithIndex.foreach { case ((cname, sql), i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      require(bad == 0L,
        s"$who: CHECK constraint '$cname' ($sql) violated by $bad row(s) " +
        "of the batch — nothing committed")
    }
  }

  /** ADD CHECK CONSTRAINT — a table-level row invariant enforced from
    * now on (the Delta `ALTER TABLE … ADD CONSTRAINT … CHECK` verb):
    * `sqlExpr` must hold (TRUE or NULL — SQL CHECK semantics) for
    * every EXISTING row, verified in one pass before anything commits,
    * and every future content-introducing commit (append, rewrite,
    * update old-or-new images, merge) verifies its batch against the
    * recorded list BEFORE staging becomes a commit — cost ∝ the batch,
    * never the table. The constraint list rides the snapshot header
    * like the schema fingerprint; the commit is manifest-only
    * (op=constraint, same files), both feeds cross it as a no-op, and
    * replication mirrors it. DROP COLUMN refuses while a constraint
    * still references the column (resolution-checked against the
    * narrowed schema, not text-matched). RESTORE does NOT re-verify —
    * rolling back to pre-constraint content revives rows as they were,
    * the Delta behavior; re-add the constraint to re-validate.
    */
  def addCheckConstraint(spark: SparkSession, path: String,
      name: String, sqlExpr: String): TableSnapshot = {
    val snap = writableHead(spark, path, "addCheckConstraint")
    require(name.nonEmpty && name.forall(ch => ch.isLetterOrDigit || ch == '_'),
      s"addCheckConstraint: name '$name' must be [A-Za-z0-9_]+")
    require(!snap.constraints.exists(_._1 == name),
      s"addCheckConstraint: table at $path already has a constraint '$name'")
    require(!sqlExpr.contains('\n') && !sqlExpr.contains('\t') && sqlExpr.nonEmpty,
      s"addCheckConstraint: expression contains reserved characters")
    verifyConstraints(readSnapshot(spark, path, snap),
      Seq(name -> sqlExpr), "addCheckConstraint")
    commitNext(spark, path, snap.next(snap.files, "constraint",
      constraints = snap.constraints :+ (name -> sqlExpr)))
  }

  /** DROP CHECK CONSTRAINT — manifest-only removal; future batches stop
    * being verified against it. Refuses an unknown name (a typo'd drop
    * silently keeping enforcement off would be the worse failure).
    */
  def dropCheckConstraint(spark: SparkSession, path: String,
      name: String): TableSnapshot = {
    val snap = writableHead(spark, path, "dropCheckConstraint")
    require(snap.constraints.exists(_._1 == name),
      s"dropCheckConstraint: table at $path has no constraint '$name' " +
      s"(recorded: ${snap.constraints.map(_._1).mkString(",")})")
    commitNext(spark, path, snap.next(snap.files, "constraint",
      constraints = snap.constraints.filterNot(_._1 == name)))
  }

  /** ADD COLUMN — schema evolution without rewriting a byte: commit
    * snapshot N+1 with the SAME files and the widened recorded schema.
    * Committed reads serve NULL for the new column from pre-evolution
    * files (the recorded schema drives every scan via [[readFiles]]);
    * appends must carry the column from now on (the fingerprint check
    * now expects it); [[updateWhere]] backfills it where real values
    * exist — which is the complete evolve-then-backfill story at table
    * cost proportional to the backfilled slice, not the table. New
    * columns are nullable by definition: a non-null default would
    * require rewriting history. Refuses a duplicate name, and a
    * pre-schema-era table (append or rewrite once first — any commit
    * records the schema going forward).
    */
  def addColumn(spark: SparkSession, path: String, name: String,
      dataType: org.apache.spark.sql.types.DataType): TableSnapshot = {
    val snap = writableHead(spark, path, "addColumn")
    val cur = snap.schema.getOrElse(throw new IllegalStateException(
      s"addColumn: snapshot v${snap.version} under $path records no schema " +
      "(pre-evolution era) — append or rewrite once to record it"))
    require(!cur.fieldNames.contains(name),
      s"addColumn: table at $path already has a column '$name'")
    require(!snap.droppedCols.contains(name),
      s"addColumn: '$name' was previously DROPPED from the table at $path; " +
      "files written before the drop still physically carry its old values, " +
      "and re-adding the name would silently resurrect them — pick a fresh name")
    // insert BEFORE the cluster-key column: batches reach appendClustered
    // as (user columns…, key) — withColumn puts the key last — so a new
    // user column must sit last among the user columns or no future
    // batch could ever match the fingerprint
    val at = cur.fieldNames.indexOf(snap.keyName) match {
      case -1 => cur.fields.length
      case i  => i
    }
    val nf = org.apache.spark.sql.types.StructField(name, dataType, nullable = true)
    val widened = org.apache.spark.sql.types.StructType(
      cur.fields.patch(at, Seq(nf), 0))
    commitNext(spark, path, snap.next(snap.files, "evolve",
      schemaHash = Some(schemaHashOf(widened)), schema = Some(widened)))
  }

  /** DROP COLUMN — the narrowing twin of [[addColumn]]: commit snapshot
    * N+1 with the SAME files and the narrowed recorded schema. The
    * scan simply stops requesting the column (files keep the bytes
    * until a rewrite/compaction/vacuum cycles them out), appends must
    * no longer carry it, and time travel before the drop still reads
    * it. The name goes on the snapshot's TOMBSTONE list (`dropped=`):
    * without per-field ids, re-adding the same name would resurrect
    * stale values from any file not rewritten since the drop, so
    * [[addColumn]] refuses tombstoned names. Refuses the cluster key
    * and recorded stats columns (drop the pruning contract knowingly —
    * rewrite with new statsCols — not by accident).
    */
  def dropColumn(spark: SparkSession, path: String, name: String): TableSnapshot = {
    val snap = writableHead(spark, path, "dropColumn")
    val cur = snap.schema.getOrElse(throw new IllegalStateException(
      s"dropColumn: snapshot v${snap.version} under $path records no schema " +
      "(pre-evolution era) — append or rewrite once to record it"))
    require(cur.fieldNames.contains(name),
      s"dropColumn: table at $path has no column '$name'")
    require(name != snap.keyName,
      s"dropColumn: '$name' is the cluster key — the layout contract; " +
      "rewrite the table under a new key instead")
    require(!snap.statsCols.contains(name),
      s"dropColumn: '$name' carries per-file pruning stats; rewrite the " +
      "table with new statsCols instead of silently voiding the contract")
    val narrowed = org.apache.spark.sql.types.StructType(
      cur.fields.filterNot(_.name == name))
    // a CHECK constraint still referencing the column would make every
    // future batch verification fail analysis — refuse the drop with
    // the constraint named. Resolution-checked (analysis only, no
    // jobs), not text-matched: `l_qty >= 0` must not block dropping
    // `l_q`.
    snap.constraints.foreach { case (cname, sql) =>
      val ok = scala.util.Try(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], narrowed)
          .filter(expr(sql)).queryExecution.analyzed).isSuccess
      require(ok,
        s"dropColumn: CHECK constraint '$cname' ($sql) references '$name' — " +
        "drop the constraint first")
    }
    commitNext(spark, path, snap.next(snap.files, "evolve",
      schemaHash = Some(schemaHashOf(narrowed)), schema = Some(narrowed),
      droppedCols = snap.droppedCols :+ name))
  }

  /** Committed APPEND — the micro-batch ingest step: write `df` (keyed
    * by `key`, sorted, `nFiles` shards) into a hidden staging dir, move
    * the new files in under fresh names, then commit snapshot N+1 =
    * snapshot N's entries + the new files' entries. Readers on snapshot
    * N never see the batch; the moment the commit renames in, they see
    * all of it. The existing table is NEVER read, shuffled, or
    * rewritten — cost ∝ the batch, the property that makes a thousand
    * appends/day viable until [[compactFiles]] folds the smalls.
    * Requires an existing committed table (create with
    * [[writeClustered]]); refuses a key-name mismatch.
    *
    * CONCURRENCY (optimistic, the Delta/Iceberg discipline): appends
    * COMMUTE — two concurrent batches touch disjoint fresh files — so
    * unlike rewrites, an append losing the version race doesn't refuse:
    * it re-reads the winner's snapshot, rebases (winner's file list +
    * its own already-moved files; the staged data is never rewritten)
    * and retries the commit, up to `maxRetries` times. The atomic
    * no-clobber rename inside [[commitSnapshot]] is the arbiter, so
    * exactly one committer wins each version and nobody's files are
    * lost. Rewrites (writeClustered/compactFiles) keep the loud
    * single-writer refusal: they do NOT commute.
    *
    * SCHEMA: the batch's fingerprint (key column included) must match
    * the snapshot's recorded [[schemaHashOf]] — a drifted batch is
    * refused BEFORE anything is staged, instead of committing data that
    * poisons every later committed read with a merge error. Snapshots
    * from before the fingerprint existed skip the check and this commit
    * records the batch's hash going forward.
    *
    * IDEMPOTENCE (`txn`): pass `Some(writerId -> batchId)` and the
    * append becomes exactly-once per (writer, batch): if any retained
    * snapshot already records `writerId` at a batch id >= `batchId`, the
    * call returns the current snapshot WITHOUT staging or committing
    * anything — the foreachBatch-replay and restart-recovery no-op. Batch
    * ids per writer must be monotone (Structured Streaming's contract).
    *
    * `onFilesStaged` is a fault-injection seam (tests schedule a
    * concurrent vacuum in the move-in/commit window); production callers
    * leave the default.
    */
  def appendClustered(df: DataFrame, path: String, key: Column,
      nFiles: Int, maxRetries: Int = 10,
      txn: Option[(String, Long)] = None,
      onFilesStaged: () => Unit = () => ()): TableSnapshot = {
    val spark = df.sparkSession
    val prev0 = writableHead(spark, path, "appendClustered")
    val keyName = prev0.keyName
    txn.foreach { case (app, id) =>
      if (prev0.txns.get(app).exists(_ >= id)) return prev0 // replayed batch
    }
    val batch = df.withColumn(keyName, key)
    val batchHash = schemaHashOf(batch.schema)
    prev0.schemaHash.foreach { expect =>
      require(expect == batchHash,
        s"appendClustered: batch schema (hash $batchHash, columns " +
        batch.schema.fieldNames.mkString("[", ",", "]") +
        s") does not match the committed table's recorded schema (hash $expect) " +
        s"under $path — refusing the append before it poisons committed reads")
    }
    // the batch must satisfy every recorded CHECK constraint before a
    // byte is staged — cost ∝ the batch (one combined aggregate)
    verifyConstraints(batch, prev0.constraints, "appendClustered")
    val moved = stageAndMoveIn(batch, path, "append", keyName, nFiles)
    val mine = snapshotEntries(spark, path, keyName, moved, prev0.statsCols)
    onFilesStaged()
    var attempt = 0
    while (true) {
      val prev = latestSnapshot(spark, path).getOrElse(prev0)
      require(prev.keyName == keyName,
        s"appendClustered: table key changed underneath ($keyName -> ${prev.keyName})")
      require(prev.statsCols == prev0.statsCols,
        s"appendClustered: table stats columns changed underneath " +
        s"(${prev0.statsCols.mkString(",")} -> ${prev.statsCols.mkString(",")})")
      require(prev.constraints == prev0.constraints,
        s"appendClustered: table CHECK constraints changed underneath — " +
        "the staged batch was verified against the old list; re-run the append")
      txn.foreach { case (app, id) =>
        if (prev.txns.get(app).exists(_ >= id)) {
          // a racing replay of the SAME (writer, batch) won the commit:
          // our staged files are duplicates — drop them, return the winner
          moved.foreach(n =>
            fsOf(spark, path).delete(new org.apache.hadoop.fs.Path(s"$path/$n"), false))
          return prev
        }
      }
      val snap = prev.next(prev.files ++ mine, "append",
        schemaHash = prev.schemaHash.orElse(Some(batchHash)), txns = prev.txns ++ txn,
        schema = prev.schema.orElse(Some(batch.schema)))
      try {
        commitSnapshot(spark, path, snap)
        return snap
      } catch {
        case _: IllegalStateException if attempt < maxRetries =>
          attempt += 1 // lost the version race — rebase on the winner and retry
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** DESCRIBE HISTORY — the manifest log as a DataFrame: one row per
    * RETAINED snapshot with (version, op, n_files, n_rows, txns). Cost
    * is planning-state only — the small manifest files are read, never
    * a data file — so auditing a 100 TB table's commit history is free
    * at any size (the Delta DESCRIBE HISTORY analog over plain
    * parquet). Vacuumed versions are absent by definition; `txns`
    * renders the cumulative writer high-water marks sorted, so an
    * ingest's exactly-once state is inspectable per version.
    */
  def describeHistory(spark: SparkSession, path: String): DataFrame = {
    val fs = fsOf(spark, path)
    val mdir = new org.apache.hadoop.fs.Path(path, ManifestDir)
    require(fs.exists(mdir), s"describeHistory: no committed table under $path")
    val versions = fs.listStatus(mdir)
      .flatMap(st => versionOf(st.getPath.getName).map(_ -> st.getPath))
      .sortBy(_._1)
    require(versions.nonEmpty, s"describeHistory: empty manifest log under $path")
    import spark.implicits._
    versions.toIndexedSeq.map { case (v, p) =>
      val s = readSnapshotFile(fs, p, v)
      (v, s.op, s.files.size.toLong, s.totalLiveRows,
        s.txns.toSeq.sortBy(_._1).map { case (w, b) => s"$w:$b" }.mkString(","))
    }.toDF("version", "op", "n_files", "n_rows", "txns")
  }

  /** Txn-only commit — the Delta empty-batch action: snapshot N+1 with
    * the SAME files and schema, only the (writer -> batchId) high-water
    * mark advanced. What lets a CDC consumer record progress across
    * source versions that materialize nothing on the sink (compactions,
    * already-mirrored evolves) instead of re-walking them on every run.
    * The op is `txn`, which both change feeds treat as adds-no-rows —
    * so a replica that is itself followed downstream stays feedable.
    * Idempotent: a recorded mark at or past `batchId` returns the
    * current snapshot without committing anything.
    */
  def commitTxn(spark: SparkSession, path: String, writer: String,
      batchId: Long): TableSnapshot = {
    val snap = writableHead(spark, path, "commitTxn")
    if (snap.txns.get(writer).exists(_ >= batchId)) return snap
    commitNext(spark, path, snap.next(snap.files, "txn",
      txns = snap.txns + (writer -> batchId)))
  }

  /** RESTORE — roll the table back to retained version `version` as a
    * NEW commit (Delta RESTORE semantics): snapshot N+1 re-lists
    * exactly version V's files, schema, stats contract and tombstones,
    * so readers see the old content under a new version while the full
    * history — including the commits being undone — stays
    * time-travelable until vacuum. Nothing is copied or rewritten: the
    * restored files are still on disk (they were referenced by the
    * retained snapshot V, which is exactly what [[vacuum]] preserves),
    * so RESTORE is a manifest-only commit at any table size.
    *
    * The txn high-water marks are carried forward from the CURRENT
    * snapshot, not V's: restore changes CONTENT, not ingest dedup
    * state — a streaming sink's already-committed batch ids must not
    * replay just because the data moved back (the Delta RESTORE rule).
    *
    * Change feeds: a restore is adds+deletes over a known file-list
    * diff, so [[tableChangesCdf]] crosses it with the usual pre/post
    * exceptAll legs and [[replicateCommitted]] applies it
    * incrementally; the adds-only [[tableChanges]] refuses (restores
    * can remove rows, which row-adds cannot express).
    *
    * Single-writer like every rewrite: losing the version race throws.
    * Restoring to the current content is legal and commits a no-op
    * restore (an explicit audit row in DESCRIBE HISTORY).
    */
  def restoreVersion(spark: SparkSession, path: String, version: Long): TableSnapshot = {
    val cur = writableHead(spark, path, "restoreVersion")
    require(version <= cur.version,
      s"restoreVersion: v$version is ahead of the table (latest v${cur.version})")
    val tgt = snapshotAt(spark, path, version) // throws if vacuumed
    // defense in depth: every restored file must still be on disk. A
    // retained manifest whose files are gone means retention was
    // bypassed (manual deletion, a foreign vacuum) — refuse with the
    // remedy instead of committing a snapshot that cannot be read.
    val fs = fsOf(spark, path)
    val missing = (tgt.files.map(_.name) ++
        tgt.files.flatMap(_.dv).map(_.name).distinct)
      .filterNot(n => fs.exists(new org.apache.hadoop.fs.Path(s"$path/$n")))
    require(missing.isEmpty,
      s"restoreVersion: ${missing.size} of v$version's files are no longer " +
      s"on disk under $path (e.g. ${missing.take(3).mkString(", ")}) — the " +
      "generation was reclaimed outside vacuum's retention contract; " +
      "restore from a replica or re-ingest instead")
    commitNext(spark, path, cur.next(tgt.files, "restore", keyName = tgt.keyName,
      schemaHash = tgt.schemaHash, statsCols = tgt.statsCols, schema = tgt.schema,
      droppedCols = tgt.droppedCols, constraints = tgt.constraints))
  }

  /** What [[deleteWhere]] did: file and row accounting for the commit. */
  final case class DeleteStats(
      nFilesTotal: Long, nFilesRewritten: Long, nRowsDeleted: Long,
      version: Long)

  /** Row-level DELETE on a committed table — the right-to-be-forgotten
    * operation a training corpus must serve without rewriting 100 TB:
    * only the files whose persisted stats boxes can possibly hold
    * matching rows are read and rewritten (pass the predicate's ranges
    * over the cluster key and/or recorded stats columns via
    * `scanRanges`; empty = conservatively rewrite every file), the
    * survivors are re-clustered under fresh names, and snapshot N+1
    * commits untouched files + the rewritten generation. History is
    * intact: time travel to the pre-delete snapshot still answers (the
    * old files are only logically deleted; vacuum reclaims them after
    * the horizon), and the change feed refuses to cross a delete —
    * row-adds cannot express removal. Single-writer like every rewrite:
    * losing the commit race fails loudly, staged files become
    * vacuum-able orphans.
    *
    * `predicate` is any Column over the table's rows; `scanRanges` is a
    * PLANNING hint, not a correctness input — rows matching `predicate`
    * in files outside the ranges would survive, so the ranges must
    * cover the predicate (the natural call passes the same bounds the
    * predicate states, as q_manifest_delete does). Returns the file and
    * row accounting plus the committed version.
    */
  def deleteWhere(spark: SparkSession, path: String, predicate: Column,
      scanRanges: Seq[(String, Long, Long)] = Nil,
      nFiles: Int = 0): DeleteStats = {
    val snap = writableHead(spark, path, "deleteWhere")
    val (affected, untouched) = Layout.affected(snap, scanRanges, "deleteWhere")
    if (affected.isEmpty)
      return DeleteStats(snap.files.size.toLong, 0L, 0L, snap.version)
    val src = readFiles(spark, path, snap, affected.map(_.name))
    // SQL DELETE semantics: only rows where the predicate is TRUE go;
    // a NULL predicate keeps its row (a bare !predicate would drop it)
    val keep = src.filter(!coalesce(predicate, lit(false)))
    val keptRows = keep.count()
    // live rows, not physical: readFiles already applied any deletion
    // vectors, so the rewrite MATERIALIZES them (rewritten entries
    // carry no DV) and the accounting must start from the live count
    val deleted = affected.map(_.liveRows).sum - keptRows
    if (deleted == 0L)
      return DeleteStats(snap.files.size.toLong, 0L, 0L, snap.version)
    require(untouched.nonEmpty || keptRows > 0L,
      s"deleteWhere would empty the table at $path entirely — a committed " +
      "snapshot must list at least one file; drop the table instead")
    val movedEntries = stageGeneration(spark, path, snap, keep, "delete",
      if (nFiles > 0) nFiles else affected.size, keptRows, "deleteWhere")
    val next = commitNext(spark, path, snap.next(untouched ++ movedEntries, "delete"))
    DeleteStats(snap.files.size.toLong, affected.size.toLong, deleted, next.version)
  }

  /** What [[deleteWhereDv]] did. `nRowsDeleted` counts NEWLY deleted
    * live rows (positions already in an existing DV are not re-counted);
    * `nFilesDvUpdated` the files whose DV ref was written or re-pointed;
    * `nFilesDropped` the files every live row of which is now deleted
    * (removed from the snapshot list outright instead of carrying a
    * full-file DV).
    */
  final case class DvDeleteStats(
      nFilesTotal: Long, nFilesDvUpdated: Long, nFilesDropped: Long,
      nRowsDeleted: Long, version: Long)

  /** The body the deletion-vector verbs share ([[deleteWhereDv]],
    * [[updateWhereDv]]): mark the rows of `live` (the positioned live
    * rows of `affected`) that match `predicate` deleted, and commit that
    * with the files `images` stages from the matched rows and their
    * count (an UPDATE's new images; none for a DELETE) as ONE `op`
    * commit. Each file's new positions are folded with its existing DV,
    * so its one new ref covers its full deleted set; a file whose every
    * row is now deleted leaves the list instead of carrying a full-file
    * DV. Stats count the files re-pointed and dropped and the rows
    * matched; nothing is committed when no row matches.
    */
  private def markDeleted(spark: SparkSession, path: String, snap: TableSnapshot,
      affected: Seq[SnapshotFile], live: DataFrame, predicate: Column,
      dvShards: Int, op: String, who: String)(
      images: (DataFrame, Long) => Seq[SnapshotFile]): DvDeleteStats = {
    // persisted: the predicate scan over the affected files' bytes is
    // the dominant cost, and the count, the positions and the images
    // all read this (∝ matched rows) frame
    val matched = live.filter(coalesce(predicate, lit(false)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nMatched = matched.count()
      if (nMatched == 0L)
        return DvDeleteStats(snap.files.size.toLong, 0L, 0L, 0L, snap.version)
      val newPos = matched.select(col("_graft_dv_file").as("file"),
        col("_graft_dv_pos").as("pos"))
      val merged = dvPositions(spark, path, affected.flatMap(f => f.dv.map(f.name -> _)))
        .fold(newPos)(newPos.unionByName(_)).distinct()
      // per-file deleted counts: bounded by the affected file count
      val counts = merged.groupBy(col("file"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val byRows = affected.map(f => f.name -> f.rows).toMap
      val dropped = counts.collect {
        case (n, c) if c == byRows(n) => n
      }.toSet
      val survivors = snap.files.filterNot(f => dropped.contains(f.name))
      // the images stage before the sidecar; a crash at any point before
      // the commit leaves only vacuum-able orphans (vacuum's sweep
      // covers dv-* too)
      val added = images(matched.drop("_graft_dv_file", "_graft_dv_pos"), nMatched)
      require(survivors.nonEmpty || added.nonEmpty,
        s"$who would empty the table at $path entirely — a committed " +
        "snapshot must list at least one file; drop the table instead")
      val refOf = stageDvSidecar(spark, path, merged, counts, dropped, dvShards)
      val next = commitNext(spark, path, snap.next(survivors.map(f =>
        refOf.get(f.name).fold(f)(ref => f.copy(dv = Some(ref)))) ++ added, op))
      DvDeleteStats(snap.files.size.toLong, refOf.size.toLong,
        dropped.size.toLong, nMatched, next.version)
    } finally { matched.unpersist(false): Unit }
  }

  /** Stage a deletion-vector positions sidecar and derive each data
    * file's new ref. `merged` holds the FULL per-file position sets
    * (old folded with new, already distinct); positions of fully-deleted
    * files are excluded here. Writes `dvShards` hash-partitioned-by-file
    * parquet shards (each data file's positions land in exactly one)
    * under a hidden `.dvdelete-*` staging dir, moves them in as `dv-*`,
    * and maps each file to (its shard, its position count) with one
    * column-pruned scan of the sidecar — bounded by the affected file
    * count. Returns empty when every counted file is dropped.
    */
  private def stageDvSidecar(spark: SparkSession, path: String,
      merged: DataFrame, counts: Map[String, Long], dropped: Set[String],
      dvShards: Int): Map[String, DvRef] = {
    if (counts.keySet.forall(dropped.contains)) return Map.empty
    val keepPos = if (dropped.isEmpty) merged
      else merged.filter(!col("file").isin(dropped.toSeq: _*))
    val moved = moveIn(keepPos.repartition(dvShards, col("file")), path, "dvdelete", "dv")
    spark.read.parquet(moved.map(n => s"$path/$n"): _*)
      .withColumn("dvfile", input_file_name())
      .groupBy(col("file"))
      .agg(min(col("dvfile")).as("dvfile"), count(lit(1)).as("n"))
      .collect()
      .map { r =>
        val dvName = new org.apache.hadoop.fs.Path(r.getString(1)).getName
        r.getString(0) -> DvRef(dvName, r.getLong(2))
      }.toMap
  }

  /** Merge-on-read DELETE — the deletion-vector twin of [[deleteWhere]].
    * Instead of rewriting every affected data file (copy-on-write cost ∝
    * file bytes, even for a 10-row delete out of a 1 GB file), the
    * matching rows' PARQUET ROW POSITIONS are written to a small
    * positions sidecar (`dv-*.parquet`: file name, row index) and
    * snapshot N+1 repoints each affected file's [[DvRef]] — cost ∝ rows
    * deleted, never ∝ table bytes, which is what lets a 100 TB corpus
    * serve right-to-be-forgotten requests at interactive latency.
    * Committed reads apply DVs as a broadcast anti-join on (file,
    * position) above the scan ([[readFilesDv]]); rewrites
    * (compaction, copy-on-write mutations) MATERIALIZE them, so the
    * broadcast side stays bounded by deletes-since-last-rewrite.
    *
    * Semantics and contracts mirror [[deleteWhere]]: SQL DELETE NULL
    * handling (a NULL predicate keeps its row), `scanRanges` as a
    * covering planning hint, time travel to the pre-delete snapshot
    * still answering, single-writer commit. A file already carrying a
    * DV gets old + new positions folded into this commit's sidecar and
    * its ref repointed (one ref per file, never a union of DV
    * generations); a file whose every live row matches is dropped from
    * the snapshot entirely. The commit records op=deletedv — the
    * appends-only [[tableChanges]] feed refuses to cross it, and
    * [[tableChangesCdf]] surfaces exactly the newly-deleted rows (a
    * position diff, cost ∝ the delete). Snapshots carrying DVs stamp
    * `minreader=2` so a DV-unaware parser refuses instead of
    * resurrecting deleted rows.
    *
    * `dvShards` controls the sidecar's file count (positions are
    * hash-partitioned by data file, so each data file's positions land
    * in exactly one sidecar shard); 1 is right until a single delete
    * touches many millions of rows.
    */
  def deleteWhereDv(spark: SparkSession, path: String, predicate: Column,
      scanRanges: Seq[(String, Long, Long)] = Nil,
      dvShards: Int = 1): DvDeleteStats = {
    require(dvShards >= 1, "deleteWhereDv: dvShards must be >= 1")
    val snap = writableHead(spark, path, "deleteWhereDv")
    val (affected, _) = Layout.affected(snap, scanRanges, "deleteWhereDv")
    if (affected.isEmpty)
      return DvDeleteStats(snap.files.size.toLong, 0L, 0L, 0L, snap.version)
    markDeleted(spark, path, snap, affected,
      readFilesDv(spark, path, snap, affected.map(_.name), snap.dvRefs, positioned = true),
      predicate, dvShards, "deletedv", "deleteWhereDv")((_, _) => Nil)
  }

  /** What [[purgeDeletes]] did. */
  final case class PurgeStats(
      nFilesTotal: Long, nFilesPurged: Long, nRowsMaterialized: Long,
      version: Long)

  /** REORG / PURGE — the deletion-vector maintenance verb (Delta's
    * `REORG TABLE … APPLY (PURGE)`): rewrite ONLY the files whose
    * deleted fraction has crossed `minDeletedFraction`, materializing
    * their DVs into a fresh generation; every other file — DV'd or
    * not — carries forward byte-identical. This is what keeps the
    * merge-on-read read tax bounded on a 100 TB table: reads pay a
    * broadcast anti-join proportional to outstanding positions, purge
    * resets exactly the files where that tax concentrates, at rewrite
    * cost ∝ the purged files, never the table. Content-preserving by
    * construction (live rows in == physical rows out), so the commit
    * records op=purge and both change feeds cross it as a no-op, like
    * a compaction.
    *
    * `minDeletedFraction` = 0 purges every DV-carrying file; 0.3 is a
    * sensible maintenance default (rewrite once a third of a file is
    * dead). Files above the threshold but listed without a DV are
    * untouched — there is nothing to materialize.
    */
  def purgeDeletes(spark: SparkSession, path: String,
      minDeletedFraction: Double = 0.0, nFiles: Int = 0): PurgeStats = {
    require(minDeletedFraction >= 0.0 && minDeletedFraction <= 1.0,
      s"purgeDeletes: minDeletedFraction must be in [0,1], got $minDeletedFraction")
    val snap = writableHead(spark, path, "purgeDeletes")
    val (victims, untouched) = snap.files.partition(f => f.dv.exists(
      d => d.nDeleted.toDouble / f.rows >= minDeletedFraction))
    if (victims.isEmpty)
      return PurgeStats(snap.files.size.toLong, 0L, 0L, snap.version)
    // readFiles applies the victims' DVs — the rewrite IS the
    // materialization; survivors re-cluster under fresh names
    val live = readFiles(spark, path, snap, victims.map(_.name))
    val expect = victims.map(_.liveRows).sum
    val movedEntries = stageGeneration(spark, path, snap, live, "purge",
      if (nFiles > 0) nFiles else victims.size, expect, "purgeDeletes")
    val next = commitNext(spark, path, snap.next(untouched ++ movedEntries, "purge"))
    PurgeStats(snap.files.size.toLong, victims.size.toLong, expect, next.version)
  }

  /** What [[updateWhereDv]] did. */
  final case class DvUpdateStats(
      nFilesTotal: Long, nFilesDvUpdated: Long, nFilesDropped: Long,
      nRowsUpdated: Long, version: Long)

  /** Merge-on-read UPDATE — the deletion-vector twin of [[updateWhere]]
    * (how Delta executes UPDATE under DV feature enablement): the
    * matched rows' OLD images are marked deleted in a positions sidecar
    * (exactly [[deleteWhereDv]]'s mechanics, refs folded, fully-covered
    * files dropped) and their NEW images are appended as a fresh
    * clustered generation — ONE commit, op=updatedv, carrying both the
    * repointed refs and the added files. Cost ∝ rows updated (positions
    * + new rows), never ∝ the affected files' bytes — on a 100 TB table
    * a 10-row correction no longer rewrites 10 gigabyte-scale files.
    *
    * Semantics mirror [[updateWhere]]: assignments apply only where the
    * predicate is TRUE (NULL keeps the row), every SET expression is
    * cast back to its column's type so the schema fingerprint is
    * preserved by construction, updating the cluster key re-clusters
    * the new generation on the post-update values, and `scanRanges`
    * must cover the predicate. Already-deleted rows are excluded
    * BEFORE matching — a DV'd row that happens to satisfy the
    * predicate must not be resurrected as a fresh image. The adds-only
    * feed refuses to cross (updates are not row-adds);
    * [[tableChangesCdf]] surfaces old images from the position diff as
    * deletes and new images from the added files as inserts;
    * [[replicateCommitted]] follows through the same CDF legs.
    */
  def updateWhereDv(spark: SparkSession, path: String, predicate: Column,
      set: Seq[(String, Column)],
      scanRanges: Seq[(String, Long, Long)] = Nil,
      nFiles: Int = 0, dvShards: Int = 1): DvUpdateStats = {
    require(set.nonEmpty, "updateWhereDv: empty SET list")
    require(dvShards >= 1, "updateWhereDv: dvShards must be >= 1")
    val snap = writableHead(spark, path, "updateWhereDv")
    val (affected, _) = Layout.affected(snap, scanRanges, "updateWhereDv")
    if (affected.isEmpty)
      return DvUpdateStats(snap.files.size.toLong, 0L, 0L, 0L, snap.version)
    // LIVE rows only: an already-deleted row matching the predicate
    // must not come back as a fresh image
    val live = readFilesDv(spark, path, snap, affected.map(_.name), snap.dvRefs,
      positioned = true)
    requireSetColumns(live, set, path, "updateWhereDv")
    val d = markDeleted(spark, path, snap, affected, live, predicate, dvShards,
      "updatedv", "updateWhereDv") { (matched, nMatched) =>
      val updated = assign(matched, set, None)
      checkImages(snap, path, updated, "updateWhereDv")
      stageGeneration(spark, path, snap, updated, "update",
        if (nFiles > 0) nFiles else math.max(1, affected.size / 4), nMatched,
        "updateWhereDv")
    }
    DvUpdateStats(d.nFilesTotal, d.nFilesDvUpdated, d.nFilesDropped,
      d.nRowsDeleted, d.version)
  }

  /** Refuse a SET list naming a column `rows` lacks, before any job. */
  private def requireSetColumns(rows: DataFrame, set: Seq[(String, Column)],
      path: String, who: String): Unit = {
    val missing = set.map(_._1).filterNot(rows.columns.contains)
    require(missing.isEmpty,
      s"$who: table at $path has no column(s) ${missing.mkString(", ")} " +
      "— SET must name existing table columns")
  }

  /** `rows` with every SET expression applied (only where `cond` holds,
    * when one is given), each cast back to its column's type so the
    * schema fingerprint is preserved by construction, in the table's own
    * column order.
    */
  private def assign(rows: DataFrame, set: Seq[(String, Column)],
      cond: Option[Column]): DataFrame = {
    val setMap = set.toMap
    rows.select(rows.schema.fields.toIndexedSeq.map { f =>
      setMap.get(f.name) match {
        case Some(e) =>
          val v = e.cast(f.dataType)
          cond.fold(v)(when(_, v).otherwise(col(f.name))).as(f.name)
        case None => col(f.name)
      }
    }: _*)
  }

  /** Refuse the rows a commit is about to add unless they match the
    * table's recorded schema fingerprint and satisfy every CHECK
    * constraint — before a byte is staged.
    */
  private def checkImages(snap: TableSnapshot, path: String, rows: DataFrame,
      who: String): Unit = {
    snap.schemaHash.foreach { expect =>
      val got = schemaHashOf(rows.schema)
      require(got == expect,
        s"$who: rewritten schema (hash $got) does not match the table's " +
        s"recorded schema (hash $expect) under $path — column set or order drifted")
    }
    verifyConstraints(rows, snap.constraints, who)
  }

  /** What [[updateWhere]] did — same accounting as [[DeleteStats]]. */
  final case class UpdateStats(
      nFilesTotal: Long, nFilesRewritten: Long, nRowsUpdated: Long,
      version: Long)

  /** Row-level UPDATE on a committed table — `UPDATE t SET c = expr, …
    * WHERE predicate` with the same stats-pruned rewrite discipline as
    * [[deleteWhere]]: only files whose persisted boxes can hold
    * predicate-matching rows are read and rewritten; every other file
    * carries forward byte-identical. SQL UPDATE semantics: a row is
    * assigned only where the predicate is TRUE — a NULL predicate keeps
    * the row unchanged. Each assignment is cast back to the column's
    * existing type, so the table's recorded schema fingerprint is
    * preserved by construction (a SET list naming a column the table
    * lacks is refused before anything is staged). Updating the cluster
    * key itself is legal — the rewritten generation is re-clustered on
    * the key's post-update values, so the pruning contract survives.
    * History stays time-travelable until vacuum; the commit records
    * op=update, which the appends-only [[tableChanges]] feed refuses
    * (updates are not row-adds) and [[tableChangesCdf]] surfaces as
    * old-image delete + new-image insert pairs scoped to the rewritten
    * files. Single-writer like every rewrite.
    *
    * `scanRanges` is a PLANNING hint with the same contract as
    * [[deleteWhere]]'s: it must cover the predicate, or matching rows
    * in unplanned files silently keep their old values.
    */
  def updateWhere(spark: SparkSession, path: String, predicate: Column,
      set: Seq[(String, Column)],
      scanRanges: Seq[(String, Long, Long)] = Nil,
      nFiles: Int = 0): UpdateStats = {
    require(set.nonEmpty, "updateWhere: empty SET list")
    val snap = writableHead(spark, path, "updateWhere")
    val (affected, untouched) = Layout.affected(snap, scanRanges, "updateWhere")
    if (affected.isEmpty)
      return UpdateStats(snap.files.size.toLong, 0L, 0L, snap.version)
    val src = readFiles(spark, path, snap, affected.map(_.name))
    requireSetColumns(src, set, path, "updateWhere")
    val cond = coalesce(predicate, lit(false))
    val nUpdated = src.filter(cond).count()
    if (nUpdated == 0L)
      return UpdateStats(snap.files.size.toLong, 0L, 0L, snap.version)
    val updated = assign(src, set, Some(cond))
    // the post-update images must satisfy the CHECK constraints (the
    // untouched rows passed at their own commit time; one pass over
    // the affected files covers both)
    checkImages(snap, path, updated, "updateWhere")
    // live rows: readFiles applied any deletion vectors, so the rewrite
    // materializes them and the preservation check counts live rows
    val movedEntries = stageGeneration(spark, path, snap, updated, "update",
      if (nFiles > 0) nFiles else affected.size, affected.map(_.liveRows).sum,
      "updateWhere")
    val next = commitNext(spark, path, snap.next(untouched ++ movedEntries, "update"))
    UpdateStats(snap.files.size.toLong, affected.size.toLong, nUpdated, next.version)
  }

  /** What [[upsertCommitted]] did — same accounting as [[DeleteStats]]. */
  final case class UpsertStats(
      nFilesTotal: Long, nFilesRewritten: Long,
      nRowsBefore: Long, nRowsAfter: Long, version: Long)

  /** MERGE INTO the committed table — the CRUD completion of the log:
    * apply a CDC change set ([[graft.ops.SnapshotDiff.applyChangeSet]]
    * semantics: (idCol, version, op ∈ upsert|delete, payload), last
    * writer wins) by rewriting ONLY the files that can contain an
    * affected id. Planning is an interval probe of the change ids
    * against the per-file boxes of `idCol` (which must be the cluster
    * key or a recorded stats column): the file list is broadcast-sized,
    * so the probe is one bounded semi-join over the changes — never a
    * scan of the table. Inserts (change ids no file's box contains)
    * ride the rewritten generation; if NO file is affected (pure
    * insert batch), the smallest-box file anchors the rewrite so the
    * new rows still enter through applyChangeSet's join. Untouched
    * files carry forward byte-identical; snapshot N+1 commits with
    * op=upsert (the change feed refuses to cross it — updates are not
    * row-adds), history stays time-travelable until vacuum, and the
    * rewritten generation is re-clustered under `key` so the table's
    * pruning contract survives. Single-writer, like every rewrite.
    *
    * Scattered ids touch every file — that is physics, not a planner
    * gap; batch upserts by key range (what a clustered ingest produces
    * anyway) and the rewrite stays proportional to the batch's reach.
    *
    * `txn` gives merges the same exactly-once contract as
    * [[appendClustered]]'s: pass `Some(writerId -> batchId)` and a
    * batch id at or below the writer's recorded high-water mark returns
    * the current snapshot untouched — what lets [[replicateCommitted]]
    * resume after a crash without double-applying a version.
    */
  def upsertCommitted(spark: SparkSession, path: String, changes: DataFrame,
      idCol: String, payloadCols: Seq[String], key: Column,
      nFiles: Int = 0, txn: Option[(String, Long)] = None): UpsertStats = {
    require(payloadCols.nonEmpty)
    val snap = writableHead(spark, path, "upsertCommitted")
    txn.foreach { case (app, id) =>
      if (snap.txns.get(app).exists(_ >= id))
        return UpsertStats(snap.files.size.toLong, 0L,
          snap.totalLiveRows, snap.totalLiveRows, snap.version)
    }
    require(idCol == snap.keyName || snap.statsCols.contains(idCol),
      s"upsertCommitted: '$idCol' has no per-file stats in snapshot " +
      s"v${snap.version} (key=${snap.keyName}, stats=${snap.statsCols.mkString(",")}) " +
      "— create the table with statsCols including the merge key")
    val (affected, untouched) = probed(snap, idCol, changes, col(idCol).cast("long"))
    val src = readFiles(spark, path, snap, affected.map(_.name))
    val missing = (idCol +: payloadCols).filterNot(src.columns.contains)
    require(missing.isEmpty,
      s"upsertCommitted: table at $path has no column(s) " +
      s"${missing.mkString(", ")} — the change set's payload columns must " +
      "name existing table columns")
    val applied0 = graft.ops.SnapshotDiff.applyChangeSet(
      src.select(col(idCol) +: payloadCols.map(col): _*),
      changes, idCol, payloadCols)
    // restore the table's own column ORDER (applyChangeSet fronts the
    // id): the schema fingerprint is order-sensitive by design
    val applied = applied0.select(
      src.columns.filter(c => c == idCol || payloadCols.contains(c))
        .map(col).toIndexedSeq: _*)
    val keyName = snap.keyName
    val clustered = applied.withColumn(keyName, key)
    // the merged generation must satisfy the CHECK constraints
    checkImages(snap, path, clustered, "upsertCommitted")
    val keptRows = clustered.count()
    require(untouched.nonEmpty || keptRows > 0L,
      s"upsertCommitted would empty the table at $path entirely — a committed " +
      "snapshot must list at least one file; drop the table instead")
    val movedEntries = stageGeneration(spark, path, snap, clustered, "upsert",
      if (nFiles > 0) nFiles else affected.size, keptRows, "upsertCommitted")
    val next = commitNext(spark, path,
      snap.next(untouched ++ movedEntries, "upsert", txns = snap.txns ++ txn))
    UpsertStats(snap.files.size.toLong, affected.size.toLong,
      snap.totalLiveRows, next.totalLiveRows, next.version)
  }

  /** Default vacuum retention horizon: comfortably above any append's
    * move-in-to-commit latency (seconds), far below any sane maintenance
    * cadence. Delta defaults to 7 DAYS for the same guard; this table's
    * appends stage and commit in one process, so minutes suffice.
    */
  val DefaultVacuumRetentionMs: Long = 15L * 60 * 1000

  /** Retention vacuum: delete snapshot files older than the newest
    * `keepVersions`, then delete every data file referenced by NO
    * retained snapshot (compaction/append leftovers whose readers have
    * had `keepVersions` commits to finish). The latest snapshot's files
    * are always retained by construction; `keepVersions >= 1` enforced.
    * Returns (snapshots removed, data files removed).
    *
    * RETENTION HORIZON (`minAgeMs`): an orphan younger than the horizon
    * is NOT deleted. This is what makes vacuum safe against the
    * in-flight concurrent appends [[appendClustered]] legalizes: an
    * append moves its files into the directory BEFORE winning the
    * commit race, and in that window they are referenced by no snapshot
    * — indistinguishable from garbage except by age. With the default
    * horizon a racing append's seconds-old files survive and its commit
    * references live data; only failures older than the horizon are
    * reclaimed (the Delta vacuum discipline, file-mtime based —
    * rename preserves mtime, so a moved-in file's age is its staging
    * write time, never reset by the move). Pass `minAgeMs = 0` ONLY
    * when all writers are provably quiesced (single-writer test
    * lifecycles); it restores the delete-everything-unreferenced sweep.
    */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int,
      minAgeMs: Long = DefaultVacuumRetentionMs): (Int, Int) = {
    require(keepVersions >= 1, "vacuum: keepVersions must be >= 1")
    require(minAgeMs >= 0, "vacuum: minAgeMs must be >= 0")
    val fs = fsOf(spark, path)
    val mdir = new org.apache.hadoop.fs.Path(path, ManifestDir)
    if (!fs.exists(mdir)) return (0, 0)
    val versions = fs.listStatus(mdir)
      .flatMap(st => versionOf(st.getPath.getName).map(_ -> st.getPath))
      .sortBy(-_._1)
    val (kept, dropped) = versions.splitAt(keepVersions)
    // referenced = union of file lists across RETAINED snapshots —
    // including their deletion-vector sidecars (reclaiming a referenced
    // DV would resurrect its rows on the next read)
    val referenced = kept.flatMap { case (v, p) =>
      val s = readSnapshotFile(fs, p, v)
      s.files.map(_.name) ++ s.files.flatMap(_.dv).map(_.name)
    }.toSet
    val horizon = System.currentTimeMillis() - minAgeMs
    val listing = fs.listStatus(new org.apache.hadoop.fs.Path(path))
    val orphans = listing
      .filter(st => st.isFile &&
        (st.getPath.getName.startsWith("part-") ||
          st.getPath.getName.startsWith("dv-")) &&
        !referenced.contains(st.getPath.getName) &&
        st.getModificationTime < horizon)
    orphans.foreach(st => fs.delete(st.getPath, false))
    // crashed writers leak their hidden staging (.append-*/.compact-*/
    // .rewrite-* dirs, _manifests/.tmp-* bodies) — an always-on ingest
    // accumulates them forever without this sweep. Same age guard: a
    // LIVE writer's staging is younger than the horizon (a dir's mtime
    // moves whenever the writer adds files to it), a crashed one's is
    // frozen at the crash. Not counted in the returned pair, which
    // stays (snapshots removed, data files removed).
    listing
      .filter { st =>
        val n = st.getPath.getName
        st.isDirectory && st.getModificationTime < horizon &&
          (n.startsWith(".append-") || n.startsWith(".compact-") ||
            n.startsWith(".rewrite-") || n.startsWith(".delete-") ||
            n.startsWith(".upsert-") || n.startsWith(".update-") ||
            n.startsWith(".dvdelete-") || n.startsWith(".purge-"))
      }
      .foreach(st => fs.delete(st.getPath, true))
    fs.listStatus(mdir)
      .filter(st => st.isFile && st.getPath.getName.startsWith(".tmp-") &&
        st.getModificationTime < horizon)
      .foreach(st => fs.delete(st.getPath, false))
    dropped.foreach { case (_, p) => fs.delete(p, false) }
    (dropped.length, orphans.length)
  }

  /** Per-file snapshot entries for `names` (relative to `path`): one
    * column-pruned scan of just those files for rows + key box, one
    * listStatus for sizes. The plain-Spark equivalent of harvesting
    * writer-task parquet footers — it only ever touches the files being
    * committed, never the rest of the table.
    */
  private def snapshotEntries(
      spark: SparkSession, path: String, keyName: String,
      names: Seq[String], statsCols: Seq[String] = Nil): Seq[SnapshotFile] = {
    if (names.isEmpty) return Nil
    val fs = fsOf(spark, path)
    val reread = spark.read.parquet(names.map(n => s"$path/$n"): _*)
    statsCols.foreach { c =>
      // stats are persisted as Longs; a truncated double max could
      // WRONGLY prune a file whose true max still intersects the box —
      // silent data loss, so non-integral stats columns are refused
      import org.apache.spark.sql.types._
      val dt = reread.schema(c).dataType
      require(dt == LongType || dt == IntegerType || dt == ShortType || dt == ByteType,
        s"stats column '$c' has non-integral type ${dt.simpleString}; " +
        "persisted Long min/max would truncate and mis-prune")
    }
    val stats = fileManifest(reread, keyName +: statsCols).collect()
    stats.toIndexedSeq.map { r =>
      val name = new org.apache.hadoop.fs.Path(r.getString(r.fieldIndex("file"))).getName
      SnapshotFile(
        name,
        fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$path/$name")).getLen,
        r.getAs[Long]("n_rows"),
        r.getAs[Number](s"min_$keyName").longValue(),
        r.getAs[Number](s"max_$keyName").longValue(),
        statsCols.map(c => c -> ((
          r.getAs[Number](s"min_$c").longValue(),
          r.getAs[Number](s"max_$c").longValue()))).toMap)
    }
  }

  /** Write `df` clustered by `key` (range-partitioned into `nFiles`
    * shards, sorted inside each) and re-read it. The key column is kept
    * in the files under `keyName` — it is itself a useful coarse filter
    * column, and dropping it after the sort would invite a projection
    * collapse above the sort. Content is a permutation of the input;
    * only the LAYOUT changes — which is exactly what the oracle row
    * gates (parity) and LayoutSpec measures (row-group skipping).
    *
    * With `commit` (the default) the write ends by committing a new
    * table snapshot. On an ALREADY-COMMITTED table the rewrite is
    * HISTORY-PRESERVING: the new generation is written under fresh
    * `part-rewrite-*` names (staging dir + move-in, the append/compaction
    * discipline — the directory is never truncated), then snapshot N+1
    * is committed listing ONLY the new generation. Time travel across
    * the rewrite keeps answering from the old generation's files, there
    * is never a no-committed-snapshot window (readers hold N until the
    * instant N+1 exists), and [[vacuum]] reclaims the old generation
    * once the retention horizon passes. This includes the
    * upsert-materialization path, where an
    * [[graft.ops.SnapshotDiff.applyChangeSet]] result is written back
    * through this method. Rewrites are single-writer: losing the
    * version race fails loudly, the staged generation is left as
    * orphans for vacuum. Only a FIRST write (no log yet) or an
    * uncommitted write uses the plain directory overwrite — there is no
    * history to preserve.
    */
  def writeClustered(df: DataFrame, path: String, key: Column,
                     nFiles: Int, keyName: String = "cluster_key",
                     commit: Boolean = true,
                     txn: Option[(String, Long)] = None,
                     statsCols: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    val prev = if (commit) latestSnapshot(spark, path) else None
    val clustered = df.withColumn(keyName, key)
      .repartitionByRange(nFiles, col(keyName))
      .sortWithinPartitions(keyName)
    prev match {
      case Some(p) =>
        assertWritable(p, "writeClustered")
        // full rewrite of a committed table: new generation, old history
        // intact; the txn high-water marks survive (Delta semantics — a
        // rewrite changes content, not the ingest dedup state). The new
        // content is the whole future table, so it must satisfy every
        // recorded CHECK constraint before a byte is staged
        verifyConstraints(clustered, p.constraints, "writeClustered")
        val moved = moveIn(clustered, path, "rewrite", "part-rewrite")
        // a rewrite keeps the table's pruning contract unless the caller
        // explicitly redefines it
        val sc = if (statsCols.nonEmpty) statsCols else p.statsCols
        commitSnapshot(spark, path, p.next(
          snapshotEntries(spark, path, keyName, moved, sc), "rewrite",
          keyName = keyName, schemaHash = Some(schemaHashOf(clustered.schema)),
          txns = p.txns ++ txn, statsCols = sc, schema = Some(clustered.schema),
          // tombstones CLEAR on a full rewrite: every file this snapshot
          // lists was just written through the current schema, so no
          // live file can resurrect a previously-dropped column's bytes
          droppedCols = Nil))
        readCommitted(spark, path)
      case None =>
        clustered.write.mode("overwrite").parquet(path)
        if (commit) {
          val names = fsOf(spark, path)
            .listStatus(new org.apache.hadoop.fs.Path(path))
            .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
            .map(_.getPath.getName).toIndexedSeq
          commitSnapshot(spark, path, TableSnapshot(
            1L, keyName, snapshotEntries(spark, path, keyName, names, statsCols),
            Some(schemaHashOf(clustered.schema)), txn.iterator.toMap,
            op = "create", statsCols = statsCols,
            schema = Some(clustered.schema)))
        }
        spark.read.parquet(path)
    }
  }
}
