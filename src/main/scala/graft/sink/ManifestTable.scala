package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.ingest.ParquetRead

/** Snapshot-isolated parquet table with a manifest log — the minimal
  * time-travel table format (the Delta/Iceberg idea reduced to its
  * load-bearing core): data files are IMMUTABLE once written, and a
  * numbered manifest names the exact file set of each version, so
  *
  *  - readers never see a half-written commit (they read the file
  *    list from a manifest that only exists once complete),
  *  - concurrent writers serialize on manifest creation (rename onto
  *    an existing name fails → re-read the head and retry), and
  *  - any historical version stays readable (`readVersion`) until a
  *    retention pass deletes unreferenced data dirs.
  *
  * Layout: `<path>/data/d-<uuid>/` parquet dirs (one per commit) and
  * `<path>/_manifests/v%05d.manifest` text files — line 1 the version,
  * each further line one data dir name relative to `<path>` (a
  * deliberately trivial format: atomic visibility comes from the
  * rename, not the encoding). `append` carries the parent's dirs
  * forward; `overwrite` starts the list fresh.
  *
  * Scale shape: a commit is one parquet write (cluster-parallel) plus
  * one driver-side manifest rename; a read is `spark.read.parquet`
  * over the listed dirs — partition pruning, pushdown, and schema
  * merge behave exactly as on any parquet path set. The manifest is
  * O(commits) lines, not O(files): compaction/retention would rewrite
  * it the same way commits do. On object stores without atomic rename
  * the manifest step needs a put-if-absent primitive (the same caveat
  * every log-structured table format documents).
  */
object ManifestTable {

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(path: String) = new Path(path, "_manifests")

  private val ManifestName = "v(\\d{5})\\.manifest".r

  /** Committed versions, ascending (empty for a fresh path). */
  def versions(spark: SparkSession, path: String): Seq[Int] = {
    val d = manifestDir(path)
    val f = fs(spark, path)
    if (!f.exists(d)) Seq.empty
    else
      f.listStatus(d).toSeq.map(_.getPath.getName).collect {
        case ManifestName(v) => v.toInt
      }.sorted
  }

  /** All manifest lines (markers included) of a version. */
  private def manifestLines(
      spark: SparkSession, path: String, version: Int): Seq[String] = {
    val p = new Path(manifestDir(path), f"v$version%05d.manifest")
    val f = fs(spark, path)
    val in = f.open(p)
    try {
      val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      require(lines.headOption.contains(version.toString),
        s"manifest $p corrupt: header ${lines.headOption} != $version")
      lines.tail.filter(_.nonEmpty)
    } finally in.close()
  }

  /** Data dirs of a version (`#`-prefixed marker lines carry commit
    * metadata — batch ids, compaction provenance — and are not dirs).
    */
  private def readManifest(
      spark: SparkSession, path: String, version: Int): Seq[String] =
    manifestLines(spark, path, version).filterNot(_.startsWith("#"))

  private def commit(
      df: DataFrame, path: String, carryParent: Boolean,
      markers: Seq[String] = Nil): Int = {
    val spark = df.sparkSession
    val f = fs(spark, path)
    val dataDir = s"data/d-${java.util.UUID.randomUUID().toString}"
    df.write.parquet(new Path(path, dataDir).toString)
    val mdir = manifestDir(path)
    f.mkdirs(mdir)
    var attempt = 0
    while (attempt < 20) {
      val head = versions(spark, path).lastOption
      val next = head.getOrElse(0) + 1
      val parentDirs =
        if (carryParent) head.map(readManifest(spark, path, _)).getOrElse(Nil)
        else Nil
      val body = ((next.toString +: markers) ++ (parentDirs :+ dataDir))
        .mkString("\n")
      val tmp = new Path(mdir, s".tmp-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, false)
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val target = new Path(mdir, f"v$next%05d.manifest")
      // atomic publish-if-absent: a concurrent writer winning this
      // version makes the publish FAIL -> re-read the head, retry
      val won = publishIfAbsent(f, tmp, target)
      f.delete(tmp, false): Unit
      if (won) return next
      attempt += 1
    }
    throw new IllegalStateException(
      s"could not commit to $path after 20 attempts (livelock?)")
  }

  /** Make `target` exist with `tmp`'s contents IFF it does not exist,
    * atomically. On local filesystems Hadoop's `rename` is POSIX
    * `renameTo`, which silently OVERWRITES an existing destination —
    * an exists()-then-rename CAS loses a racing commit (caught by
    * ManifestTableSpec's racing-committers test). `Files.createLink`
    * is `link(2)`: it fails with EEXIST atomically, which is exactly
    * the needed primitive. On HDFS-like filesystems rename-without-
    * overwrite is itself atomic, so the rename path is correct there.
    */
  private def publishIfAbsent(
      f: org.apache.hadoop.fs.FileSystem, tmp: Path, target: Path): Boolean =
    if (f.getScheme == "file") {
      def local(p: Path) = java.nio.file.Paths.get(p.toUri.getPath)
      try {
        java.nio.file.Files.createLink(local(target), local(tmp))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else !f.exists(target) && f.rename(tmp, target)

  /** Commit `df` as a new version containing the parent version's data
    * plus this batch. Returns the committed version number.
    */
  def append(df: DataFrame, path: String): Int =
    commit(df, path, carryParent = true)

  /** Commit `df` as a new version REPLACING the table contents (prior
    * versions stay readable). Returns the committed version number.
    */
  def overwrite(df: DataFrame, path: String): Int =
    commit(df, path, carryParent = false)

  private val LedgerName = "b-.*\\.ledger".r

  /** How many batch ids behind the newest committed id the explicit
    * ledger retains (the Delta `setTransaction`-retention idea): a
    * micro-batch can only be REPLAYED while its id is at or above the
    * sink checkpoint's frontier, and the frontier is within one or two
    * batches of the max — so ids more than this far behind are folded
    * into a single `#batchFloor:` watermark ("everything at or below N
    * is committed") instead of being enumerated forever. Without a
    * horizon, the compacted manifest, the ledger bytes, and every
    * `appendIdempotent` membership check grow O(total batches ever).
    */
  val BatchIdRetentionDefault: Long = 10000L

  private def ledgerFiles(spark: SparkSession, path: String): Seq[Path] = {
    val d = manifestDir(path)
    val f = fs(spark, path)
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq
      .filter(s => LedgerName.pattern.matcher(s.getPath.getName).matches())
      .map(_.getPath)
  }

  /** Batch-id lines preserved by [[vacuum]] from deleted manifests —
    * without this, retention would forget ledger entries and a late
    * `appendIdempotent` replay of an old micro-batch could double-commit.
    */
  private def ledgerLines(spark: SparkSession, path: String): Seq[String] = {
    val f = fs(spark, path)
    ledgerFiles(spark, path).flatMap { p =>
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
  }

  private def allLedgerMarkerLines(spark: SparkSession, path: String): Seq[String] =
    versions(spark, path).flatMap(v => manifestLines(spark, path, v)) ++
      ledgerLines(spark, path)

  /** Batch ids EXPLICITLY recorded as committed (`#batch:` markers
    * across all manifests plus vacuum's ledger sidecars). Pair with
    * [[committedBatchFloor]]: ids at or below the floor are committed
    * too, but no longer enumerated — [[isBatchCommitted]] is the
    * membership test writers should use.
    */
  def committedBatchIds(spark: SparkSession, path: String): Set[Long] =
    allLedgerMarkerLines(spark, path).collect {
      case s if s.startsWith("#batch:") => s.stripPrefix("#batch:").toLong
    }.toSet

  /** The batch-id watermark: every id at or below this is committed
    * (folded by [[compact]]/[[vacuum]] under the retention horizon).
    * Long.MinValue when no fold has happened yet.
    */
  def committedBatchFloor(spark: SparkSession, path: String): Long =
    (Long.MinValue +: allLedgerMarkerLines(spark, path).collect {
      case s if s.startsWith("#batchFloor:") =>
        s.stripPrefix("#batchFloor:").toLong
    }).max

  /** The idempotence membership test: committed iff at/below the
    * folded floor or explicitly enumerated.
    */
  def isBatchCommitted(spark: SparkSession, path: String, batchId: Long): Boolean =
    batchId <= committedBatchFloor(spark, path) ||
      committedBatchIds(spark, path).contains(batchId)

  /** Exactly-once streaming append: commit `df` tagged with its
    * micro-batch id, SKIPPING the commit (returns None) if that batch
    * id is already in the ledger — the `foreachBatch` sink contract
    * that makes checkpoint-recovery replays (and full from-scratch
    * replays of a deterministic source) idempotent. Returns the
    * committed version otherwise.
    */
  def appendIdempotent(
      df: DataFrame, path: String, batchId: Long): Option[Int] = {
    if (isBatchCommitted(df.sparkSession, path, batchId)) None
    else Some(commit(df, path, carryParent = true,
      markers = Seq(s"#batch:$batchId")))
  }

  /** Rewrite the head version's file set into ONE data dir and commit
    * it as a new version (older versions stay readable until
    * [[vacuum]]). The small-files remedy: a long append history reads
    * as one dir afterwards. The batch-id ledger rides along as markers
    * on the compacted manifest, FOLDED under the retention horizon:
    * ids more than `batchIdRetention` behind the max collapse into one
    * `#batchFloor:` watermark, so the manifest stays O(retention), not
    * O(total batches ever). Returns the committed version.
    */
  def compact(
      spark: SparkSession, path: String,
      batchIdRetention: Long = BatchIdRetentionDefault): Int = {
    val (floor, recent) = foldBatchIds(
      committedBatchIds(spark, path), committedBatchFloor(spark, path),
      batchIdRetention)
    val floorMarker =
      if (floor == Long.MinValue) Seq.empty else Seq(s"#batchFloor:$floor")
    commit(readLatest(spark, path), path, carryParent = false,
      markers = "#compact" +: (floorMarker ++
        recent.toSeq.sorted.map(id => s"#batch:$id")))
  }

  /** Fold `(explicit ids, current floor)` under the retention horizon:
    * the new floor absorbs every id more than `retention` behind the
    * max known id; ids above it stay enumerated. Contiguity is NOT
    * assumed — the floor only ever moves to `max - retention`, and a
    * replay of an id that old is impossible once the sink checkpoint
    * has advanced `retention` batches past it.
    */
  private def foldBatchIds(
      ids: Set[Long], floor: Long, retention: Long): (Long, Set[Long]) = {
    require(retention >= 0, s"retention must be >= 0, got $retention")
    val maxKnown = (ids + floor).max
    if (maxKnown == Long.MinValue) (floor, ids)
    else {
      val cand =
        if (maxKnown < Long.MinValue + retention) Long.MinValue
        else maxKnown - retention
      // only materialize a floor once it absorbs something (or one
      // already exists) — a young table stays marker-free
      val newFloor =
        if (floor > Long.MinValue || ids.exists(_ <= cand))
          math.max(floor, cand)
        else Long.MinValue
      (newFloor, ids.filter(_ > newFloor))
    }
  }

  /** Default vacuum grace window: an unreferenced data dir younger than
    * this is left alone. A concurrent committer writes its data dir
    * BEFORE publishing its manifest — reclaiming young dirs would
    * delete a racing commit's files between those two steps and leave
    * the winner's manifest pointing at nothing (the same age-based
    * retention rule Delta's `deletedFileRetentionDuration` and
    * Iceberg's `expire_snapshots` apply).
    */
  val DefaultVacuumGraceMs: Long = 15 * 60 * 1000L

  /** Retention: keep the newest `keepVersions` manifests, delete every
    * older manifest AND every data dir no kept version references —
    * except dirs younger than `graceMs` (see [[DefaultVacuumGraceMs]];
    * pass 0 only when no writer can be in flight). `#batch:` markers on
    * deleted manifests are first carried into an immutable ledger
    * sidecar so [[committedBatchIds]] never forgets them. Time travel
    * to a vacuumed version then fails loudly at [[readVersion]]'s
    * version check instead of half-reading. Returns the deleted data
    * dirs.
    */
  def vacuum(
      spark: SparkSession, path: String, keepVersions: Int,
      graceMs: Long = DefaultVacuumGraceMs,
      batchIdRetention: Long = BatchIdRetentionDefault): Seq[String] = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val f = fs(spark, path)
    val all = versions(spark, path)
    val (drop, keep) = all.splitAt(math.max(0, all.length - keepVersions))
    val referenced = keep.flatMap(readManifest(spark, path, _)).toSet
    val dataRoot = new Path(path, "data")
    val now = System.currentTimeMillis()
    val unreferenced =
      if (!f.exists(dataRoot)) Seq.empty
      else f.listStatus(dataRoot).toSeq
        .filter(s => now - s.getModificationTime >= graceMs)
        .map(s => s"data/${s.getPath.getName}")
        .filterNot(referenced.contains)
    // merged ledger BEFORE any deletion (crash between the steps
    // leaves a harmless duplicate, never a forgotten batch id): the
    // new sidecar absorbs the dropped manifests' ids AND every prior
    // sidecar, folded under the retention horizon — so the ledger is
    // always at most ONE file of O(retention) lines, instead of one
    // ever-growing file per vacuum that committedBatchIds re-reads on
    // every micro-batch.
    val keptIds = keep.flatMap(v => manifestLines(spark, path, v).collect {
      case s if s.startsWith("#batch:") => s.stripPrefix("#batch:").toLong
    }).toSet
    val priorLedgers = ledgerFiles(spark, path)
    val droppedIds = drop.flatMap(v => manifestLines(spark, path, v).collect {
      case s if s.startsWith("#batch:") => s.stripPrefix("#batch:").toLong
    }).toSet ++ ledgerLines(spark, path).collect {
      case s if s.startsWith("#batch:") => s.stripPrefix("#batch:").toLong
    }
    val (floor, recent) = foldBatchIds(
      droppedIds ++ keptIds, committedBatchFloor(spark, path),
      batchIdRetention)
    val orphanIds = recent.diff(keptIds)
    if (orphanIds.nonEmpty || floor != Long.MinValue) {
      val p = new Path(manifestDir(path),
        s"b-${java.util.UUID.randomUUID()}.ledger")
      val out = f.create(p, false)
      val floorLine =
        if (floor == Long.MinValue) Seq.empty else Seq(s"#batchFloor:$floor")
      try out.write(
        (floorLine ++ orphanIds.toSeq.sorted.map(id => s"#batch:$id"))
          .mkString("\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // superseded sidecars next (their content now lives in the merged
    // one), then manifests: a reader that still resolves a dropped
    // version mid-vacuum fails at the version check, not at a missing
    // file
    priorLedgers.foreach(p => f.delete(p, false): Unit)
    drop.foreach(v =>
      f.delete(new Path(manifestDir(path), f"v$v%05d.manifest"), false): Unit)
    unreferenced.foreach(d => f.delete(new Path(path, d), true): Unit)
    unreferenced
  }

  /** Change-data capture between two committed versions: the multiset
    * row difference, tagged `added` (in `toVersion`, not in
    * `fromVersion`) or `removed` (vice versa) in a leading `change`
    * column — what an incremental consumer processes instead of
    * re-reading the table. Multiset semantics (`exceptAll`): a row
    * whose duplicate count grew shows the extra copies as added.
    *
    * Shape at scale: two version reads and two exceptAll passes —
    * each a hash aggregation over the union, shuffled by full row.
    * For append-only histories the manifest offers the cheaper path
    * (read only the data dirs the later version added); this form is
    * the general one that also survives overwrite/compaction rewrites.
    */
  def diff(
      spark: SparkSession, path: String,
      fromVersion: Int, toVersion: Int): DataFrame = {
    val from = readVersion(spark, path, fromVersion)
    val to = readVersion(spark, path, toVersion)
    to.exceptAll(from).select(lit("added").as("change"), col("*"))
      .unionByName(
        from.exceptAll(to).select(lit("removed").as("change"), col("*")))
  }

  /** Incremental read for append-only histories: the rows `toVersion`
    * added over `fromVersion`, read DIRECTLY from the data dirs the
    * later manifest added — no exceptAll, no shuffle, no scan of the
    * carried-forward dirs (at 100 TB that is the difference between an
    * incremental consumer reading one day and re-reading the table).
    * Throws if the lineage is not append-only between the two versions
    * (an overwrite or compaction rewrote dirs — use [[diff]] there,
    * which pays the general-case cost).
    */
  def readAppended(
      spark: SparkSession, path: String,
      fromVersion: Int, toVersion: Int): DataFrame = {
    require(versions(spark, path).contains(fromVersion),
      s"version $fromVersion not committed at $path")
    require(versions(spark, path).contains(toVersion),
      s"version $toVersion not committed at $path")
    val from = readManifest(spark, path, fromVersion).toSet
    val to = readManifest(spark, path, toVersion)
    require(from.subsetOf(to.toSet),
      s"versions $fromVersion -> $toVersion are not append-only " +
        s"(dirs were rewritten); use diff() for the general case")
    val added = to.filterNot(from.contains).map(d => new Path(path, d).toString)
    if (added.isEmpty) ParquetRead.read(spark, new Path(path, to.head).toString).limit(0)
    else ParquetRead.read(spark, added: _*)
  }

  /** Read an exact historical version. With `mergeSchema` the read
    * unifies schemas across the version's data dirs (columns a later
    * append introduced read as null in earlier files) — the
    * schema-evolution contract of every log-structured table format.
    */
  def readVersion(
      spark: SparkSession, path: String, version: Int,
      mergeSchema: Boolean = false): DataFrame = {
    require(versions(spark, path).contains(version),
      s"version $version not committed at $path")
    val dirs = readManifest(spark, path, version)
      .map(d => new Path(path, d).toString)
    if (mergeSchema) spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    else ParquetRead.read(spark, dirs: _*)
  }

  /** Read the table head. */
  def readLatest(
      spark: SparkSession, path: String,
      mergeSchema: Boolean = false): DataFrame = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed versions at $path")
    readVersion(spark, path, vs.last, mergeSchema)
  }
}
