package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Tuned for correctness-at-scale first (AQE on, skew-join handling on,
  * UTC everywhere) and for local[N] testing second (shuffle partitions
  * sized to cores, not the 200 default). On a real cluster the same
  * settings hold: AQE coalesces the 32-partition default up or down at
  * runtime from map-output statistics, so the static number only seeds
  * the initial plan.
  *
  * Generated code is shared across streaming queries. Spark's
  * `CodeGenerator` cache key is `(classloader, generated source)`.
  * Every streaming query runs in a session cloned from the caller's,
  * and with `spark.sql.artifact.isolation.enabled` on (Spark 4's
  * default) the clone gets a new artifact-session UUID, for which the
  * executor builds a new isolated classloader. Each new query, such as
  * every periodic `Trigger.AvailableNow` run of
  * [[graft.streaming.TripStreamJob]], therefore missed the cache and
  * recompiled every generated class. [[configure]] turns isolation off,
  * so every query runs on the executor's default classloader and reuses
  * the compiled code. The trade-off: artifacts (JARs, files) added to
  * one session become visible to every other non-isolated session of
  * the same Spark instance. The engine adds none; a multi-tenant or
  * Spark Connect deployment that needs per-session JAR isolation sets
  * the conf back to `true` on its own builder.
  */
object GraftSession {

  /** Streaming state-store provider, selected by the
    * `SPARK_GRAFT_STATE_STORE` env var (`rocksdb` | `hdfs`; default
    * `hdfs` = Spark's in-memory HDFSBackedStateStoreProvider). At
    * 100 TB the keyed state (fMGWS correlation, stream-stream join
    * buffers) must spill — RocksDB keeps state off-heap on local disk
    * with changelog checkpointing, so per-executor state is bounded by
    * disk, not heap. Wired here (not per-query) because the provider
    * is a session-global engine property; StreamBench measures both
    * providers on the same feed (BENCH_NOTES §streaming).
    */
  def stateStoreProvider: String =
    providerClassFor(sys.env.getOrElse("SPARK_GRAFT_STATE_STORE", "hdfs"))

  /** Short provider name → provider class (unknown names fall back to
    * the default store, matching the env var's lenient contract).
    * Exposed so StreamBench's per-provider lanes and the spec use the
    * same mapping the session factory does.
    */
  def providerClassFor(name: String): String = name.toLowerCase match {
    case "rocksdb" =>
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    case _ =>
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  }

  /** Checkpoint-store class, `SPARK_GRAFT_CHECKPOINT_STORE` env
    * (default `posix`): `posix` / `hdfs` mean the checkpoint location
    * has ATOMIC FileSystem rename and filesystem-level integrity
    * (Hadoop ChecksumFileSystem locally, HDFS block CRCs), so the two
    * streaming-commit optimizations below apply; ANY other value
    * (e.g. `object` for raw S3A) keeps Spark's defaults — the
    * Checksum/FileContext managers and CRC sidecars — because on a
    * store without atomic rename those defaults are the crash-atomicity
    * layer (r21 ADVICE: the posture must be opt-in per deployment, not
    * inherited from the profiled local runs).
    */
  def checkpointStoreIsAtomicFs: Boolean =
    sys.env.getOrElse("SPARK_GRAFT_CHECKPOINT_STORE", "posix")
      .toLowerCase match {
      case "posix" | "hdfs" => true
      case _ => false
    }

  /** Apply engine defaults onto any builder (local or cluster). */
  def configure(b: SparkSession.Builder, shufflePartitions: Int = 32): SparkSession.Builder = {
    val base = b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.streaming.stateStore.providerClass", stateStoreProvider)
      // incremental (changelog) checkpoints: upload per-batch deltas,
      // not full RocksDB snapshots — the setting is inert on the
      // default provider
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
    // Both settings below are gated on the checkpoint store contract
    // (SPARK_GRAFT_CHECKPOINT_STORE env, default posix — see
    // [[checkpointStoreIsAtomicFs]]); object-store deployments keep
    // Spark's checksum + FileContext defaults.
    val ckpt = if (!checkpointStoreIsAtomicFs) base else base
      // Spark 4.1's checkpoint-file checksums (on by default) write a
      // CRC sidecar for EVERY state/commit file through one small
      // shared writer pool that every state-store task awaits — a r21
      // thread dump showed all 32 q162 tasks parked in
      // ChecksumCheckpointFileManager.createWithChecksum (3+ s/task on
      // KBs of state; q162 8.9 s → see OPTIMIZATION_r21.md; still
      // +45% on the streaming lanes with the fork-free manager below,
      // from the doubled file count alone). The
      // sidecars also double the checkpoint file count per commit —
      // at scale that is 2× the object-store write QPS. The filesystem
      // layer already carries its own integrity checks (Hadoop
      // ChecksumFileSystem locally, HDFS block CRCs), which is how
      // every pre-4.1 checkpoint ran.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // FileContext-based checkpoint commits call Hadoop's
      // RawLocalFileSystem link-status path, which without libhadoop
      // FORKS a `readlink` shell process per rename — from a multi-GB
      // JVM that fork dominated every state-store commit (r21 thread
      // sampling: 144/231 busy-task samples inside renameTempFile →
      // Shell.execCommand). The FileSystem-based manager commits with
      // File.renameTo (atomic on POSIX/HDFS, zero forks).
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
    ckpt.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE's coalescing target is max(shuffleBytes/parallelism,
      // minPartitionSize); the default 1 MiB floor is tuned for
      // byte-bound stages and collapses compute-dense small-byte
      // shuffles to ONE post-shuffle partition (a 0.5 MiB minhash
      // signature exchange feeds a 13 s single-task LSH verify at
      // sf0.1 — profiled r21). Lowering the floor keeps the
      // bytes/parallelism term in charge; at real volumes (anything
      // over parallelism × 64 KiB per shuffle) behavior is unchanged,
      // so the setting is scale-adaptive, not a local[32] constant.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // 128 MiB split targets: one task per parquet row-group cluster,
      // keeps 100 TB scans at ~800k tasks instead of millions of tiny ones.
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // Spark's generated-class cache holds 100 entries by default —
      // a long-lived session running many DISTINCT queries (the
      // driver's 170-query bench, any multi-tenant warehouse session)
      // thrashes it and pays janino recompilation on every plan.
      // Measured on the full bench: total 195.0 s → 182.3 s, with the
      // worst single query (q98) 4.6 s → 0.9 s once its generated
      // code stopped being evicted between reps.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Share that cache across streaming queries (see the object
      // scaladoc): with artifact isolation on, every new streaming
      // query gets its own executor classloader, hence its own cache
      // keys, and each `TripStreamJob.start` drain recompiled its state
      // encoders, input deserializer and whole-stage stages (31 janino
      // compiles per drain after warm-up; 0 with isolation off).
      .config("spark.sql.artifact.isolation.enabled", "false")
      // harness events.parquet uses TIMESTAMP(NANOS), unreadable by
      // Spark 4 without this (read as raw nanos, converted by callers).
      // SESSION-GLOBAL: every parquet read on the session sees nanos
      // columns as LongType; queries needing native nanos-as-timestamp
      // semantics must use a separate session (SparkEntry.events also
      // sets this at the call boundary for driver-owned sessions)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // file:// permission calls without libhadoop FORK a chmod shell
      // per state-store directory / checkpoint file / committed output
      // file (r22 thread sampling: half the stream-stream join's busy
      // executor samples) — [[graft.hadoop.NioLocalFileSystem]] sets
      // the same mode bits via java.nio instead. Same CRC/checksum
      // behavior, same permissions; near-no-op where libhadoop exists.
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.hadoop.NioLocalFileSystem].getName)
      .config("spark.ui.enabled", "false")
  }

  /** Local session for tests / tools. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(), appName: String = "graft"): SparkSession = {
    // isolated warehouse so saveAsTable (bucketed layouts) never writes
    // into the repo working directory; removed on JVM exit so repeated
    // runs don't leak table copies into the temp dir
    val warehouse = java.nio.file.Files.createTempDirectory("graft-warehouse")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.hadoop.fs.FileUtil.fullyDelete(warehouse.toFile): Unit))
    val s = configure(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      shufflePartitions = math.max(cores, 4)
    )
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
