package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.GraftSession
import graft.ingest.EventReader

/** Streaming-path measurement (BENCH_NOTES.md §streaming), two runs:
  *
  * 1. **Throughput** — `n` starts + `n` ends as JSON lines, hash-sharded
  *    by trip_id exactly like the publisher
  *    ([[EventReader.toJsonStream]]), through the FULL pipeline
  *    ([[TripStreamJob]]: file source → JSON decode → tagged union →
  *    flatMapGroupsWithState correlation → keyed upsert sink) under
  *    `Trigger.AvailableNow`. Hash shards span the whole feed's time
  *    range, so this run measures rows/sec, not state eviction.
  *
  * 2. **Bounded state** — the same feed sharded into TIME-ORDERED
  *    slices replayed one file per trigger, with the 10-minute
  *    event-time timeout enabled: the watermark advances with each
  *    micro-batch and passes earlier trips, so completed/stale groups
  *    are evicted as the replay progresses — the measured form of the
  *    SURVEY §2.7 claim that state is bounded by the watermark+timeout
  *    horizon (trips-per-~20-minutes), not by corpus size. Reported:
  *    `evicted_rows` (state removals) and `peak_state_rows` ≪ n.
  *
  * Every run repeats once per state-store provider
  * (`SPARK_GRAFT_STREAM_PROVIDERS`, default `hdfs,rocksdb`) — the JSON
  * lines carry a `provider` field, so BENCH_NOTES can price the
  * in-memory-store → RocksDB flip on identical feeds.
  *
  * Prints ONE JSON line per run. Metrics are accumulated via a
  * StreamingQueryListener, not `recentProgress` (whose retention is
  * capped at `spark.sql.streaming.numRecentProgressUpdates` = 100
  * entries — an undercount once a run has more micro-batches than
  * that).
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.streaming.StreamBench 200000"
  */
object StreamBench {

  /** Accumulates progress off the listener bus. Registered BEFORE the
    * query starts (a fast first micro-batch could otherwise complete
    * before registration); runs are sequential so no query-id filter is
    * needed.
    */
  private final class Metrics extends StreamingQueryListener {
    @volatile var inputRows = 0L
    @volatile var batches = 0L
    @volatile var peakState = 0L
    @volatile var removed = 0L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      inputRows += p.numInputRows
      if (p.numInputRows > 0) batches += 1
      p.stateOperators.foreach { so =>
        peakState = math.max(peakState, so.numRowsTotal)
        removed += so.numRowsRemoved
      }
    }
  }

  /** Restamp part files with strictly increasing mtimes in name order:
    * the file source admits files in modification-time order and the
    * parallel write leaves mtimes racy — an end shard could enter a
    * trigger BEFORE its start shard and be faithful-dropped. Start/end
    * shard k share an index on both sides (same key-hash → same shard),
    * so equal stamps make them ride the same trigger.
    */
  private def restampInNameOrder(spark: SparkSession, dirs: Seq[String]): Unit =
    for (dir <- dirs) {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName).zipWithIndex
        .foreach { case (st, i) =>
          fs.setTimes(st.getPath, 1700000000000L + i * 60000L, -1)
        }
    }

  /** Restamp a `partitionBy("__slice")` layout: every file under
    * `dir/__slice=k/` gets mtime base + k·60 s, so the file source
    * admits slices strictly in slice order and start/end slice k share
    * a stamp (→ the same trigger). Slice-by-DIRECTORY is deterministic
    * by construction — unlike `repartitionByRange`, whose sampled
    * boundaries could diverge between the two writes and shift part-
    * file indices (the round-6 ADVICE hole).
    */
  private def restampBySliceDir(spark: SparkSession, dirs: Seq[String]): Unit =
    for (dir <- dirs) {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.getPath.getName.startsWith("__slice="))
        .foreach { d =>
          val k = d.getPath.getName.stripPrefix("__slice=").toLong
          fs.listStatus(d.getPath).filter(_.getPath.getName.startsWith("part-"))
            .foreach(st => fs.setTimes(st.getPath, 1700000000000L + k * 60000L, -1))
        }
    }

  /** The synthetic feed: event time advances 50 ms per trip (~2.8 h at
    * n=200k); dropoff 5 min after pickup. Deterministic fares via
    * seeded rand.
    */
  private def feed(spark: SparkSession, nTrips: Int): (DataFrame, DataFrame) = {
    val t0 = java.sql.Timestamp.valueOf("2024-01-15 00:00:00").getTime
    val starts = spark.range(nTrips).select(
      col("id"),
      concat(lit("trip-"), col("id")).as("trip_id"),
      (col("id") % 256).cast("int").as("pickup_location_id"),
      (col("id") % 128).cast("int").as("dropoff_location_id"),
      (col("id") % 8).cast("int").as("vendor_id"),
      timestamp_millis(lit(t0) + col("id") * 50).as("pickup_datetime"),
      timestamp_millis(lit(t0) + col("id") * 50 + 300000L).as("estimated_dropoff_datetime"),
      round(rand(42) * 50 + 5, 2).as("estimated_fare_amount"))
    val ends = spark.range(nTrips).select(
      col("id"),
      concat(lit("trip-"), col("id")).as("trip_id"),
      timestamp_millis(lit(t0) + col("id") * 50 + 300000L).as("dropoff_datetime"),
      lit(1.0).as("rate_code"),
      (col("id") % 4 + 1).cast("double").as("passenger_count"),
      round(rand(43) * 20 + 1, 2).as("trip_distance"),
      round(rand(44) * 50 + 5, 2).as("fare_amount"),
      round(rand(45) * 10, 2).as("tip_amount"),
      lit(1.0).as("payment_type"),
      lit(1.0).as("trip_type"))
    (starts, ends)
  }

  /** One full-pipeline replay; returns the printed JSON line's fields. */
  private def replay(
      spark: SparkSession,
      name: String,
      startDir: String,
      endDir: String,
      base: String,
      filesPerTrigger: Int,
      timeoutMs: Long,
      nTrips: Int,
      cpus: Int,
      provider: String): Unit = {
    def lines(dir: String) = spark.readStream
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .text(dir)
    val m = new Metrics
    spark.streams.addListener(m)
    val wall0 = System.nanoTime()
    val q = TripStreamJob.start(
      spark,
      startLines = lines(startDir),
      endLines = lines(endDir),
      tablePath = s"$base/table",
      checkpointDir = s"$base/ckpt",
      trigger = Trigger.AvailableNow(),
      timeoutMs = timeoutMs)
    q.awaitTermination()
    val secs = (System.nanoTime() - wall0) / 1e9
    // the listener bus is async — drain before reading the counters
    var waited = 0
    while (m.inputRows < 2L * nTrips && waited < 100) { Thread.sleep(100); waited += 1 }
    spark.streams.removeListener(m)
    val completed = graft.sink.TripTableSink.readMerged(spark, s"$base/table")
      .where(col("status") === graft.schema.TripSchemas.StatusCompleted)
      .count()
    println(
      s"""{"metric":"$name","provider":"$provider","value":${(m.inputRows / secs).round},""" +
        s""""unit":"rows/sec","rows":${m.inputRows},"wall_sec":$secs,""" +
        s""""batches":${m.batches},"peak_state_rows":${m.peakState},""" +
        s""""evicted_rows":${m.removed},"timeout_ms":$timeoutMs,""" +
        s""""completed_trips":$completed,"n_trips":$nTrips,"cpus":$cpus}""")
  }

  def main(args: Array[String]): Unit = {
    val nTrips = args.headOption.map(_.toInt).getOrElse(200000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // Provider lanes: every run repeats once per state-store provider
    // (default both — the in-memory HDFS-backed store vs RocksDB). The
    // providerClass conf is read at QUERY start, so one session can
    // measure both; at 100 TB keyed state RocksDB is the scale
    // realization (state bounded by local disk, not executor heap, with
    // changelog checkpointing), and this lane is what prices the flip.
    val providers = sys.env.getOrElse("SPARK_GRAFT_STREAM_PROVIDERS", "hdfs,rocksdb")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = GraftSession.local(cpus, "graft-stream-bench")
    val (starts, ends) = feed(spark, nTrips)

    val base = java.nio.file.Files.createTempDirectory("graft-streambench")

    // ---- Run 1: throughput. 16 hash shards per side; both sources
    // admit 4 files per trigger CONCURRENTLY → 4 micro-batches, each
    // carrying 4 start shards + 4 end shards. No timeout: hash shards
    // span the whole feed, so the watermark is near feed-end after
    // batch 1 and eviction timing would be an artifact of shard order,
    // not a steady-state property.
    val hashShards = 16
    EventReader.toJsonStream(starts.drop("id"), "trip_id", hashShards)
      .select("value").write.text(s"$base/h-starts")
    EventReader.toJsonStream(ends.drop("id"), "trip_id", hashShards)
      .select("value").write.text(s"$base/h-ends")
    restampInNameOrder(spark, Seq(s"$base/h-starts", s"$base/h-ends"))

    // ---- Run 2: bounded state. The same feed in 32 TIME-ORDERED
    // slices, one file per trigger, 10-minute event-time timeout: the
    // watermark advances ~1/32 of the feed per micro-batch and evicts
    // every group whose timeout (its own max event time + 10 min) has
    // passed — completed trips included, which is what bounds the state
    // store at the watermark+timeout horizon instead of corpus size.
    val slices = 32
    // One file per slice, deterministically: hash-repartition on the
    // slice id co-locates each slice in one task, and partitionBy
    // splits the write into `__slice=k/` dirs — so the start and end
    // feeds ALWAYS produce the same slice→file mapping (restamped by
    // directory, not by racy part-file index).
    def sliced(df: DataFrame) = df
      .select(
        to_json(struct(df.columns.filter(_ != "id").map(col): _*)).as("value"),
        (col("id") * slices / nTrips).cast("int").as("__slice"))
      .repartition(slices, col("__slice"))
    sliced(starts).write.partitionBy("__slice").text(s"$base/t-starts")
    sliced(ends).write.partitionBy("__slice").text(s"$base/t-ends")
    restampBySliceDir(spark, Seq(s"$base/t-starts", s"$base/t-ends"))

    for (p <- providers) {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        GraftSession.providerClassFor(p))

      replay(spark, "stream_rows_per_sec", s"$base/h-starts", s"$base/h-ends",
        s"$base/run1-$p", filesPerTrigger = 4, timeoutMs = 0L, nTrips, cpus, p)

      replay(spark, "stream_bounded_state",
        s"$base/t-starts/__slice=*", s"$base/t-ends/__slice=*",
        s"$base/run2-$p", filesPerTrigger = 1, timeoutMs = 600000L,
        nTrips, cpus, p)

      // ---- Run 3: interval-join bounded state — the DECLARATIVE
      // correlation ([[TripStreamJob.startStreamJoin]], q162's operator)
      // over the SAME time-sliced feed: the state horizon is derived by
      // the engine from watermark + join window (no keyed-state code),
      // so the symmetric-hash-join state should show the same
      // bounded-by-horizon profile as run 2's explicit fMGWS state.
      val m3 = new Metrics
      spark.streams.addListener(m3)
      def lines3(dir: String) = spark.readStream
        .option("maxFilesPerTrigger", "1").text(dir)
      val wall3 = System.nanoTime()
      val q3 = TripStreamJob.startStreamJoin(
        spark,
        startLines = lines3(s"$base/t-starts/__slice=*"),
        endLines = lines3(s"$base/t-ends/__slice=*"),
        outPath = s"$base/run3-$p/joined",
        checkpointDir = s"$base/run3-$p/ckpt",
        trigger = Trigger.AvailableNow(),
        watermarkDelay = "10 minutes",
        joinWindow = "10 minutes")
      q3.awaitTermination()
      val secs3 = (System.nanoTime() - wall3) / 1e9
      var waited3 = 0
      while (m3.inputRows < 2L * nTrips && waited3 < 100) {
        Thread.sleep(100); waited3 += 1
      }
      spark.streams.removeListener(m3)
      val matched = graft.ingest.ParquetRead.read(spark, s"$base/run3-$p/joined").count()
      println(
        s"""{"metric":"stream_join_bounded_state","provider":"$p","value":${(m3.inputRows / secs3).round},""" +
          s""""unit":"rows/sec","rows":${m3.inputRows},"wall_sec":$secs3,""" +
          s""""batches":${m3.batches},"peak_state_rows":${m3.peakState},""" +
          s""""evicted_rows":${m3.removed},"matched":$matched,""" +
          s""""n_trips":$nTrips,"cpus":$cpus}""")
    }

    spark.stop()
  }
}
