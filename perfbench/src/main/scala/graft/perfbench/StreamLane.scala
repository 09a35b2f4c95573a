package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max, when}
import org.apache.spark.sql.streaming.Trigger

import graft.core.TripCorrelation
import graft.ingest.EventReader
import graft.schema.TripSchemas
import graft.sink.TripTableSink
import graft.streaming.TripStreamJob

import Main._

/** `trip_stream`: drains the time-ordered JSON feed through
  * `TripStreamJob.start` under `Trigger.AvailableNow`, one start file and
  * one end file per trigger, faithful mode, 10-minute event-time timeout.
  * Each round is a fresh table and checkpoint over the same feed. The
  * drain is a closed loop: a trigger starts when the previous one has
  * committed. A timed round's cost is the drain's program CPU (`Cpu`)
  * per input event.
  */
final class StreamLane(ctx: Ctx) extends Lane(ctx) {
  val name = "stream"
  private val feed = ctx.conf.str("stream.feed")
  private val timeoutMs = 600000L
  private val checked = ctx.conf.int("stream.check") == 1
  private val root = s"${ctx.work}/stream"

  def prepare(): Unit = {
    // the session resolves both sources' file listings up front
    ctx.spark.read.text(s"$feed/start").inputFiles.length
    ctx.spark.read.text(s"$feed/end").inputFiles.length: Unit
  }

  private def lines(side: String): DataFrame =
    ctx.spark.readStream.option("maxFilesPerTrigger", "1").text(s"$feed/$side")

  /** One drain; returns (CPU ms, per-trigger wall ms of data triggers, input rows). */
  private def drain(base: String): (Double, Seq[Double], Long) = {
    val (q, cpuMs) = Cpu.ms {
      val q = TripStreamJob.start(ctx.spark, lines("start"), lines("end"),
        tablePath = s"$base/table", checkpointDir = s"$base/ckpt",
        trigger = Trigger.AvailableNow(), faithful = true,
        timeoutMs = timeoutMs, watermarkDelay = "10 minutes")
      q.awaitTermination()
      q
    }
    val progress = q.recentProgress.toSeq
    val trig = progress.filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").doubleValue)
    (cpuMs, trig, progress.map(_.numInputRows).sum)
  }

  private def statusCounts(table: String): Map[String, Long] =
    TripTableSink.readMerged(ctx.spark, table).groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private val usPerEvent, batchMs = Seq.newBuilder[Double]
  private var triggers = 0
  private var expected = Map.empty[String, Long]
  private var check = Map.empty[String, Long]
  private var consistent = true

  protected def runRound(n: Int, timed: Boolean): Map[String, Double] = {
    val base = s"$root/r$n"
    val (cpuMs, trig, rows) = drain(base)
    triggers += trig.size
    if (timed) {
      usPerEvent += cpuMs * 1000 / rows
      batchMs ++= trig
    }
    val written = NightlyLane.parquetFiles(new java.io.File(s"$base/table"))
    // round 0's table is what the checker verifies; later rounds must
    // reproduce its status counts
    if (checked) {
      val counts = statusCounts(s"$base/table")
      if (n == 0) {
        expected = counts
        check = verify(s"$base/table", counts)
      } else consistent &&= counts == expected
    }
    deleteRecursively(new java.io.File(base))
    if (!ctx.trace) Map.empty else Map(
      "sink.files_written" -> written.size.toDouble,
      "sink.bytes_written" -> written.map(_.length).sum.toDouble)
  }

  def result(): String = {
    val l = layers
    val all = if (l.isEmpty) l else l ++ Map(
      "sink.append_ms" -> l("write_ms"),
      "stream.batch_ms_p50" -> median(batchMs.result())) ++
      (if (!checked) Map.empty else Map(
        "ingest.events_decoded" -> check("decoded").toDouble,
        "ingest.events_quarantined" -> check("quarantined").toDouble))
    obj(Seq(
      "ops" -> triggers.toString,
      "consistent" -> consistent.toString,
      "metrics" -> nums(Map("stream_cpu_us_per_event" -> median(usPerEvent.result()))),
      "layers" -> nums(all),
      "check" -> nums(check.map { case (k, v) => k -> v.toDouble }),
      "completed_ids" -> graft.JsonUtil.quote(s"$root/completed_ids.txt")))
  }

  /** The program's own view of the first round, for `check.py`: the
    * decoder's split of the feed, the merged table's status counts, the
    * trips ever written as Completed, and the faithful drops.
    */
  private def verify(table: String, merged: Map[String, Long]): Map[String, Long] = {
    val spark = ctx.spark
    val rawStart = spark.read.text(s"$feed/start")
    val rawEnd = spark.read.text(s"$feed/end")
    val starts = EventReader.decodeStartStream(spark, rawStart).toDF()
    val ends = EventReader.decodeEndStream(spark, rawEnd).toDF()
    val decoded = starts.count() + ends.count()
    val quarantined =
      EventReader.corruptRecords(rawStart, TripSchemas.tripStartSchema).count() +
        EventReader.corruptRecords(rawEnd, TripSchemas.tripEndWireSchema).count()
    val drops = Drops.of(starts, ends)
    val raw = spark.read.parquet(table)
    val completions = raw.where(col("status") === TripSchemas.StatusCompleted)
      .select("trip_id").distinct().count()
    val ids = TripTableSink.readMerged(spark, table)
      .where(col("status") === TripSchemas.StatusCompleted)
      .select("trip_id").collect().map(_.getString(0)).sorted
    writeLines(s"${ctx.work}/stream/completed_ids.txt", ids)
    Map(
      "decoded" -> decoded, "quarantined" -> quarantined,
      "started" -> merged.getOrElse(TripSchemas.StatusStarted, 0L),
      "completed" -> merged.getOrElse(TripSchemas.StatusCompleted, 0L),
      "expired" -> merged.getOrElse(TripSchemas.StatusExpired, 0L),
      "completions" -> completions) ++ drops
  }
}

/** Faithful-mode drops, computed with the program's own decoders and
  * `TripCorrelation.droppedEnds`: orphan ends (no start anywhere) and
  * trips whose every end carries a null telemetry quad.
  */
object Drops {
  def of(starts: DataFrame, ends: DataFrame): Map[String, Long] = {
    val orphans = TripCorrelation.droppedEnds(starts, ends)
      .select("trip_id").distinct().count()
    val gate = TripCorrelation.telemetryComplete(ends)
    val nullQuad = ends.groupBy("trip_id")
      .agg(max(when(gate, 1).otherwise(0)).as("any_complete"))
      .where(col("any_complete") === 0)
      .join(starts.select("trip_id").distinct(), Seq("trip_id"), "left_semi")
      .count()
    Map("orphan_drops" -> orphans, "null_quad_drops" -> nullQuad)
  }
}
