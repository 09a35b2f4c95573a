package graft.perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.core.{DailyKpiJob, TripCorrelation}
import graft.ingest.EventReader
import graft.schema.TripSchemas
import graft.sink.TripTableSink

import Main._

/** `trip_nightly`: the batch and table lane. A round has three phases
  * over a fresh table:
  *  - write: per epoch, decode that epoch's feed files in batch,
  *    `TripCorrelation.correlate` them (faithful) and
  *    `TripTableSink.appendDelta` the result stamped with the epoch;
  *  - read: `DailyKpiJob.run` for every day over the merge-on-read table;
  *  - compact: `TripTableSink.compact`, then every day again.
  * A timed round's costs are the program CPU (`Cpu`) of the write phase
  * per row appended, of one `DailyKpiJob.run` before and after
  * compaction (a pass over every day, per day), and of `compact`. When tracing, the
  * write phase materializes decode and correlate separately so each
  * layer's time is its own.
  */
final class NightlyLane(ctx: Ctx) extends Lane(ctx) {
  val name = "nightly"
  private val checked = ctx.conf.int("nightly.check") == 1

  /** A feed of `epochs` loads whose trips fall on `days`. */
  private final case class Feed(dir: String, epochs: Int, days: Seq[String]) {
    def epoch(e: Int): String = f"$dir/epoch-$e%02d"
  }

  private val feed = Feed(ctx.conf.str("nightly.feed"),
    ctx.conf.int("nightly.epochs"), ctx.conf.list("nightly.days"))

  def prepare(): Unit =
    (0 until feed.epochs).foreach { e =>
      ctx.spark.read.text(s"${feed.epoch(e)}/start", s"${feed.epoch(e)}/end").inputFiles.length
    }

  private def decode(start: String, end: String): (DataFrame, DataFrame) = {
    val spark = ctx.spark
    (EventReader.decodeStartStream(spark, spark.read.text(start)).toDF(),
      EventReader.decodeEndStream(spark, spark.read.text(end)).toDF())
  }

  private final case class Round(
      writeCpuMs: Double, rows: Long, kpiCpuMs: Double, compactCpuMs: Double,
      kpiCompactedCpuMs: Double, completions: Long, layers: Map[String, Double])

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def timed[A](acc: Array[Double])(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally acc(0) += ms(t0)
  }

  /** One `DailyKpiJob.run` per day; returns the pass's CPU ms per day
    * and, when tracing, its layer numbers.
    */
  private def kpiPass(days: Seq[String], table: String, out: String)
      : (Double, Map[String, Double]) = {
    val c0 = ctx.counters()
    val (_, cpuMs) = Cpu.ms(days.foreach(d => DailyKpiJob.run(ctx.spark, table, out, Some(d))))
    val c1 = ctx.counters()
    def diff(k: String) = c1.getOrElse(k, 0.0) - c0.getOrElse(k, 0.0)
    (cpuMs / days.size, if (!ctx.trace) Map.empty else Map(
      "kpi.plan_ms_sum" -> diff("plan_ms"),
      "kpi.jobs" -> diff("spark.jobs"),
      "kpi.bytes_read" -> diff("input_bytes")))
  }

  private def round(feed: Feed, base: String, first: Boolean): Round = {
    val table = s"$base/table"
    val decodeMs, correlateMs, appendMs = Array(0.0)
    val w0 = Cpu.ns()
    (0 until feed.epochs).foreach { e =>
      val (starts, ends) = decode(s"${feed.epoch(e)}/start", s"${feed.epoch(e)}/end")
      if (!ctx.trace)
        TripTableSink.appendDelta(TripCorrelation.correlate(starts, ends), table, e)
      else {
        val (s, en) = timed(decodeMs) {
          val s = starts.cache(); val en = ends.cache()
          s.count(); en.count()
          (s, en)
        }
        val corr = timed(correlateMs) {
          val c = TripCorrelation.correlate(s, en).cache()
          c.count()
          c
        }
        timed(appendMs)(TripTableSink.appendDelta(corr, table, e))
        Seq(s, en, corr).foreach(_.unpersist())
      }
    }
    val writeCpuMs = (Cpu.ns() - w0) / 1e6
    val rows = ctx.spark.read.parquet(table).count()
    val files = NightlyLane.parquetFiles(new File(table)).map(_.length)
    val readMergedMs = Array(0.0)
    if (ctx.trace) timed(readMergedMs) {
      TripTableSink.readMerged(ctx.spark, table).queryExecution.toRdd.count()
    }
    // trips ever written as Completed, read before compaction folds the epochs
    val completions = if (!first) 0L else ctx.spark.read.parquet(table)
      .where(col("status") === TripSchemas.StatusCompleted)
      .select("trip_id").distinct().count()
    val (kpiCpuMs, kpiLayers) = kpiPass(feed.days, table, s"$base/kpi")
    val c0 = System.nanoTime()
    val (_, compactCpuMs) = Cpu.ms(TripTableSink.compact(ctx.spark, table))
    val compactMs = (System.nanoTime() - c0) / 1e6
    val (kpiCompactedCpuMs, kpiLayers2) = kpiPass(feed.days, table, s"$base/kpi_compacted")
    val perDay = 2.0 * feed.days.size
    val layers = if (!ctx.trace) Map.empty[String, Double] else Map(
      "ingest.decode_ms" -> decodeMs(0),
      "correlate.ms" -> correlateMs(0),
      "sink.append_ms" -> appendMs(0),
      "sink.files_written" -> files.size.toDouble,
      "sink.bytes_written" -> files.sum.toDouble,
      "sink.table_files" -> files.size.toDouble,
      "sink.read_merged_ms" -> readMergedMs(0),
      "sink.compact_ms" -> compactMs,
      "kpi.plan_ms_sum" -> (kpiLayers("kpi.plan_ms_sum") + kpiLayers2("kpi.plan_ms_sum")),
      "kpi.jobs_per_day" -> (kpiLayers("kpi.jobs") + kpiLayers2("kpi.jobs")) / perDay,
      "kpi.bytes_read_per_day" ->
        (kpiLayers("kpi.bytes_read") + kpiLayers2("kpi.bytes_read")) / perDay)
    Round(writeCpuMs, rows, kpiCpuMs, compactCpuMs, kpiCompactedCpuMs, completions, layers)
  }


  /** KPI documents of a round with the publish timestamp blanked, for
    * comparing rounds with each other.
    */
  private def docs(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten.flatMap(m =>
      Option(m.listFiles()).toSeq.flatten).filter(_.getName.endsWith(".json"))
      .sortBy(_.getName).map { f =>
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .replaceAll("\"timestamp\":\"[^\"]*\"", "")
    }

  private val root = s"${ctx.work}/nightly"
  private val samples = Seq.newBuilder[Round]
  private var rounds = 0
  private var check = Map.empty[String, Long]
  private var expected = (0L, Seq.empty[String])
  private var consistent = true

  protected def runRound(n: Int, timed: Boolean): Map[String, Double] = {
    val base = s"$root/r$n"
    val r = round(feed, base, first = checked && n == 0)
    rounds += 1
    if (timed) samples += r
    if (checked) {
      val (docs0, docs1) = (docs(s"$base/kpi"), docs(s"$base/kpi_compacted"))
      // compaction must not change a KPI; round 0 is what the checker
      // verifies and later rounds must reproduce it
      consistent &&= docs0 == docs1
      if (n == 0) {
        expected = (r.rows, docs0)
        check = verify(base) + ("completions" -> r.completions)
      } else consistent &&= (r.rows, docs0) == expected
    }
    // round 0's KPI documents stay for the checker
    if (n > 0 || !checked) deleteRecursively(new File(base))
    r.layers
  }

  def result(): String = {
    val rs = samples.result()
    val all = layers ++ (if (!ctx.trace || !checked) Map.empty else Map(
      "ingest.events_decoded" -> check("decoded").toDouble,
      "ingest.events_quarantined" -> check("quarantined").toDouble))
    obj(Seq(
      "ops" -> ((feed.epochs + 1 + 2 * feed.days.size) * rounds).toString,
      "consistent" -> consistent.toString,
      "metrics" -> nums(Map(
        "table_write_cpu_us_per_row" -> median(rs.map(r => r.writeCpuMs * 1000 / r.rows)),
        "kpi_day_cpu_ms" -> median(rs.map(_.kpiCpuMs)),
        "kpi_day_compacted_cpu_ms" -> median(rs.map(_.kpiCompactedCpuMs)),
        "compact_cpu_ms" -> median(rs.map(_.compactCpuMs)))),
      "layers" -> nums(all),
      "check" -> nums(check.map { case (k, v) => k -> v.toDouble }),
      "kpi_dirs" -> Seq("kpi", "kpi_compacted")
        .map(d => graft.JsonUtil.quote(s"$root/r0/$d")).mkString("[", ",", "]"),
      "completed_ids" -> graft.JsonUtil.quote(s"$root/completed_ids.txt")))
  }

  /** The program's own view of the first round for `check.py`: the
    * decoder's split of the feed, the merged (compacted) table's status
    * counts and Completed trips, and the faithful drops.
    */
  private def verify(base: String): Map[String, Long] = {
    val spark = ctx.spark
    val all = (0 until feed.epochs).map(feed.epoch)
    val rawStart = spark.read.text(all.map(_ + "/start"): _*)
    val rawEnd = spark.read.text(all.map(_ + "/end"): _*)
    val (starts, ends) = (
      EventReader.decodeStartStream(spark, rawStart).toDF(),
      EventReader.decodeEndStream(spark, rawEnd).toDF())
    val decoded = starts.count() + ends.count()
    val quarantined =
      EventReader.corruptRecords(rawStart, TripSchemas.tripStartSchema).count() +
        EventReader.corruptRecords(rawEnd, TripSchemas.tripEndWireSchema).count()
    val merged = TripTableSink.readMerged(spark, s"$base/table")
    val counts = merged.groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ids = merged.where(col("status") === TripSchemas.StatusCompleted)
      .select("trip_id").collect().map(_.getString(0)).sorted
    writeLines(s"${ctx.work}/nightly/completed_ids.txt", ids)
    Map(
      "decoded" -> decoded, "quarantined" -> quarantined,
      "started" -> counts.getOrElse(TripSchemas.StatusStarted, 0L),
      "completed" -> counts.getOrElse(TripSchemas.StatusCompleted, 0L),
      "expired" -> counts.getOrElse(TripSchemas.StatusExpired, 0L)) ++
      Drops.of(starts, ends)
  }
}

object NightlyLane {
  def parquetFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) parquetFiles(f)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }
}
