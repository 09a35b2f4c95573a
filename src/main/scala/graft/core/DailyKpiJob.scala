package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sink.KpiJsonSink

/** The reference's nightly Glue job, end-to-end (SURVEY.md §3 E3):
  * read the date-partitioned trips table, prune to the target day (F1),
  * keep Completed trips (F2), compute the five KPIs in one pass (A1-A5),
  * publish one JSON document (S12).
  *
  * Unlike the reference there is no driver-side table scan
  * (daily_kpi_aggregation.py:38-78 pulls every item through boto3): the
  * read is a distributed parquet scan whose `date` filter Catalyst turns
  * into partition pruning, so a 100 TB table reads one day.
  */
object DailyKpiJob {

  /** Run for `date` (default: previous day, P8). Returns written file
    * paths — empty when the day has no completed trips (F5 short-circuit,
    * reference: daily_kpi_aggregation.py:178-181: commit and exit, no
    * output object).
    */
  def run(
      spark: SparkSession,
      tablePath: String,
      outDir: String,
      date: Option[String] = None): Seq[String] = {
    val target = date.getOrElse(
      spark.range(1).select(KpiAggregation.previousDay()).head.getString(0))
    // Prune to the day FIRST, then apply the last-write-wins view: on an
    // append-delta table a redelivered completion appends a second row
    // per trip, and aggregating raw rows would double-count it.
    val day = graft.sink.TripTableSink.mergedView(
      graft.sink.TripTableSink.read(spark, tablePath)
        .where(col("date") === to_date(lit(target))))
    val docs = KpiAggregation.kpiDocument(KpiAggregation.dailyKpis(day))
    KpiJsonSink.writeDaily(docs, outDir)
  }
}
