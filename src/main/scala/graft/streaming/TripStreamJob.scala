package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.TripCorrelation
import graft.ingest.EventReader
import graft.sink.TripTableSink

/** The full streaming pipeline wired end-to-end (SURVEY.md §3 E2):
  * two JSON value streams → decode (S4) → tagged union (S5) → stateful
  * correlation (J1/F3/F4 via flatMapGroupsWithState) → keyed upsert sink
  * (S7), checkpointed.
  *
  * The default trigger matches the reference's micro-batch contract —
  * 100-record / 100-second Kinesis batching (reference: README.md:26-28)
  * — expressed as `Trigger.ProcessingTime("100 seconds")`; rate limiting
  * belongs to the source (`maxFilesPerTrigger` / `maxOffsetsPerTrigger`).
  *
  * The sink is append-delta: O(batch) I/O per trigger
  * ([[TripTableSink.appendDelta]]).
  */
object TripStreamJob {

  def start(
      spark: SparkSession,
      startLines: DataFrame,
      endLines: DataFrame,
      tablePath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("100 seconds"),
      faithful: Boolean = true,
      timeoutMs: Long = 0L,
      watermarkDelay: String = "10 minutes"): StreamingQuery = {
    val starts = EventReader.decodeStartStream(spark, startLines)
    val ends = EventReader.decodeEndStream(spark, endLines)
    val events = EventReader.taggedUnion(spark, starts, ends)
    val records =
      TripCorrelation.correlateStream(events, faithful, timeoutMs, watermarkDelay)
    records.toDF().writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(TripTableSink.foreachBatchAppend(tablePath))
      .start()
  }

  /** The DECLARATIVE correlation alternative: a watermarked
    * stream-stream interval join instead of [[TripCorrelation]]'s
    * explicit keyed state. Both sides carry an event-time watermark
    * and the join condition bounds `dropoff ∈ [pickup, pickup +
    * joinWindow]`, so Spark derives the state-retention horizon
    * itself: a buffered start is dropped once the end-side watermark
    * passes `pickup + joinWindow + delay` — state bounded by the
    * window, no timers, no MapGroupsWithState code to maintain.
    * Appends matched (trip) rows to `outPath` as parquet.
    *
    * Trade-off vs the explicit-state path (q89): the interval join
    * cannot express last-write-wins upsert or the faithful-drop
    * diagnostics (that is WHY the reference shape uses keyed state);
    * it wins when the semantics really are "match within a window",
    * where it is less code, append-only (exactly-once into a file
    * sink), and state-bounded by construction.
    */
  def startStreamJoin(
      spark: SparkSession,
      startLines: DataFrame,
      endLines: DataFrame,
      outPath: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("100 seconds"),
      watermarkDelay: String = "10 minutes",
      joinWindow: String = "1 hour"): StreamingQuery = {
    import org.apache.spark.sql.functions.{col, expr}
    val starts = EventReader.decodeStartStream(spark, startLines).toDF()
      .select(col("trip_id"), col("pickup_datetime"),
        col("estimated_fare_amount"))
      .withWatermark("pickup_datetime", watermarkDelay)
    val ends = EventReader.decodeEndStream(spark, endLines).toDF()
      .select(col("trip_id").as("__e_trip_id"), col("dropoff_datetime"),
        col("fare_amount"))
      .withWatermark("dropoff_datetime", watermarkDelay)
    starts
      .join(ends,
        col("trip_id") === col("__e_trip_id") &&
          col("dropoff_datetime") >= col("pickup_datetime") &&
          col("dropoff_datetime") <=
            col("pickup_datetime") + expr(s"interval $joinWindow"))
      .select(col("trip_id"), col("pickup_datetime"),
        col("dropoff_datetime"), col("fare_amount"))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }
}
