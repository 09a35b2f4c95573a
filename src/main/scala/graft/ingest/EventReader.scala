package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.schema._

/** Batch + streaming ingestion of trip events (SURVEY.md §2.1 S1-S5).
  *
  * Batch CSVs are read with explicit schemas (no inference — a schema
  * inference pass is a second full scan at 100 TB). Streaming input is
  * a line/value stream of JSON payloads, decoded with `from_json`;
  * corrupt records decode to null and are dropped, matching the
  * reference's per-record try/except skip
  * (reference: trip_processor.py:28,82-84).
  */
object EventReader {

  /** S1: trip-start CSV scan with explicit schema. Malformed lines parse
    * to all-null rows (PERMISSIVE); drop them by the non-null key so one
    * poison line cannot crash the typed path — the batch analog of the
    * reference's per-record try/except skip.
    */
  def readTripStarts(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(TripSchemas.tripStartSchema)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(path)
      .where(col("trip_id").isNotNull)

  /** S2: trip-end CSV scan. The physical schema follows the file's
    * column order (Spark binds explicit CSV schemas positionally) and
    * reads the telemetry quad as double — the file stores `5.0`-style
    * floats; we then cast to the logical IntegerType and reorder to the
    * canonical [[TripSchemas.tripEndSchema]] shape.
    */
  def readTripEnds(spark: SparkSession, path: String): DataFrame =
    castToCanonicalEnd(
      spark.read
        .schema(TripSchemas.tripEndCsvSchema)
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(path)
        .where(col("trip_id").isNotNull))

  /** Project any end frame (CSV-physical or JSON-wire order, double
    * quad) onto the canonical [[TripSchemas.tripEndSchema]] shape.
    */
  private def castToCanonicalEnd(df: DataFrame): DataFrame =
    df.select(TripSchemas.tripEndSchema.fields.map { f =>
      col(f.name).cast(f.dataType).as(f.name)
    }.toSeq: _*)

  def tripStarts(spark: SparkSession, path: String): Dataset[TripStart] = {
    import spark.implicits._
    readTripStarts(spark, path).as[TripStart]
  }

  def tripEnds(spark: SparkSession, path: String): Dataset[TripEnd] = {
    import spark.implicits._
    readTripEnds(spark, path).as[TripEnd]
  }

  /** P1/S3 producer side: rows → JSON `value` column, partitioned by the
    * stream key the way Kinesis shard-hashes the partition key
    * (reference: send_to_kinesis.py:43-57).
    */
  def toJsonStream(df: DataFrame, keyCol: String, shards: Int): DataFrame =
    df.repartition(shards, col(keyCol))
      .select(col(keyCol).as("key"), to_json(struct(df.columns.map(col): _*)).as("value"))

  /** The raw line's column beside the decoded fields: a schema may carry
    * its own `value` field (q168's does).
    */
  private val RawCol = "__raw_line"

  /** One row per input line: the raw line plus the decoded fields, all
    * null when the line is null or does not parse.
    */
  private def parsed(df: DataFrame, schema: StructType): DataFrame =
    df.select(col("value").as(RawCol), inline(array(from_json(col("value"), schema))))

  /** P2/S4 consumer side: decode a `value` JSON column against a schema;
    * corrupt payloads become null rows and are dropped (at-least-once,
    * poison records skipped — reference: trip_processor.py:82-84).
    *
    * Exactly one `from_json` per line, as the reference's one
    * `json.loads` per record. The parse sits behind a Generate
    * (`inline` of a one-element array) on purpose: over a plain
    * projection, Catalyst pushes the null-key filter beneath it and
    * `OptimizeJsonExprs` gives every field test its own pruned-schema
    * parse — 3 parses per start line, and 7 per end line once the
    * correlator's telemetry-quad tests join them. No predicate moves
    * below a Generate, so the line is parsed once whatever sits above.
    */
  def decodeJson(df: DataFrame, schema: StructType): DataFrame =
    parsed(df, schema).where(col("trip_id").isNotNull).drop(RawCol)

  /** DLQ side output (SURVEY.md §2.7): the value lines that fail to
    * decode against `schema` — the records the reference's per-record
    * try/except silently swallowed (trip_processor.py:82-84), exposed as
    * a queryable stream/frame instead. Derived from the same parse as
    * [[decodeJson]]; together they partition the input frame.
    */
  def corruptRecords(df: DataFrame, schema: StructType): DataFrame =
    // includes NULL values (tombstones): every input row lands in
    // exactly one of decodeJson / corruptRecords — full accountability
    parsed(df, schema).where(col("trip_id").isNull).select(col(RawCol).as("raw"))

  /** S5: tag + union the two event kinds into the single correlator
    * input (the `eventSourceARN` split analog,
    * reference: trip_processor.py:39). Built from columns: each side
    * becomes a struct of its decoded fields beside a typed null for the
    * other side, so no row is turned into a Scala object and back
    * before the correlation shuffle.
    */
  def taggedUnion(spark: SparkSession, starts: Dataset[TripStart], ends: Dataset[TripEnd]): Dataset[TripEvent] = {
    import spark.implicits._
    val startType = Encoders.product[TripStart].schema
    val endType = Encoders.product[TripEnd].schema
    def side(fields: StructType) =
      struct(fields.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    def tagged(kind: String, start: Column, end: Column, eventTs: String) =
      Seq(col("trip_id"), lit(kind).as("kind"), start.as("start"), end.as("end"),
        col(eventTs).as("event_ts"))
    starts.select(tagged(TripEvent.KindStart, side(startType),
        lit(null).cast(endType), "pickup_datetime"): _*)
      .unionByName(ends.select(tagged(TripEvent.KindEnd, lit(null).cast(startType),
        side(endType), "dropoff_datetime"): _*))
      .as[TripEvent]
  }

  /** Streaming S4: JSON value stream → typed start events. */
  def decodeStartStream(spark: SparkSession, lines: DataFrame): Dataset[TripStart] = {
    import spark.implicits._
    decodeJson(lines, TripSchemas.tripStartSchema).as[TripStart]
  }

  /** Streaming S4: JSON value stream → typed end events. Decodes
    * against the DoubleType-quad wire schema, then casts to canonical —
    * a producer emitting the raw `5.0`-style floats round-trips intact.
    */
  def decodeEndStream(spark: SparkSession, lines: DataFrame): Dataset[TripEnd] = {
    import spark.implicits._
    castToCanonicalEnd(decodeJson(lines, TripSchemas.tripEndWireSchema)).as[TripEnd]
  }
}
