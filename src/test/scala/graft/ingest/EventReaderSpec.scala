package graft.ingest

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{ReferenceFixture, SparkTestBase}
import graft.schema.{TripEnd, TripEvent, TripSchemas, TripStart}

class EventReaderSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private def lines = {
    import spark.implicits._
    Seq(
      Some("""{"trip_id":"a1","pickup_datetime":"2024-05-25 10:00:00"}"""),
      Some("""{broken json"""),
      Some("""{"pickup_datetime":"2024-05-25 10:00:00"}"""), // no trip_id
      None, // tombstone: null value must land in the DLQ, not vanish
      Some("""{"trip_id":"a2"}""")).toDF("value")
  }

  test("decodeJson and corruptRecords partition the input") {
    val good = EventReader.decodeJson(lines, TripSchemas.tripStartSchema)
    val bad = EventReader.corruptRecords(lines, TripSchemas.tripStartSchema)
    good.select("trip_id").collect().map(_.getString(0)).sorted shouldBe
      Array("a1", "a2")
    bad.count() shouldBe 3
    good.count() + bad.count() shouldBe lines.count()
  }

  // The three-step formulation the single parse replaced: project the
  // parse, test it, expand it (Catalyst re-parses the line per test).
  private def referenceDecode(df: DataFrame, schema: StructType): DataFrame =
    df.select(from_json(col("value"), schema).as("r"))
      .where(col("r").isNotNull && col("r.trip_id").isNotNull)
      .select(col("r.*"))

  private def referenceCorrupt(df: DataFrame, schema: StructType): DataFrame = {
    val r = from_json(col("value"), schema)
    df.where(col("value").isNull || r.isNull || r.getField("trip_id").isNull)
      .select(col("value").as("raw"))
  }

  /** Malformed shapes a producer can emit, beside good lines; the
    * `key` column rides along as a stream source's would.
    */
  private def edgeFeed: DataFrame = {
    import spark.implicits._
    Seq(
      Some("""{"trip_id":"a1","pickup_datetime":"2024-05-25 10:00:00","vendor_id":2}"""),
      None, // null line (tombstone)
      Some(""), // empty line
      Some("not json at all"),
      Some("""{"trip_id":"a3","pickup_datetime":"2024-05-25 10:"""), // truncated
      Some("""[{"trip_id":"a4"}]"""), // a JSON array, not an object
      Some("""{"pickup_datetime":"2024-05-25 10:00:00"}"""), // missing trip_id
      Some("""{"trip_id":null,"vendor_id":1}"""), // null trip_id
      Some("""{"trip_id":"a5","vendor_id":"two","value":1.5}"""), // bad field type
      Some("""{"trip_id":"a6","value":2.5,"fare_amount":"x"}"""),
      Some("""{"value":3.5}"""), // a payload with a value but no key
      Some("""{"trip_id":"a1","pickup_datetime":"2024-05-25 10:00:00","vendor_id":2}"""))
      .zipWithIndex.map { case (v, i) => (i, v) }.toDF("key", "value")
  }

  /** q168's schema: the payload has its own `value` field. */
  private val valueSchema = StructType(Seq(
    StructField("trip_id", StringType), StructField("value", DoubleType)))

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  for ((label, schema) <- Seq(
      "trip-start" -> TripSchemas.tripStartSchema,
      "trip-end wire" -> TripSchemas.tripEndWireSchema,
      "own value field" -> valueSchema))
    test(s"edge feed ($label schema): one parse decodes and quarantines as the three-step formulation") {
      val feed = edgeFeed
      val decoded = EventReader.decodeJson(feed, schema)
      val dlq = EventReader.corruptRecords(feed, schema)
      decoded.columns.toSeq shouldBe schema.fieldNames.toSeq
      sorted(decoded) shouldBe sorted(referenceDecode(feed, schema))
      sorted(dlq) shouldBe sorted(referenceCorrupt(feed, schema))
      // decode + DLQ split the feed exactly: every line in one of them
      decoded.count() + dlq.count() shouldBe feed.count()
    }

  test("taggedUnion builds the same events as the per-object ofStart/ofEnd mapping") {
    import spark.implicits._
    def ts(s: String) = Some(Timestamp.valueOf(s))
    val startLines = Seq(
      """{"trip_id":"t1","pickup_location_id":7,"pickup_datetime":"2024-05-25 10:00:00","estimated_fare_amount":20.5}""",
      """{"trip_id":"t2"}""",
      """{"trip_id":"t1","vendor_id":3,"pickup_datetime":"2024-05-25 10:01:00"}""")
      .toDF("value")
    val endLines = Seq(
      """{"trip_id":"t1","dropoff_datetime":"2024-05-25 10:25:00","rate_code":1.0,"passenger_count":2.0,"trip_distance":3.1,"fare_amount":24.5,"tip_amount":2.0,"payment_type":1.0,"trip_type":1.0}""",
      """{"trip_id":"t3","dropoff_datetime":"2024-05-25 11:00:00","fare_amount":9.0}""") // null quad
      .toDF("value")
    val cases = Seq(
      (EventReader.decodeStartStream(spark, startLines),
        EventReader.decodeEndStream(spark, endLines)),
      (Seq(TripStart("t4", Some(1), None, Some(2), ts("2024-05-25 12:00:00"), None, Some(5.0))).toDS(),
        Seq(TripEnd("t4", None, None, Some(1), None, Some(7.5), None, Some(2), None)).toDS()))
    for ((starts, ends) <- cases) {
      val columnar = EventReader.taggedUnion(spark, starts, ends).collect().toSeq
      val viaObjects = (starts.map(TripEvent.ofStart _).collect() ++
        ends.map(TripEvent.ofEnd _).collect()).toSeq
      columnar.map(_.toString).sorted shouldBe viaObjects.map(_.toString).sorted
      columnar should not be empty
    }
  }

  test("round trip: toJsonStream → decodeEndStream preserves the quad") {
    import spark.implicits._
    val ends = EventReader.readTripEnds(spark, ReferenceFixture.path("trip_end.csv"))
    val wire = EventReader.toJsonStream(ends, "trip_id", shards = 4)
    val decoded = EventReader.decodeEndStream(spark, wire)
    decoded.count() shouldBe 4999
    decoded.where($"rate_code".isNotNull).count() shouldBe (4999 - 531)
    // values survive, not just nullability
    val one = decoded.where($"trip_id" === ends.select("trip_id").head.getString(0))
      .head
    one.rate_code.get should be >= 1
  }
}
