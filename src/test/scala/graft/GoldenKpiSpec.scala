package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core.{KpiAggregation, TripCorrelation}
import graft.ingest.EventReader

/** Golden end-to-end: the reference's published KPI document reproduced
  * from its own CSVs (BASELINE.md float64-recompute column), via BOTH
  * the batch-join path and the state-machine replay path.
  */
class GoldenKpiSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private def startCsv = ReferenceFixture.path("trip_start.csv")
  private def endCsv = ReferenceFixture.path("trip_end.csv")

  // BASELINE.md "float64 recompute" column (engine computes in double).
  private val golden = Map(
    "count_trips" -> 4468.0,
    "total_fare" -> 245273.31744125657,
    "average_fare" -> 54.89555000923379,
    "max_fare" -> 99.9901266575316,
    "min_fare" -> 10.036694629486496)

  private def checkKpis(row: org.apache.spark.sql.Row): Unit = {
    row.getAs[Long]("count_trips") shouldBe 4468L
    row.getAs[Double]("total_fare") shouldBe golden("total_fare") +- 1e-4
    row.getAs[Double]("average_fare") shouldBe golden("average_fare") +- 1e-7
    row.getAs[Double]("max_fare") shouldBe golden("max_fare") +- 1e-9
    row.getAs[Double]("min_fare") shouldBe golden("min_fare") +- 1e-9
  }

  test("batch join path reproduces the golden KPI document") {
    val starts = EventReader.readTripStarts(spark, startCsv)
    val ends = EventReader.readTripEnds(spark, endCsv)
    val trips = TripCorrelation.correlate(starts, ends)
    val kpis = KpiAggregation.kpisForDate(trips, "2024-05-25")
    checkKpis(kpis.head())
  }

  test("state-machine replay path reproduces the same KPIs") {
    val starts = EventReader.tripStarts(spark, startCsv)
    val ends = EventReader.tripEnds(spark, endCsv)
    val events = EventReader.taggedUnion(spark, starts, ends)
    val records = TripCorrelation.correlateBatchViaState(events)
    val kpis = KpiAggregation.kpisForDate(
      records.toDF(), "2024-05-25")
    checkKpis(kpis.head())
  }

  test("F4: exactly 531 end events carry the all-or-nothing null quad") {
    val ends = EventReader.readTripEnds(spark, endCsv)
    val nullQuad = ends.where(col("rate_code").isNull)
    nullQuad.count() shouldBe 531L
    // all-or-nothing: every null-rate_code row nulls the whole quad
    nullQuad.where(
      col("passenger_count").isNotNull || col("payment_type").isNotNull ||
        col("trip_type").isNotNull).count() shouldBe 0L
  }

  test("J3 diagnostic: reference data has no orphan ends") {
    val starts = EventReader.readTripStarts(spark, startCsv)
    val ends = EventReader.readTripEnds(spark, endCsv)
    TripCorrelation.droppedEnds(starts, ends).count() shouldBe 0L
  }
}
