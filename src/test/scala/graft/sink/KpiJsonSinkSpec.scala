package graft.sink

import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase
import graft.core.{DailyKpiJob, KpiAggregation}
import graft.schema.TripSchemas

class KpiJsonSinkSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private def sampleTrips = {
    import spark.implicits._
    Seq(
      ("t1", TripSchemas.StatusCompleted, 10.0, Date.valueOf("2024-05-25")),
      ("t2", TripSchemas.StatusCompleted, 30.0, Date.valueOf("2024-05-25")),
      ("t3", TripSchemas.StatusStarted, 0.0, Date.valueOf("2024-05-25")))
      .toDF("trip_id", "status", "fare_amount", "date")
      .withColumn("dropoff_datetime",
        org.apache.spark.sql.functions.lit(null).cast("timestamp"))
  }

  test("writeDaily lands one JSON doc at <out>/yyyy-MM/yyyy-MM-dd.json") {
    val out = Files.createTempDirectory("graft-kpi").toString
    val docs = KpiAggregation.kpiDocument(KpiAggregation.dailyKpis(sampleTrips))
    val paths = KpiJsonSink.writeDaily(docs, out)
    paths should have size 1
    paths.head shouldBe Paths.get(out, "2024-05", "2024-05-25.json").toString
    val json = Files.readString(Paths.get(paths.head))
    json should include(""""date":"2024-05-25"""")
    json should include(""""metrics"""")
    json should include(""""count_trips":2""")
    json should include(""""total_fare":40.0""")
  }

  test("DailyKpiJob end-to-end writes the doc for a populated day") {
    val table = Files.createTempDirectory("graft-kpi").resolve("trips").toString
    val out = Files.createTempDirectory("graft-kpi-out").toString
    TripTableSink.writeSnapshot(sampleTrips, table)
    val paths = DailyKpiJob.run(spark, table, out, Some("2024-05-25"))
    paths should have size 1
    Files.exists(Paths.get(out, "2024-05", "2024-05-25.json")) shouldBe true
  }

  private def listing(dir: java.nio.file.Path): Seq[String] =
    dir.toFile.list().toSeq.sorted

  test("a published month directory holds exactly the KPI documents, no .crc sidecars") {
    import spark.implicits._
    val twoDays = sampleTrips.unionByName(Seq(
        ("t4", TripSchemas.StatusCompleted, 12.0, Date.valueOf("2024-05-26")))
      .toDF("trip_id", "status", "fare_amount", "date")
      .withColumn("dropoff_datetime",
        org.apache.spark.sql.functions.lit(null).cast("timestamp")))
    val out = Files.createTempDirectory("graft-kpi")
    KpiJsonSink.writeDaily(
      KpiAggregation.kpiDocument(KpiAggregation.dailyKpis(twoDays)), out.toString)
    listing(out.resolve("2024-05")) shouldBe Seq("2024-05-25.json", "2024-05-26.json")

    val table = Files.createTempDirectory("graft-kpi").resolve("trips").toString
    val jobOut = Files.createTempDirectory("graft-kpi-out")
    TripTableSink.writeSnapshot(sampleTrips, table)
    DailyKpiJob.run(spark, table, jobOut.toString, Some("2024-05-25"))
    listing(jobOut.resolve("2024-05")) shouldBe Seq("2024-05-25.json")
  }

  test("republishing over a checksummed earlier write drops its stale sidecar") {
    val out = Files.createTempDirectory("graft-kpi")
    val doc = new org.apache.hadoop.fs.Path(out.resolve("2024-05").resolve("2024-05-25.json").toString)
    val local = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val old = local.create(doc, true)
    try old.write("{}".getBytes("UTF-8")) finally old.close()
    listing(out.resolve("2024-05")) should contain(".2024-05-25.json.crc")
    KpiJsonSink.writeDaily(
      KpiAggregation.kpiDocument(KpiAggregation.dailyKpis(sampleTrips)), out.toString)
    listing(out.resolve("2024-05")) shouldBe Seq("2024-05-25.json")
    // a checksummed reader sees the new bytes, not a checksum mismatch
    val in = local.open(doc)
    try new String(in.readAllBytes(), "UTF-8") should include(""""count_trips":2""")
    finally in.close()
  }

  test("DailyKpiJob on an append-delta table does not double-count redeliveries") {
    import spark.implicits._
    val table = Files.createTempDirectory("graft-kpi").resolve("trips").toString
    val out = Files.createTempDirectory("graft-kpi-out").toString
    def completed(fare: Double) = Seq(
      ("t1", TripSchemas.StatusCompleted, fare, Date.valueOf("2024-05-25")))
      .toDF("trip_id", "status", "fare_amount", "date")
      .withColumn("dropoff_datetime",
        org.apache.spark.sql.functions.lit(Timestamp.valueOf("2024-05-25 10:25:00")))
    TripTableSink.appendDelta(completed(24.5), table, epoch = 0L)
    TripTableSink.appendDelta(completed(24.5), table, epoch = 1L) // redelivery
    val paths = DailyKpiJob.run(spark, table, out, Some("2024-05-25"))
    paths should have size 1
    val json = Files.readString(Paths.get(paths.head))
    json should include(""""count_trips":1""") // merged, not double-counted
    json should include(""""total_fare":24.5""")
  }

  test("F5: an empty day produces no output file") {
    val table = Files.createTempDirectory("graft-kpi").resolve("trips").toString
    val out = Files.createTempDirectory("graft-kpi-out").toString
    TripTableSink.writeSnapshot(sampleTrips, table)
    val paths = DailyKpiJob.run(spark, table, out, Some("2030-01-01"))
    paths shouldBe empty
    Files.list(Paths.get(out)).count() shouldBe 0
  }

  test("a null-date KPI row is skipped, not a publish-aborting NPE") {
    import spark.implicits._
    val trips = Seq(
      ("t1", TripSchemas.StatusCompleted, 10.0, Some(Date.valueOf("2024-05-25"))),
      ("t2", TripSchemas.StatusCompleted, 30.0, None: Option[Date]))
      .toDF("trip_id", "status", "fare_amount", "date")
    val out = Files.createTempDirectory("graft-kpi").toString
    val docs = KpiAggregation.kpiDocument(KpiAggregation.dailyKpis(trips))
    val paths = KpiJsonSink.writeDaily(docs, out)
    paths should have size 1 // the valid day published, null group skipped
    paths.head should endWith("2024-05-25.json")
  }

  test("upsert preserves previously stored null-date rows") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-sink").resolve("trips").toString
    def row(id: String, date: Option[Date]) = Seq((id, TripSchemas.StatusStarted, 0.0, date))
      .toDF("trip_id", "status", "fare_amount", "date")
      .withColumn("dropoff_datetime",
        org.apache.spark.sql.functions.lit(null).cast("timestamp"))
    TripTableSink.upsert(spark, row("x", None), path, epoch = 0L)
    TripTableSink.upsert(spark, row("y", None), path, epoch = 1L)
    // a plain equi-join date prune would have dropped x when y's batch
    // rewrote the null partition
    spark.read.parquet(path).select("trip_id").collect()
      .map(_.getString(0)).sorted shouldBe Array("x", "y")
  }

  test("P8: previousDay computes yyyy-MM-dd minus one day") {
    import spark.implicits._
    val prev = Seq(Timestamp.valueOf("2024-03-01 05:00:00")).toDF("ts")
      .select(KpiAggregation.previousDay(org.apache.spark.sql.functions.col("ts")))
      .head.getString(0)
    prev shouldBe "2024-02-29" // leap year
  }
}
