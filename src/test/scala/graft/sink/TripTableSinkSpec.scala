package graft.sink

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase
import graft.core.{DailyKpiJob, TripCorrelation}
import graft.schema.{TripEnd, TripSchemas, TripStart}

class TripTableSinkSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private def tmp(): String =
    Files.createTempDirectory("graft-sink").resolve("trips").toString

  private def trips(rows: (String, String, Option[String], Double)*): DataFrame = {
    import spark.implicits._
    rows.map { case (id, status, dropoff, fare) =>
      (id, status, dropoff.map(Timestamp.valueOf), fare, Date.valueOf("2024-05-25"))
    }.toDF("trip_id", "status", "dropoff_datetime", "fare_amount", "date")
  }

  test("same-epoch tie-break: Completed never shadowed by Started") {
    val path = tmp()
    val batch = trips(
      ("t1", TripSchemas.StatusStarted, None, 0.0),
      ("t1", TripSchemas.StatusCompleted, Some("2024-05-25 10:25:00"), 24.5))
    TripTableSink.upsert(spark, batch, path, epoch = 0L)
    val out = spark.read.parquet(path).collect()
    out should have size 1
    out.head.getAs[String]("status") shouldBe TripSchemas.StatusCompleted
  }

  test("later epoch wins (put_item overwrite semantics)") {
    val path = tmp()
    TripTableSink.upsert(spark,
      trips(("t1", TripSchemas.StatusStarted, None, 0.0)), path, epoch = 0L)
    TripTableSink.upsert(spark,
      trips(("t1", TripSchemas.StatusCompleted, Some("2024-05-25 10:25:00"), 24.5)),
      path, epoch = 1L)
    val out = spark.read.parquet(path).collect()
    out should have size 1
    out.head.getAs[String]("status") shouldBe TripSchemas.StatusCompleted
    out.head.getAs[Double]("fare_amount") shouldBe 24.5
  }

  test("append-delta: a second batch does not rewrite existing files") {
    val path = tmp()
    TripTableSink.appendDelta(
      trips(("t1", TripSchemas.StatusStarted, None, 0.0)), path, epoch = 0L)
    def files() = {
      val dir = new java.io.File(path)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(dir).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    }
    val before = files()
    before should not be empty
    TripTableSink.appendDelta(
      trips(("t1", TripSchemas.StatusCompleted, Some("2024-05-25 10:25:00"), 24.5)),
      path, epoch = 1L)
    val after = files()
    // every pre-existing file untouched, new files appended
    before.foreach { case (p, mtime) =>
      after should contain(p -> mtime)
    }
    after.size should be > before.size
    // merge-on-read resolves to the completed record
    val merged = TripTableSink.readMerged(spark, path).collect()
    merged should have size 1
    merged.head.getAs[String]("status") shouldBe TripSchemas.StatusCompleted
  }

  test("compact on a missing or empty table is a no-op, not an NPE") {
    val missing = tmp() + "/never-written"
    noException should be thrownBy TripTableSink.compact(spark, missing)

    // schema-but-zero-rows table: max(seq) is null
    val path = tmp()
    trips(("t1", TripSchemas.StatusStarted, None, 0.0))
      .limit(0).write.parquet(path)
    noException should be thrownBy TripTableSink.compact(spark, path)
    spark.read.parquet(path).count() shouldBe 0
  }

  test("compact folds deltas and preserves the merged view") {
    val path = tmp()
    TripTableSink.appendDelta(
      trips(("t1", TripSchemas.StatusStarted, None, 0.0)), path, epoch = 0L)
    TripTableSink.appendDelta(
      trips(
        ("t1", TripSchemas.StatusCompleted, Some("2024-05-25 10:25:00"), 24.5),
        ("t2", TripSchemas.StatusStarted, None, 0.0)), path, epoch = 1L)
    TripTableSink.compact(spark, path)
    val rows = spark.read.parquet(path)
    rows.count() shouldBe 2 // physically folded: one row per trip
    val merged = TripTableSink.readMerged(spark, path)
      .orderBy("trip_id").collect()
    merged.map(_.getAs[String]("status")) shouldBe
      Array(TripSchemas.StatusCompleted, TripSchemas.StatusStarted)
  }

  test("a table whose only epoch emitted no rows reads as an empty trip table") {
    import spark.implicits._
    val path = tmp()
    val starts = Seq.empty[TripStart].toDS().toDF()
    val ends = Seq.empty[TripEnd].toDS().toDF()
    TripTableSink.appendDelta(TripCorrelation.correlate(starts.limit(0), ends.limit(0)), path, 0L)
    def visible() = new java.io.File(path).list().toSeq.filterNot(_.startsWith("."))
    visible() shouldBe Seq("_SUCCESS")

    // the same columns, in the same order, as a table with rows
    val populated = tmp()
    TripTableSink.appendDelta(TripCorrelation.correlate(
      Seq(TripStart("t1", None, None, None, Some(Timestamp.valueOf("2024-05-25 10:00:00")),
        None, Some(5.0))).toDS().toDF(), ends), populated, 0L)
    TripTableSink.read(spark, path).schema shouldBe TripTableSink.read(spark, populated).schema

    val merged = TripTableSink.readMerged(spark, path)
    merged.schema shouldBe TripTableSink.readMerged(spark, populated).schema
    merged.count() shouldBe 0L
    noException should be thrownBy TripTableSink.compact(spark, path)
    visible() shouldBe Seq("_SUCCESS")
    DailyKpiJob.run(spark, path, tmp() + "/kpi", Some("2024-05-25")) shouldBe empty
  }
}
