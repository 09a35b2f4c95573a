package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core.{DailyKpiJob, TripCorrelation}
import graft.schema.{TripEnd, TripStart}
import graft.sink.TripTableSink

/** Job-count pins for the table reads: resolving a parquet schema runs
  * no Spark job (one per read when Spark infers it), so every count
  * below is one lower than with `spark.read.parquet`. */
class ReadJobCountSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private def tmp(): String = Files.createTempDirectory("graft-readjobs").toString

  /** An append-delta trip table: two days, two epochs. */
  private def tripTable(): String = {
    import spark.implicits._
    def ts(s: String) = Some(Timestamp.valueOf(s))
    val starts = Seq(
      TripStart("a", Some(1), Some(2), Some(1), ts("2024-05-25 10:00:00"), None, Some(10.0)),
      TripStart("b", Some(1), Some(2), Some(1), ts("2024-05-25 11:00:00"), None, Some(8.0)),
      TripStart("c", Some(3), Some(4), Some(2), ts("2024-05-26 09:00:00"), None, Some(7.0)))
      .toDS().toDF()
    val ends = Seq(
      TripEnd("a", ts("2024-05-25 10:20:00"), Some(1), Some(1), Some(2.5), Some(12.0),
        Some(1.0), Some(1), Some(1)),
      TripEnd("c", ts("2024-05-26 09:30:00"), Some(1), Some(2), Some(4.0), Some(15.0),
        Some(2.0), Some(2), Some(1))).toDS().toDF()
    val path = tmp() + "/trips"
    TripTableSink.appendDelta(TripCorrelation.correlate(starts, ends.limit(0)), path, 0L)
    TripTableSink.appendDelta(TripCorrelation.correlate(starts, ends), path, 1L)
    path
  }

  test("DailyKpiJob.run on an append-delta table runs 3 jobs per day") {
    val path = tripTable()
    val out = tmp()
    Seq("2024-05-25", "2024-05-26").foreach { day =>
      val (docs, jobs) = JobCount.during(spark)(DailyKpiJob.run(spark, path, out, Some(day)))
      docs should have size 1
      withClue(day) { jobs should have size 3 }
    }
  }

  test("TripTableSink.compact runs 4 jobs") {
    val path = tripTable()
    val (_, jobs) = JobCount.during(spark)(TripTableSink.compact(spark, path))
    jobs should have size 4
    TripTableSink.readMerged(spark, path).count() shouldBe 3L
  }

  test("building q04_daily_kpis and q05_kpi_single_date runs no job") {
    val sfDir = Paths.get(sys.props("user.home"), "testdata", "sf0.001").toString
    Seq("q04_daily_kpis", "q05_kpi_single_date").foreach { name =>
      val (df, jobs) = JobCount.during(spark)(SparkEntry.queries(name)(spark, sfDir))
      withClue(name) { jobs shouldBe empty }
      df.count() should be > 0L
    }
  }
}
