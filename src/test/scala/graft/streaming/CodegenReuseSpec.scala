package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase
import graft.schema.TripSchemas
import graft.sink.TripTableSink

/** Periodic run-once drains (`Trigger.AvailableNow`) start a new
  * streaming query each time. The second drain of the same pipeline
  * must reuse the first drain's generated code: every streaming query
  * runs in a cloned session, and with Spark's artifact isolation on each
  * clone got its own executor classloader, so `CodeGenerator`'s
  * `(classloader, source)` cache missed and every drain recompiled.
  */
class CodegenReuseSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private def startJson(id: String, ts: String) =
    s"""{"trip_id":"$id","pickup_location_id":132,"dropoff_location_id":83,""" +
      s""""vendor_id":1,"pickup_datetime":"$ts",""" +
      s""""estimated_dropoff_datetime":"$ts","estimated_fare_amount":25.1}"""

  private def endJson(id: String, ts: String) =
    s"""{"trip_id":"$id","dropoff_datetime":"$ts","rate_code":1.0,""" +
      s""""passenger_count":2.0,"trip_distance":3.1,"fare_amount":24.5,""" +
      s""""tip_amount":2.0,"payment_type":1.0,"trip_type":1.0}"""

  /** Writes `<dir>/<n>.json`; the file source admits files in
    * modification-time order, so file `n` is stamped `n` seconds in.
    */
  private def writeFile(dir: Path, n: Int, lines: Seq[String]): Unit = {
    Files.createDirectories(dir)
    val f = Files.write(dir.resolve(s"$n.json"),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.setLastModifiedTime(f, FileTime.fromMillis(1700000000000L + n * 1000L)): Unit
  }

  /** Three start files and two end files, drained one of each per
    * trigger: a completed trip, a corrupt line, a trip that never ends
    * and is evicted once the second trigger moves the watermark past its
    * timeout, and a trip still open when the drain ends.
    */
  private lazy val feed: Path = {
    val root = Files.createTempDirectory("graft-codegen-feed")
    writeFile(root.resolve("start"), 0, Seq(
      startJson("s1", "2024-05-25 10:00:00"),
      startJson("s2", "2024-05-25 10:05:00")))
    writeFile(root.resolve("end"), 0, Seq(
      endJson("s1", "2024-05-25 10:25:00"),
      "{not json at all"))
    writeFile(root.resolve("start"), 1, Seq(
      startJson("s3", "2024-05-25 13:00:00")))
    writeFile(root.resolve("end"), 1, Seq(
      endJson("s3", "2024-05-25 13:20:00")))
    writeFile(root.resolve("start"), 2, Seq(
      startJson("s4", "2024-05-25 13:30:00")))
    root
  }

  /** One drain into a fresh table and checkpoint: (janino compiles it
    * paid, the merged table sorted by trip id).
    */
  private def drain(): (Long, Seq[Row]) = {
    val base = Files.createTempDirectory("graft-codegen-drain")
    def lines(side: String) = spark.readStream.option("maxFilesPerTrigger", "1")
      .text(feed.resolve(side).toString)
    val table = base.resolve("table").toString
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val q = TripStreamJob.start(spark, lines("start"), lines("end"),
      table, base.resolve("ckpt").toString,
      trigger = Trigger.AvailableNow(), timeoutMs = 600000L)
    try q.awaitTermination() finally q.stop()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    (compiles, TripTableSink.readMerged(spark, table).collect().toSeq.sortBy(_.getString(0)))
  }

  test("GraftSession turns Spark's artifact isolation off") {
    spark.conf.get("spark.sql.artifact.isolation.enabled") shouldBe "false"
  }

  test("a second AvailableNow drain gives the same table and compiles no code") {
    val (_, first) = drain()
    val (compiles, second) = drain()
    second shouldBe first
    first.map(r => r.getString(0) -> r.getAs[String]("status")) shouldBe Seq(
      "s1" -> TripSchemas.StatusCompleted, "s2" -> TripSchemas.StatusExpired,
      "s3" -> TripSchemas.StatusCompleted, "s4" -> TripSchemas.StatusStarted)
    compiles shouldBe 0L
  }
}
