package graft.ingest

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{JobCount, SparkTestBase}
import graft.core.TripCorrelation
import graft.schema.{TripEnd, TripSchemas, TripStart}
import graft.sink.{ManifestTable, TripTableSink}

/** Equivalence pin for [[ParquetRead]]: on every table shape the engine
  * reads, the helper's frame has exactly the schema (field order,
  * nullability and metadata included) and rows of `spark.read.parquet`,
  * and building it runs no Spark job where Spark's inference runs one.
  */
class ParquetReadSpec extends AnyFunSuite with Matchers with SparkTestBase {

  /** The harness's sf0.001 tables (TESTDATA.md), one parquet file each. */
  private val sfDir = Paths.get(sys.props("user.home"), "testdata", "sf0.001")

  private def tmp(): String = Files.createTempDirectory("graft-pqread").toString

  private def sameAsSpark(paths: String*): DataFrame = {
    val (viaHelper, helperJobs) = JobCount.during(spark)(ParquetRead.read(spark, paths: _*))
    val (viaSpark, sparkJobs) = JobCount.during(spark)(spark.read.parquet(paths: _*))
    withClue(paths.mkString(", ")) {
      helperJobs shouldBe empty
      sparkJobs should have size 1
      viaHelper.schema shouldBe viaSpark.schema
      viaHelper.collect().toSeq shouldBe viaSpark.collect().toSeq
    }
    viaHelper
  }

  test("every sf0.001 table reads as spark.read.parquet does, with no job") {
    val tables = Files.list(sfDir).toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted
    tables should not be empty
    tables.foreach(sameAsSpark(_))
  }

  /** One `event_id` + `ts` file, `ts` with the given parquet annotation. */
  private def eventsFile(tsType: String, values: Seq[Long]): String = {
    val file = new Path(tmp(), "part-0.parquet")
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; optional int64 ts ($tsType); }")
    val w = ExampleParquetWriter.builder(file).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try values.zipWithIndex.foreach { case (v, i) =>
      w.write(groups.newGroup().append("event_id", i.toLong).append("ts", v))
    } finally w.close()
    file.getParent.toString
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("events timestamp forms: nanos (as long), micros NTZ, micros LTZ") {
    val nanos = eventsFile("TIMESTAMP(NANOS,true)", Seq(1704067200123456789L, 1704153600000000001L))
    val ntz = eventsFile("TIMESTAMP(MICROS,false)", Seq(1704067200123456L, 1704153600000001L))
    val ltz = eventsFile("TIMESTAMP(MICROS,true)", Seq(1704067200123456L))
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      sameAsSpark(nanos).schema("ts").dataType shouldBe LongType
    }
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "true") {
      sameAsSpark(ntz).schema("ts").dataType shouldBe TimestampNTZType
    }
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "false") {
      sameAsSpark(ntz).schema("ts").dataType shouldBe TimestampType
    }
    sameAsSpark(ltz).schema("ts").dataType shouldBe TimestampType
  }

  private def start(id: String, pickup: Option[String]) = TripStart(id, Some(1), Some(2), Some(1),
    pickup.map(Timestamp.valueOf), pickup.map(p => Timestamp.valueOf(p)), Some(10.0))
  private def end(id: String, dropoff: String) = TripEnd(id, Some(Timestamp.valueOf(dropoff)),
    Some(1), Some(1), Some(2.5), Some(12.0), Some(1.0), Some(1), Some(1))

  /** An append-delta trip table over two epochs, with a null-date trip. */
  private def appendDeltaTable(): String = {
    import spark.implicits._
    val path = tmp() + "/trips"
    val starts = Seq(start("a", Some("2024-05-25 10:00:00")), start("b", Some("2024-05-26 09:00:00")),
      start("c", None)).toDS().toDF()
    TripTableSink.appendDelta(
      TripCorrelation.correlate(starts, Seq.empty[TripEnd].toDS().toDF()), path, 0L)
    TripTableSink.appendDelta(TripCorrelation.correlate(starts.where(col("trip_id") === "a"),
      Seq(end("a", "2024-05-25 10:20:00")).toDS().toDF()), path, 1L)
    path
  }

  test("trip tables: append-delta with a null-date partition, compacted, snapshot") {
    val path = appendDeltaTable()
    new java.io.File(path, "date=__HIVE_DEFAULT_PARTITION__").isDirectory shouldBe true
    sameAsSpark(path).columns.last shouldBe "date"
    TripTableSink.compact(spark, path)
    sameAsSpark(path)
    val snapshot = tmp() + "/snap"
    TripTableSink.writeSnapshot(TripTableSink.readMerged(spark, path), snapshot)
    sameAsSpark(snapshot)
  }

  test("narrow test-shaped table, as the sink specs write it") {
    import spark.implicits._
    val path = tmp() + "/narrow"
    TripTableSink.appendDelta(
      Seq(("t1", TripSchemas.StatusStarted, Option.empty[Timestamp], 0.0,
        java.sql.Date.valueOf("2024-05-25")))
        .toDF("trip_id", "status", "dropoff_datetime", "fare_amount", "date"), path, 0L)
    sameAsSpark(path)
  }

  test("multi-path ManifestTable read, schema evolving between appends") {
    import spark.implicits._
    val path = tmp()
    ManifestTable.append((1L to 5L).toDF("id"), path)
    ManifestTable.append((6L to 8L).toDF("id").withColumn("extra", lit("x")), path)
    ManifestTable.append((9L to 9L).toDF("id"), path)
    val dirs = new java.io.File(path, "data").listFiles().map(_.toString).toSeq
    dirs should have size 3
    sameAsSpark(dirs: _*)
    sameAsSpark(dirs.reverse: _*)
    ManifestTable.readLatest(spark, path).count() shouldBe 9L
  }

  test("the first file in path order gives the schema, as in Spark's inference") {
    import spark.implicits._
    val dir = tmp()
    def single(df: DataFrame, name: String): Unit = {
      val out = tmp() + "/out"
      df.coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles().find(_.getName.startsWith("part-")).get
      Files.move(part.toPath, Paths.get(dir, name))
    }
    single(Seq((1L, "a")).toDF("id", "s"), "b.parquet")
    single(Seq(2L).toDF("id"), "a.parquet")
    single(Seq((3L, 1.5)).toDF("id", "d"), "_hidden.parquet")
    sameAsSpark(dir).columns shouldBe Array("id")
  }

  test("a _common_metadata summary gives the schema, as in Spark's inference") {
    val dir = tmp() + "/t"
    spark.range(3).toDF("id").write.option("parquet.summary.metadata.level", "ALL").parquet(dir)
    new java.io.File(dir, "_common_metadata").isFile shouldBe true
    sameAsSpark(dir)
  }

  test("a file that also stores its partition column keeps Spark's placement") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "2024-05-25")).toDF("id", "date")
      .write.parquet(s"$dir/date=2024-05-25")
    val viaHelper = ParquetRead.read(spark, dir)
    val viaSpark = spark.read.parquet(dir)
    viaHelper.schema shouldBe viaSpark.schema
    viaHelper.collect().toSeq shouldBe viaSpark.collect().toSeq
  }

  test("a file stream sink's output falls back: Spark reads the files its log lists") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$dir/src")
    val q = spark.readStream.schema("id LONG, s STRING").parquet(s"$dir/src")
      .writeStream.format("parquet").option("checkpointLocation", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start(s"$dir/out")
    q.awaitTermination(60000L) shouldBe true
    // a stray file the sink never committed, first in path order
    Seq(3.5).toDF("d").coalesce(1).write.parquet(s"$dir/stray")
    val stray = new java.io.File(s"$dir/stray").listFiles().find(_.getName.startsWith("part-")).get
    Files.move(stray.toPath, Paths.get(dir, "out", "a-stray.parquet"))
    val (viaHelper, jobs) = JobCount.during(spark)(ParquetRead.read(spark, s"$dir/out"))
    jobs should have size 1
    viaHelper.columns shouldBe Array("id", "s")
    viaHelper.collect().toSeq shouldBe spark.read.parquet(s"$dir/out").collect().toSeq
  }

  test("a glob path falls back to Spark's inference") {
    val path = appendDeltaTable()
    val glob = s"$path/date=*"
    val (viaHelper, jobs) = JobCount.during(spark)(ParquetRead.read(spark, glob))
    jobs should have size 1
    viaHelper.schema shouldBe spark.read.parquet(glob).schema
  }

  test("no data file: read reports Spark's error, readOrEmpty is empty") {
    val dir = tmp()
    Files.createFile(Paths.get(dir, "_SUCCESS"))
    val expected = the[AnalysisException] thrownBy spark.read.parquet(dir)
    val thrown = the[AnalysisException] thrownBy ParquetRead.read(spark, dir)
    thrown.getCondition shouldBe expected.getCondition
    val empty = StructType(Seq(StructField("id", LongType)))
    val df = ParquetRead.readOrEmpty(spark, empty, dir)
    df.schema shouldBe empty
    df.count() shouldBe 0L
  }
}
