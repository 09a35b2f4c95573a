package graft.sink

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{ChecksumFileSystem, Path}
import org.apache.spark.sql.DataFrame

/** Single-object dated JSON sink (SURVEY.md §2.1 S12).
  *
  * The reference writes exactly one JSON object per day to
  * `<prefix>/<yyyy-MM>/<yyyy-MM-dd>.json` via a driver-side put_object
  * (reference: daily_kpi_aggregation.py:134-157). The input here is the
  * already-aggregated KPI document — one row per day — so a driver-side
  * write is O(days), not O(data); the 100 TB of trips never leaves the
  * executors. Writes go through the Hadoop FileSystem API, so `outDir`
  * can be local, HDFS, or an object store — same as every other sink.
  */
object KpiJsonSink {

  /** Write each KPI document row to `<outDir>/<yyyy-MM>/<yyyy-MM-dd>.json`.
    * Expects the [[graft.core.KpiAggregation.kpiDocument]] shape with a
    * `date` string column. Rows with a null date (trips whose pickup
    * time failed to parse) are skipped — one bad group must not abort
    * the publish of the valid days. Returns the written paths.
    */
  def writeDaily(kpiDocs: DataFrame, outDir: String): Seq[String] = {
    import org.apache.spark.sql.functions._
    // one collect, one row per day — tiny
    val rows = kpiDocs
      .select(col("date"), to_json(struct(kpiDocs.columns.map(col): _*)).as("js"))
      .collect()
    val base = new Path(outDir)
    // One object per day and nothing beside it: a checksummed (local)
    // filesystem would add a `.<date>.json.crc` sidecar, so write through
    // its raw filesystem. `setWriteChecksum(false)` is no substitute: the
    // instance is cached and shared, and the flag would turn checksums off
    // for every writer in the JVM (state store, parquet) too.
    val (fs, checksummed) = base.getFileSystem(
        kpiDocs.sparkSession.sparkContext.hadoopConfiguration) match {
      case c: ChecksumFileSystem => (c.getRawFileSystem, Some(c))
      case other => (other, None)
    }
    rows.toSeq
      .filter(!_.isNullAt(0))
      .map { r =>
        val (date, json) = (r.getString(0), r.getString(1))
        val month = date.substring(0, 7) // P9 month-prefix partition
        val path = new Path(new Path(base, month), s"$date.json")
        // a sidecar left by an earlier checksummed publish would no
        // longer match the rewritten document
        checksummed.foreach(c => fs.delete(c.getChecksumFile(path), false))
        val out = fs.create(path, true)
        try out.write(json.getBytes(StandardCharsets.UTF_8))
        finally out.close()
        path.toString
      }
  }
}
