package graft.ingest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet table reads that resolve the schema on the driver.
  *
  * `spark.read.parquet(paths)` without a schema runs a one-task Spark
  * job (`SchemaMergeUtils.mergeSchemasInParallel`) to read a single
  * footer: about 60-75 ms of CPU per read, paid by every registry
  * query and every nightly KPI day. [[read]] reads that same footer
  * here and hands the schema to `spark.read.schema(s).parquet(paths)`,
  * so building the frame runs no job. Partition columns still come
  * from Spark's path discovery.
  *
  * Which footer: the one Spark's non-merge inference reads
  * (`ParquetUtils.inferSchema`). Of the leaf files under the paths
  * (names hidden by `InMemoryFileIndex`'s rule — a leading `_` without
  * `=`, a leading `.`, a `._COPYING_` suffix — are skipped), Spark takes
  * the first `_common_metadata`, else the first `_metadata`, else the
  * first data file, each in path-string order. The walk here lists
  * directories lazily in that order and stops at the first data file;
  * summary files are honoured where the walk lists (every root
  * directory, which is where parquet's summary writer puts them). The
  * footer is converted with Spark's own `readSchemaFromFooter` and a
  * `ParquetToSparkSchemaConverter` over the session conf, so Spark's
  * row metadata, `nanosAsLong` and NTZ inference resolve as they do in
  * Spark's own inference.
  *
  * Spark's own read is kept where the schema cannot be known this way:
  * glob paths, missing paths (Spark reports them), path sets with no
  * data file (Spark reports `UNABLE_TO_INFER_SCHEMA`), a single
  * directory a file stream sink writes (Spark takes its files from the
  * sink's `_spark_metadata` log, not from a listing), files that also
  * store a partition column (Spark then places and types that column
  * by the path), and sessions that merge schemas
  * (`spark.sql.parquet.mergeSchema`).
  */
object ParquetRead {

  /** What the walk found under a set of paths. */
  private sealed trait Found
  /** Spark's own read decides (see the object's doc). */
  private case object SparkDecides extends Found
  private case object NoDataFile extends Found
  private final case class Schema(schema: StructType) extends Found

  /** `spark.read.parquet(paths: _*)`, with the schema read on the
    * driver (see the object's doc). */
  def read(spark: SparkSession, paths: String*): DataFrame = load(spark, paths, None)

  /** [[read]], except that paths holding no data file yet read as an
    * empty frame with columns `empty` (for a table whose writers may
    * have committed only empty epochs). */
  def readOrEmpty(spark: SparkSession, empty: StructType, paths: String*): DataFrame =
    load(spark, paths, Some(empty))

  private def load(spark: SparkSession, paths: Seq[String], empty: Option[StructType]): DataFrame =
    (find(spark, paths), empty) match {
      case (Schema(s), _) => spark.read.schema(s).parquet(paths: _*)
      case (NoDataFile, Some(e)) => spark.read.schema(e).parquet(paths: _*)
      case _ => spark.read.parquet(paths: _*)
    }

  /** A file stream sink's log: Spark then reads the files it lists. */
  private val SinkLogDir = "_spark_metadata"

  private def isGlob(p: String): Boolean = p.exists("{}[]*?\\".contains(_))

  /** `HadoopFSUtils.shouldFilterOutPathName`, the listing's hidden rule. */
  private def hidden(name: String): Boolean = {
    val exclude = (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")
    exclude && !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))
  }

  /** A leaf file, with the directory names between its root and it. */
  private final case class Leaf(file: FileStatus, dirs: List[String]) {
    def key: String = file.getPath.toString
    def name: String = file.getPath.getName
  }

  private def isSummary(name: String): Boolean =
    name == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE ||
      name == ParquetFileWriter.PARQUET_METADATA_FILE

  private def find(spark: SparkSession, paths: Seq[String]): Found =
    if (paths.isEmpty || paths.exists(isGlob) ||
        spark.sessionState.conf.isParquetSchemaMergingEnabled) SparkDecides
    else {
      val conf = spark.sessionState.newHadoopConf()
      val summaries, data = List.newBuilder[Leaf]
      var sinkLog = false
      // Depth-first in path-string order: a directory's leaves all sort
      // after `dir/`, so the first data file met is the first overall.
      def firstData(dir: Path, dirs: List[String]): Option[Leaf] = {
        val listed = dir.getFileSystem(conf).listStatus(dir).toSeq
        if (dirs.isEmpty) sinkLog ||= listed.exists(_.getPath.getName == SinkLogDir)
        val (sums, rest) = listed.filterNot(c => hidden(c.getPath.getName))
          .partition(c => c.isFile && isSummary(c.getPath.getName))
        summaries ++= sums.map(Leaf(_, dirs))
        rest.sortBy(c => if (c.isDirectory) c.getPath.toString + "/" else c.getPath.toString)
          .iterator.map { c =>
            if (c.isDirectory) firstData(c.getPath, c.getPath.getName :: dirs)
            else Some(Leaf(c, dirs))
          }.collectFirst { case Some(leaf) => leaf }
      }
      try {
        paths.foreach { p =>
          val path = new Path(p)
          val status = path.getFileSystem(conf).getFileStatus(path)
          if (status.isDirectory) data ++= firstData(path, Nil)
          else if (!hidden(path.getName))
            (if (isSummary(path.getName)) summaries else data) += Leaf(status, Nil)
        }
        val sums = summaries.result()
        if (sinkLog && paths.size == 1) SparkDecides
        else Seq(sums.filter(_.name == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE),
          sums.filter(_.name == ParquetFileWriter.PARQUET_METADATA_FILE), data.result())
          .find(_.nonEmpty).map(_.minBy(_.key))
          .fold[Found](NoDataFile)(footerSchema(spark, conf, _))
      } catch { case _: java.io.FileNotFoundException => SparkDecides }
    }

  private def footerSchema(spark: SparkSession, conf: Configuration, leaf: Leaf): Found = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(leaf.file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val schema = ParquetFileFormat.readSchemaFromFooter(
      new Footer(leaf.file.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    val resolver = spark.sessionState.conf.resolver
    val partitionCols = leaf.dirs.filter(_.contains("=")).map(_.takeWhile(_ != '='))
    if (schema.fieldNames.exists(f => partitionCols.exists(resolver(_, f)))) SparkDecides
    else Schema(schema)
  }
}
