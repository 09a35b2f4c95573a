package graft.sink

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ingest.ParquetRead
import graft.schema.TripSchemas

/** Keyed upsert sink for the trips table (SURVEY.md §2.1 S7/S8).
  *
  * The DynamoDB analog: a `date`-partitioned parquet table with
  * last-write-wins merge by `trip_id`. Partitioning by `date` gives the
  * daily KPI job free partition pruning (Catalyst
  * PruneFileSourcePartitions replaces the reference's manual
  * KeyConditionExpression, daily_kpi_aggregation.py:45-56).
  *
  * Two write strategies:
  *  - [[upsert]] — read-merge-rewrite of touched date partitions. Simple
  *    and compact, but O(partition) I/O per micro-batch: fine for daily
  *    batch loads, wrong for a 100 s streaming trigger.
  *  - [[appendDelta]] + [[readMerged]] + [[compact]] — the scale path:
  *    each micro-batch APPENDS its rows (epoch-stamped); readers apply
  *    last-write-wins merge-on-read; periodic [[compact]] folds deltas.
  *    Per-trigger I/O is O(batch), not O(day²). On a production cluster
  *    the same interface targets a Delta/Iceberg MERGE; plain parquet
  *    keeps the engine dependency-free here.
  */
object TripTableSink {

  private val seqCol = "__graft_seq"

  /** The columns an append-delta table reads with: the trip record's
    * columns, the epoch column, then the `date` partition column. */
  private lazy val emptyTableSchema: StructType = StructType(
    (TripSchemas.tripRecordSchema.filterNot(_.name == "date") :+
      StructField(seqCol, LongType) :+ TripSchemas.tripRecordSchema("date"))
      .map(_.copy(nullable = true)))

  /** The raw rows of the table at `path`, every epoch's (see
    * [[readMerged]] for the last-write-wins view). An epoch whose
    * micro-batch emitted no rows leaves only `_SUCCESS` behind; a table
    * holding no data file yet reads as empty, not as a schema-inference
    * error. */
  def read(spark: SparkSession, path: String): DataFrame =
    ParquetRead.readOrEmpty(spark, emptyTableSchema, path)

  /** Row precedence within one epoch: a Completed record must never be
    * shadowed by the Started emitted in the same micro-batch (Update
    * mode emits both), and a real terminal state beats an eviction.
    */
  private def statusRank: Column =
    when(col("status") === TripSchemas.StatusCompleted, 3)
      .when(col("status") === TripSchemas.StatusExpired, 2)
      .otherwise(1)

  private def lastWriteWins(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("trip_id"))
      .orderBy(col(seqCol).desc, statusRank.desc,
        col("dropoff_datetime").desc_nulls_last)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Full-snapshot write, date-partitioned. */
  def writeSnapshot(trips: DataFrame, path: String): Unit =
    trips.write.mode(SaveMode.Overwrite).partitionBy("date").parquet(path)

  /** Last-write-wins upsert of `batch` into the table at `path`,
    * keyed by `trip_id`, rewriting only touched `date` partitions.
    * `epoch` orders writers (foreachBatch passes its batchId).
    */
  def upsert(spark: SparkSession, batch: DataFrame, path: String, epoch: Long): Unit = {
    val incoming = batch.withColumn(seqCol, lit(epoch))
    val merged =
      if (!tableExists(spark, path)) lastWriteWins(incoming)
      else {
        val existing0 = read(spark, path)
        // An append-delta table already carries real epochs — keep them
        // so merge order stays correct if upsert runs over one (e.g. a
        // backfill); snapshot tables get a below-everything sentinel.
        val existing =
          if (existing0.columns.contains(seqCol)) existing0
          else existing0.withColumn(seqCol, lit(-1L))
        // Prune to touched dates only: tiny broadcast semi-join against
        // the batch's date set, so a day's upsert never reads the table's
        // full history. Null-safe equality: date can be null (unparsable
        // pickup time) and a plain equi-join would EXCLUDE stored
        // null-date rows from the merge, then overwrite their partition
        // without them — silent deletion.
        val touched = incoming.select(col("date").as("__touched_date")).distinct()
        val existingTouched = existing
          .join(broadcast(touched), existing("date") <=> touched("__touched_date"), "left_semi")
        lastWriteWins(existingTouched.unionByName(incoming))
      }
    val out = merged.drop(seqCol)
    val conf = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try out.write.mode(SaveMode.Overwrite).partitionBy("date").parquet(path)
    finally conf.foreach(spark.conf.set("spark.sql.sources.partitionOverwriteMode", _))
  }

  // -------------------------------------------------------------------
  // Delta-append strategy (scale path)
  // -------------------------------------------------------------------

  /** Append one epoch's rows — O(batch) I/O, no read of existing data.
    * The batch is repartitioned by `date` first: without it every
    * upstream task (state partitions, typically 32+) opens a writer in
    * every touched date dir, so one epoch lands tasks×dates small
    * files and the merge-on-read listing pays for it forever — the
    * same small-files cliff measured at 13-18× (BENCH_NOTES.md, "Round
    * 14: manifest-table probe"). With it, an epoch writes one file per
    * touched date; the added shuffle moves only the micro-batch's own
    * rows.
    */
  def appendDelta(batch: DataFrame, path: String, epoch: Long): Unit =
    batch.withColumn(seqCol, lit(epoch))
      .repartition(col("date"))
      .write.mode(SaveMode.Append).partitionBy("date").parquet(path)

  /** Merge-on-read view: latest record per trip_id across all appended
    * epochs. The window shuffle is by trip_id over only the rows of the
    * dates actually read — combine with a `date` filter for pruning.
    */
  def readMerged(spark: SparkSession, path: String): DataFrame =
    mergedView(read(spark, path))

  /** Last-write-wins view over an already-loaded (and possibly
    * date-pruned) frame. Snapshot/upsert tables carry no epoch column
    * and are already one-row-per-key; append-delta frames are merged.
    * Readers that prune first (the daily KPI job) use this so pruning
    * happens before the merge window.
    */
  def mergedView(df: DataFrame): DataFrame =
    if (df.columns.contains(seqCol)) lastWriteWins(df).drop(seqCol) else df

  /** Fold all deltas into a single epoch (run periodically, e.g. daily).
    * Writes the merged snapshot aside, then swaps via two renames (old
    * table aside, snapshot in) — there is no delete-before-publish
    * window, so a crash strands at worst a `.old` directory, never the
    * data. Rows are stamped with the table's CURRENT max epoch, so
    * post-compaction appends with higher batchIds still win last-write-
    * wins (stamping 0 would let stale compacted rows beat fresh writes
    * after a checkpoint reset ties the epochs).
    *
    * EXCLUSIVE-ACCESS maintenance op: pause the streaming appender
    * first. The directory rename moves whatever is in the table at that
    * instant — an epoch appended mid-swap would be lost with the `.old`
    * cleanup. (A production deployment swaps a catalog/manifest pointer
    * — Delta/Iceberg — precisely to avoid this constraint.) Renames are
    * checked: Hadoop reports most failures as `false`, and an unchecked
    * failed first rename would nest the snapshot INSIDE the live table,
    * doubling every row.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    // A scheduled compaction of a not-yet-populated table is a no-op:
    // missing path, or a table with zero rows or no data file at all
    // (max(seq) is null — getLong would NPE).
    if (!tableExists(spark, path)) return
    val current0 = read(spark, path)
    val current =
      if (current0.columns.contains(seqCol)) current0
      else current0.withColumn(seqCol, lit(0L))
    val maxSeqRow = current.agg(max(col(seqCol))).head
    if (maxSeqRow.isNullAt(0)) return
    val maxSeq: Long = maxSeqRow.getLong(0)
    val tmp = path + ".compact.tmp"
    val old = path + ".compact.old"
    lastWriteWins(current)
      .withColumn(seqCol, lit(maxSeq))
      .write.mode(SaveMode.Overwrite).partitionBy("date").parquet(tmp)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val hTmp = new org.apache.hadoop.fs.Path(tmp)
    val hOld = new org.apache.hadoop.fs.Path(old)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(hOld, true)
    require(fs.rename(hPath, hOld), s"compact: failed to move $path aside")
    require(fs.rename(hTmp, hPath),
      s"compact: failed to publish snapshot to $path (old data at $old)")
    fs.delete(hOld, true)
  }

  /** foreachBatch hook using the append strategy. */
  def foreachBatchAppend(path: String): (DataFrame, Long) => Unit =
    (batch, epoch) => appendDelta(batch, path, epoch)

  private def tableExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }
}
