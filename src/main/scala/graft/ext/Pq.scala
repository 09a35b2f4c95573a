package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.VectorOps

/** Product quantization — the memory tier between int8
  * ([[Quantize]], 4× smaller) and raw floats for billion-vector ANN:
  * the vector splits into `m` subvectors, each subvector maps to its
  * nearest centroid in a per-subspace codebook of `k` entries, and the
  * stored vector becomes `m` small codes (k ≤ 256 → one byte each —
  * 64-dim float32 compresses 32× at m=8). Queries score compressed
  * rows by ASYMMETRIC distance: the query stays full-precision, and
  * `‖q − recon(codes)‖²` decomposes into `Σ_j lut[j][code_j]` where
  * the per-subspace lookup table is computed ONCE per query on the
  * driver (Jégou, Douze, Schmid, "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011).
  *
  * Shape at scale (the [[SimilaritySearch.learnCentroids]] contract):
  * codebooks fit on a bounded driver-side sample — never a full pass —
  * and ride into plans as literals; encoding is `m × k` codegen
  * [[VectorOps.sqdist]] probes per row in the scan projection (no
  * shuffle, no UDF); ADC scoring is `m` `element_at` lookups + a sum,
  * then the same TakeOrderedAndProject top-k as every other scorer.
  * Composes with IVF ([[SimilaritySearch.ivfTopK]]): coarse cells
  * prune the scan, PQ codes shrink what's scanned — the standard
  * IVF-PQ layout.
  */
object Pq {

  /** Per-subspace codebooks: `codebooks(j)(c)` is centroid `c` of
    * subspace `j` (length `dim / m` each).
    */
  final case class PqModel(codebooks: Vector[Vector[Seq[Double]]], dim: Int) {
    def m: Int = codebooks.length
    def k: Int = codebooks.head.length
    def subDim: Int = dim / m
  }

  /** 1-based slice of subspace `j` (Spark `slice` is 1-based). */
  private def sub(vec: Column, j: Int, subDim: Int): Column =
    slice(vec, j * subDim + 1, subDim)

  /** Learn the `m` codebooks on a bounded driver-side sample (one
    * reservoir sample per subspace; same seed discipline as the IVF
    * coarse quantizer). `dim` must divide evenly by `m`.
    */
  def fit(
      df: DataFrame,
      vecCol: String,
      dim: Int,
      m: Int,
      k: Int = 16,
      sampleN: Int = 2000,
      iters: Int = 5,
      seed: Long = 42L): PqModel = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(k >= 1 && k <= 256, s"k=$k must fit one byte")
    val subDim = dim / m
    // Pin the vector projection ONCE: the m per-subspace sampling
    // passes below then read cached blocks instead of re-running the
    // scan — and for [[fitResidual]], the per-row residual projection
    // (a coarse argmin + subtraction per row) — m times over (r21; the
    // sampling passes, not Lloyd, dominated the fit). The takeSample
    // draws are UNCHANGED: the pinned RDD holds the same rows in the
    // same partition order the lazy plan produced, and each subspace
    // keeps its own seeded draw, so the learned codebooks are
    // bit-identical to the unpinned spelling (PqSpec floors pin this).
    val pinned = df.where(col(vecCol).isNotNull)
      .select(col(vecCol)).localCheckpoint()
    // When the whole pinned frame is no larger than the sample, each
    // subspace's takeSample reduces to `Fisher-Yates(collect(), new
    // Random(seed+j))` (RDD.takeSample's `num >= count` branch) — but
    // spelled per subspace it pays a COUNT job + a COLLECT job m times
    // over the same pinned rows (16 driver roundtrips at m=8; the PQ
    // family's wall is these roundtrips, profiled r22). Collect ONCE,
    // slice per subspace on the driver, and run the identical shuffle +
    // Lloyd: same rows, same order, same java.util.Random draws → the
    // codebooks are bit-identical (PqSpec pins this equivalence against
    // the takeSample spelling). Larger-than-sample frames keep the
    // per-subspace seeded takeSample untouched — draws there genuinely
    // differ per subspace and the m counts are trivial next to the
    // corpus at that size.
    val total = pinned.count()
    require(total > 0, "cannot fit PQ codebooks from an empty frame")
    val books =
      if (sampleN >= total) {
        val full = pinned.collect()
          .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
        val ragged = full.indexWhere(_.length != dim)
        require(ragged < 0, s"vector $ragged of '$vecCol' has length " +
          s"${full(ragged).length}, expected dim=$dim")
        (0 until m).toVector.map { j =>
          val sliced = full.map(v =>
            java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
          // exact RDD.takeSample tail for this branch:
          // Utils.randomizeInPlace(collect(), new Random(seed))
          val rand = new java.util.Random(seed + j)
          var i = sliced.length - 1
          while (i >= 1) {
            val p = rand.nextInt(i + 1)
            val tmp = sliced(p); sliced(p) = sliced(i); sliced(i) = tmp
            i -= 1
          }
          SimilaritySearch
            .lloydSeeded(sliced, k, iters, seed + j, spherical = false)
            .toVector
        }
      } else (0 until m).toVector.map { j =>
        SimilaritySearch.learnCentroids(
          pinned.select(sub(col(vecCol), j, subDim).as("__sub")),
          "__sub", k, sampleN, iters, seed + j).toVector
      }
    // every consumer of the pinned projection completed inside this
    // method — release its blocks now (r21 ADVICE; the LinkGraph
    // iterate-unpersist pattern) instead of holding O(vectors) memory
    // until RDD GC in long-lived sessions
    pinned.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))
    PqModel(books, dim)
  }

  /** [[fit]] with every degree of freedom pinned to an
    * engine-reproducible spelling (the
    * [[SimilaritySearch.learnCentroidsDeterministic]] treatment
    * applied to PQ): ONE md5-smallest-`sampleN` sample is collected
    * (content-keyed top-n, identical on any engine/partitioning) and
    * each subspace runs the pinned Lloyd core over its subvectors —
    * first-k init in the shared sample order, 9-decimal-pinned
    * assignment distances, 6-decimal-pinned means. An oracle engine
    * can therefore unroll the whole codebook FIT (q113 does), where
    * the RNG-seeded [[fit]] can only be bounded by recall floors.
    */
  def fitPinned(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      k: Int = 16,
      sampleN: Int = 2000,
      iters: Int = 5): PqModel = {
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(k >= 1 && k <= 256, s"k=$k must fit one byte")
    val subDim = dim / m
    val sample = df.where(col(vecCol).isNotNull)
      .select(md5(col(idCol).cast("string")).as("__k"),
        col(idCol).cast("string").as("__id"), col(vecCol))
      .orderBy(col("__k"), col("__id"))
      .limit(sampleN)
      .select(col(vecCol))
      .collect()
      .map(_.getSeq[Number](0).map(_.doubleValue()).toIndexedSeq)
      .toVector
    require(sample.nonEmpty, "cannot fit PQ codebooks from an empty frame")
    val books = (0 until m).toVector.map { j =>
      val subs = sample.map(v =>
        v.slice(j * subDim, (j + 1) * subDim): IndexedSeq[Double])
      SimilaritySearch.pinnedLloyd(subs, k, iters)
        .map(c => c: Seq[Double])
    }
    PqModel(books, dim)
  }

  /** The `m`-code encoding of `vec` as an `array<int>` column: per
    * subspace, argmin over the `k` centroid distances (ties → lowest
    * code, deterministic). `m × k` codegen sqdist probes, all in the
    * scan projection.
    */
  def encode(vec: Column, model: PqModel): Column =
    // ONE fused codegen expression (r22) instead of m × k composed
    // sqdist/array_min/array_position nodes — the 512-node tree was
    // what every Catalyst pass re-walked and what boxed a k-array per
    // subspace per row (the PQ family's profiled wall). Values are
    // bit-identical, edge cases included; see
    // [[org.apache.spark.sql.graft.PqEncode]] and PqSpec's equivalence
    // pin against the composed spelling.
    org.apache.spark.sql.graft.PqEncode(vec, model.codebooks)

  /** Asymmetric distance of a full-precision driver-side query to a
    * codes column: the per-subspace lookup table is computed here once
    * (driver, `m × k` small sqdists), then each row pays `m`
    * `element_at` + a sum. Returns squared L2 to the RECONSTRUCTED
    * vector — the PQ approximation of `‖q − x‖²`.
    */
  def adcDistance(codes: Column, query: Seq[Double], model: PqModel): Column = {
    require(query.length == model.dim,
      s"query dim ${query.length} != model dim ${model.dim}")
    val lut: Vector[Seq[Double]] = (0 until model.m).toVector.map { j =>
      val qs = query.slice(j * model.subDim, (j + 1) * model.subDim)
      model.codebooks(j).map(c =>
        c.zip(qs).map { case (a, b) => (a - b) * (a - b) }.sum)
    }
    (0 until model.m)
      .map(j => element_at(typedLit(lut(j)), element_at(codes, j + 1) + 1))
      .reduce(_ + _)
  }

  /** ADC top-k over an encoded frame: cheapest distance first, ties by
    * id (deterministic). TakeOrderedAndProject — per-partition heaps,
    * no full sort, no shuffle beyond the k-row gather.
    */
  def adcTopK(
      encoded: DataFrame,
      idCol: String,
      codesCol: String,
      query: Seq[Double],
      model: PqModel,
      k: Int,
      excludeId: Option[Long] = None): DataFrame = {
    val base = excludeId.fold(encoded)(id => encoded.where(col(idCol) =!= id))
    base
      .select(col(idCol), adcDistance(col(codesCol), query, model).as("adc_dist"))
      .orderBy(col("adc_dist"), col(idCol))
      .limit(k)
  }

  /** IVF-PQ: the standard billion-vector layout — coarse cells prune
    * the scan ([[SimilaritySearch.ivfTopK]]'s geometry), PQ codes
    * shrink what's scanned. Rows outside the `nProbe` nearest cells
    * never evaluate a distance; rows inside pay the m-lookup ADC sum.
    * On a cell-partitioned store ([[SimilaritySearch]]'s persisted IVF
    * index) the cell filter becomes partition pruning and the scan
    * reads codes only — dim/8 bytes per row instead of 4·dim.
    */
  def ivfPqTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      coarseCentroids: Seq[Seq[Double]],
      model: PqModel,
      nProbe: Int = 2,
      excludeId: Option[Long] = None): DataFrame = {
    val cell = SimilaritySearch.nearestCentroid(col(vecCol), coarseCentroids, spherical = false)
    val probes = SimilaritySearch.probeCellsFor(query, coarseCentroids, nProbe)
    // spread before the cell argmin + m×k encode probes: both are
    // per-row compute dense and otherwise run single-task inside a
    // single-row-group scan stage (r21 parallelism repair, [[Par.spread]])
    val pruned = Par.spread(df.select(col(idCol), col(vecCol)), col(idCol))
      .where(cell.isin(probes: _*))
    adcTopK(
      pruned.select(col(idCol), encode(col(vecCol), model).as("__codes")),
      idCol, "__codes", query, model, k, excludeId)
  }

  /** The residual of `vec` to its assigned coarse centroid —
    * `x − c_{cell(x)}` — as a double-array column. The quantity the
    * IVFADC construction (Jégou et al. 2011, §IV) encodes instead of
    * the raw vector: residual magnitudes are a fraction of vector
    * magnitudes once the coarse quantizer has localized, so the same
    * `m × k` code budget spends its resolution on a much smaller ball.
    */
  def residual(vec: Column, coarseCentroids: Seq[Seq[Double]]): Column = {
    val cell = SimilaritySearch.nearestCentroid(vec, coarseCentroids, spherical = false)
    val cents = typedLit(coarseCentroids.map(_.toSeq))
    zip_with(vec.cast("array<double>"), element_at(cents, cell + 1),
      (a, b) => a - b)
  }

  /** [[fit]] on residuals to the coarse centroids — the codebooks of
    * the IVFADC layout. Same bounded-sample contract as [[fit]].
    */
  def fitResidual(
      df: DataFrame,
      vecCol: String,
      coarseCentroids: Seq[Seq[Double]],
      dim: Int,
      m: Int,
      k: Int = 16,
      sampleN: Int = 2000,
      iters: Int = 5,
      seed: Long = 42L): PqModel =
    fit(df.select(residual(col(vecCol), coarseCentroids).as("__resid")),
      "__resid", dim, m, k, sampleN, iters, seed)

  /** IVFADC top-k: coarse cells prune the scan, RESIDUAL codes score
    * it. Each probed cell gets its OWN lookup table, computed from the
    * query's residual to THAT cell's centroid (`q − c_p`) — the
    * per-cell LUT is what makes residual codes usable at query time.
    * The per-probe branches are unioned before one global
    * TakeOrderedAndProject; each branch is a cell-filtered scan
    * projection, so on a cell-partitioned store every branch is a
    * partition-pruned read.
    */
  def ivfPqResidualTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      coarseCentroids: Seq[Seq[Double]],
      model: PqModel,
      nProbe: Int = 2,
      excludeId: Option[Long] = None): DataFrame = {
    val cell = SimilaritySearch.nearestCentroid(col(vecCol), coarseCentroids, spherical = false)
    val probes = SimilaritySearch.probeCellsFor(query, coarseCentroids, nProbe)
    // one spread feeds every probe branch (r21 parallelism repair)
    val src = Par.spread(df.select(col(idCol), col(vecCol)), col(idCol))
    val branches = probes.map { p =>
      val qres = query.zip(coarseCentroids(p)).map { case (a, b) => a - b }
      src.where(cell === p)
        // deliberate projection boundary: __resid is expensive and
        // feeds every one of the m×k sqdist probes — passing it to
        // encode() inline would clone its tree (zip_with + coarse
        // argmin + the centroid literals) 512× into one projection,
        // exploding both codegen size and per-row work. CollapseProject
        // keeps the split (non-cheap alias referenced many times), so
        // the residual is computed once per row.
        .select(col(idCol),
          residual(col(vecCol), coarseCentroids).as("__resid"))
        .select(col(idCol), encode(col("__resid"), model).as("__codes"))
        .select(col(idCol),
          adcDistance(col("__codes"), qres, model).as("adc_dist"))
    }
    val scored = branches.reduce(_ unionByName _)
    excludeId.fold(scored)(id => scored.where(col(idCol) =!= id))
      .orderBy(col("adc_dist"), col(idCol))
      .limit(k)
  }

  /** Persist the IVF-PQ index: PQ codes land in `path/codes` parquet
    * PARTITIONED BY COARSE CELL, codebooks + coarse centroids land in
    * `path/meta` as a tiny parquet table — a reader needs only the
    * path. Build once, query many: [[ivfPqTopKFromIndex]]'s probe is
    * partition pruning over directories of m-code rows, so a query
    * reads ~(nProbe/nCells) of the index at m bytes per row (k ≤ 256)
    * instead of 4·dim — the raw vectors are never stored at all.
    */
  def writeIvfPqIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      coarseCentroids: Seq[Seq[Double]],
      model: PqModel,
      path: String): Unit = {
    val s = df.sparkSession
    import s.implicits._
    // spread before the m×k encode probes (r21 parallelism repair),
    // then cluster by cell before the write (guide §6 hash
    // distribution) so the per-cell layout stays one file per cell
    // per holder instead of (tasks × cells) shards — the exchange
    // moves m-byte codes, not vectors
    Par.spread(df.select(col(idCol), col(vecCol)), col(idCol))
      .select(col(idCol),
        encode(col(vecCol), model).as("codes"),
        SimilaritySearch.nearestCentroid(col(vecCol), coarseCentroids,
          spherical = false).as("cell"))
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$path/codes")
    val metaRows: Seq[(String, Int, Int, Seq[Double], Int)] =
      coarseCentroids.zipWithIndex.map { case (c, i) =>
        ("centroid", -1, i, c.toSeq, model.dim)
      } ++
        (for (j <- 0 until model.m; c <- 0 until model.k)
          yield ("codebook", j, c, model.codebooks(j)(c).toSeq, model.dim))
    metaRows.toDF("kind", "j", "c", "vec", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Append new vectors to a persisted [[writeIvfPqIndex]] index:
    * encodes ONLY the new rows, with the index's own FROZEN codebooks
    * and coarse centroids (reloaded from `path/meta`), and publishes
    * them as a self-contained delta under `path/appends/<appendId>`.
    * The base codes are never read, moved, or re-encoded — at 10^9
    * indexed vectors the maintenance cost is O(delta), which is the
    * whole point of an incremental crawl index. Freezing the model is
    * what keeps old and new codes mutually comparable (one codebook →
    * one ADC lookup table per query); re-fitting on drifted data would
    * silently re-scale every stored distance, so that is a REBUILD
    * (`writeIvfPqIndex`), never an append.
    *
    * Publication is EXACTLY-ONCE under retries: the delta is staged in
    * its own dir (overwrite mode — a crashed attempt's partial files
    * are replaced, never merged) and becomes visible only when the
    * single-file `_committed` marker lands (an atomic create). A
    * retry of an already-committed `appendId` is a no-op, so an
    * at-least-once micro-batch writer gets no duplicate code rows —
    * the same contract [[graft.sink.ManifestTable.appendIdempotent]]
    * gives row tables. Callers without a replay concern can omit
    * `appendId` (a fresh UUID: atomic publish, no dedup).
    */
  def appendToIvfPqIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      appendId: String = java.util.UUID.randomUUID().toString): Unit = {
    require(appendId.nonEmpty && !appendId.contains("/"),
      s"appendId must be a non-empty path segment, got '$appendId'")
    val hp = new org.apache.hadoop.fs.Path(s"$path/appends/$appendId")
    val fs = hp.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(hp, "_committed")
    if (fs.exists(marker)) return // committed retry: exactly-once
    val (cents, model) = readIvfPqIndexModel(df.sparkSession, path)
    // spread + cluster-by-cell: same shape as [[writeIvfPqIndex]] (r21)
    Par.spread(df.select(col(idCol), col(vecCol)), col(idCol))
      .select(col(idCol),
        encode(col(vecCol), model).as("codes"),
        SimilaritySearch.nearestCentroid(col(vecCol), cents,
          spherical = false).as("cell"))
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(hp, "codes").toString)
    // the atomic publish; a lost race to the marker means another
    // attempt of the SAME appendId just committed the same delta —
    // that attempt's staging overwrite finished before its create, so
    // the committed bytes are a complete write either way. (Retries
    // are expected to be sequential — the foreachBatch recovery
    // contract; two writers racing DIFFERENT data under one appendId
    // is a caller bug no marker can repair.)
    try fs.create(marker, false).close()
    catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => () }
  }

  /** Every visible code row of the index: the base build plus each
    * COMMITTED append delta (uncommitted staging dirs are invisible —
    * see [[appendToIvfPqIndex]]). Cell partition pruning survives the
    * union: each member is its own Hive-partitioned scan.
    */
  def indexCodes(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(s"$path/appends")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.filter(s =>
        fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_committed")))
        .map(s => new org.apache.hadoop.fs.Path(s.getPath, "codes").toString)
    committed.foldLeft(graft.ingest.ParquetRead.read(spark, s"$path/codes"))(
      (acc, p) => acc.unionByName(graft.ingest.ParquetRead.read(spark, p)))
  }

  /** Reload `(coarseCentroids, model)` from a [[writeIvfPqIndex]] dir. */
  def readIvfPqIndexModel(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (Seq[Seq[Double]], PqModel) = {
    val meta = graft.ingest.ParquetRead.read(spark, s"$path/meta").collect()
    val dim = meta.head.getAs[Int]("dim")
    def vecOf(r: org.apache.spark.sql.Row): Seq[Double] =
      r.getSeq[Double](r.fieldIndex("vec")).toSeq
    val cents = meta.filter(_.getAs[String]("kind") == "centroid")
      .sortBy(_.getAs[Int]("c")).map(vecOf).toSeq
    val books = meta.filter(_.getAs[String]("kind") == "codebook")
      .groupBy(_.getAs[Int]("j")).toVector.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_.getAs[Int]("c")).map(vecOf).toVector }
    (cents, PqModel(books, dim))
  }

  /** Query a [[writeIvfPqIndex]] index: probe selection happens on the
    * reloaded centroids, the cell filter prunes partitions at file
    * listing, and ADC runs over stored codes — no vector column is
    * read (there is none), no encode recompute.
    */
  def ivfPqTopKFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idCol: String,
      query: Seq[Double],
      k: Int,
      nProbe: Int = 2,
      excludeId: Option[Long] = None): DataFrame = {
    val (cents, model) = readIvfPqIndexModel(spark, path)
    val probes = SimilaritySearch.probeCellsFor(query, cents, nProbe)
    adcTopK(
      indexCodes(spark, path).where(col("cell").isin(probes: _*)),
      idCol, "codes", query, model, k, excludeId)
  }
}
