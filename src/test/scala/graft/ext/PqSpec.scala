package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class PqSpec extends AnyFunSuite with SparkTestBase {

  /** Clustered fixture: 300 vectors in 16 dims around 6 well-separated
    * centers (deterministic hash jitter) — geometry where a correct PQ
    * must retrieve well, unlike the near-uniform corpus table.
    */
  private def clustered = {
    val s = spark
    import s.implicits._
    def h(a: Long, b: Long): Double = {
      var x = a * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL
      x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 33
      (x.toDouble / Long.MaxValue) * 0.05 // small jitter
    }
    (0L until 300L).map { id =>
      val c = (id % 6).toInt
      val vec = Array.tabulate(16)(d =>
        (if (d % 6 == c) 1.0 else 0.0) + h(id, d.toLong)).map(_.toFloat)
      (id, vec)
    }.toDF("vec_id", "embedding")
  }

  test("fit: shared-collect fast path is bit-identical to per-subspace takeSample") {
    // The r22 fit collects the pinned frame ONCE when sampleN >= count
    // and replays RDD.takeSample's num>=count branch per subspace
    // (Fisher-Yates over the collected order with java.util.Random of
    // the same seed). This pins that equivalence against the literal
    // takeSample spelling, so a Spark-internals drift fails loudly.
    import org.apache.spark.sql.functions.slice
    val dim = 16; val m = 4; val k = 8; val subDim = dim / m
    val seed = 42L; val iters = 5; val sampleN = 300
    val fast = Pq.fit(clustered, "embedding", dim, m, k, sampleN, iters, seed)
    val pinned = clustered.where(col("embedding").isNotNull)
      .select(col("embedding")).localCheckpoint()
    val slow = (0 until m).toVector.map { j =>
      SimilaritySearch.learnCentroids(
        pinned.select(
          slice(col("embedding"), j * subDim + 1, subDim).as("__sub")),
        "__sub", k, sampleN, iters, seed + j).toVector
    }
    assert(fast.codebooks == slow,
      "fast-path codebooks must equal the takeSample spelling exactly")
  }

  test("encode: fused expression equals the composed sqdist/argmin spelling") {
    // r22 replaced the m × k composed tree with one PqEncode node; this
    // pins value equality INCLUDING edge cases: null vector (m null
    // codes, non-null array), short vector (null code for the cut
    // subspace), null element (null code for its subspace), exact ties
    // (first minimum).
    import org.apache.spark.sql.functions.{array_min, array_position, slice, typedLit}
    val s = spark
    import s.implicits._
    val model = Pq.fit(clustered, "embedding", dim = 16, m = 4, k = 8, sampleN = 300)
    def composed(vec: org.apache.spark.sql.Column) = {
      val codes = (0 until model.m).map { j =>
        val sl = slice(vec, j * model.subDim + 1, model.subDim)
        val ds = array(model.codebooks(j).map(c =>
          org.apache.spark.sql.graft.VectorOps.sqdist(sl, typedLit(c))): _*)
        (array_position(ds, array_min(ds)) - 1).cast("int")
      }
      array(codes: _*)
    }
    val edge = Seq[(Long, Option[Array[java.lang.Float]])](
      (0L, Some(Array.tabulate[java.lang.Float](16)(d => Float.box(d * 0.1f)))),
      (1L, None), // null vector
      (2L, Some(Array.tabulate[java.lang.Float](10)(d => Float.box(d * 0.2f)))), // short
      (3L, Some(Array.tabulate[java.lang.Float](16)(d =>
        if (d == 5) null else Float.box(1.0f - d * 0.05f)))) // null element
    ).toDF("vec_id", "embedding")
    val both = clustered.select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .unionByName(edge)
      .select(col("vec_id"),
        Pq.encode(col("embedding"), model).as("fused"),
        composed(col("embedding")).as("composed"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Any](1) == r.getSeq[Any](2),
        s"vec_id=${r.getLong(0)}: fused=${r.getSeq[Any](1)} composed=${r.getSeq[Any](2)}")
    }
  }

  test("fit: codebook shapes and code range") {
    val m = Pq.fit(clustered, "embedding", dim = 16, m = 4, k = 8, sampleN = 300)
    assert(m.m == 4 && m.k == 8 && m.subDim == 4)
    assert(m.codebooks.forall(_.forall(_.length == 4)))
    val codes = clustered
      .select(Pq.encode(col("embedding"), m).as("c"))
      .select(explode(col("c")).as("x"))
      .agg(min(col("x")), max(col("x"))).head()
    assert(codes.getInt(0) >= 0 && codes.getInt(1) < 8)
  }

  test("encode is deterministic and partition-invariant") {
    val m = Pq.fit(clustered, "embedding", dim = 16, m = 4, k = 8, sampleN = 300)
    val a = clustered.repartition(7)
      .select(col("vec_id"), Pq.encode(col("embedding"), m).as("c"))
      .orderBy(col("vec_id")).collect().toSeq
    val b = clustered.coalesce(1)
      .select(col("vec_id"), Pq.encode(col("embedding"), m).as("c"))
      .orderBy(col("vec_id")).collect().toSeq
    assert(a == b)
  }

  test("ADC distance approximates exact L2 on clustered data") {
    val m = Pq.fit(clustered, "embedding", dim = 16, m = 4, k = 16, sampleN = 300)
    val query = clustered.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val rows = clustered
      .select(col("vec_id"),
        Pq.adcDistance(Pq.encode(col("embedding"), m), query, m).as("adc"),
        org.apache.spark.sql.graft.VectorOps
          .sqdist(col("embedding"), typedLit(query)).as("exact"))
      .collect()
    // ADC error = −2⟨q−c, ε⟩ + ‖ε‖² for reconstruction offset ε: the
    // cross term scales with √exact · ‖ε‖, so the bound must too
    rows.foreach { r =>
      val tol = 0.1 + 0.15 * math.sqrt(r.getDouble(2))
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < tol,
        s"vec ${r.getLong(0)}: adc=${r.getDouble(1)} exact=${r.getDouble(2)}")
    }
  }

  test("retrieval floors: ADC stays in-cluster; shortlist+rerank recovers top-10") {
    // Within a cluster the top-10 ordering is jitter-scale (the same
    // concentration that caps pure-ADC recall on the corpus table), so
    // the honest floors are (a) every ADC hit is from the query's
    // cluster and (b) the production two-stage number — ADC shortlist,
    // exact re-rank — recovers the exact top-10.
    val m = Pq.fit(clustered, "embedding", dim = 16, m = 4, k = 16, sampleN = 300)
    val query = clustered.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val rest = clustered.where(col("vec_id") =!= 0)
    val encoded = rest.select(col("vec_id"),
      Pq.encode(col("embedding"), m).as("codes"))
    val pq10 = Pq.adcTopK(encoded, "vec_id", "codes", query, m, k = 10)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(pq10.forall(_ % 6 == 0), s"ADC left the query's cluster: $pq10")
    val exact = rest
      .select(col("vec_id"), org.apache.spark.sql.graft.VectorOps
        .sqdist(col("embedding"), typedLit(query)).as("d"))
    val exact10 = exact.orderBy(col("d"), col("vec_id")).limit(10)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val short30 = Pq.adcTopK(encoded, "vec_id", "codes", query, m, k = 30)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val rerank10 = exact.where(col("vec_id").isin(short30.toSeq: _*))
      .orderBy(col("d"), col("vec_id")).limit(10)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val recall = (rerank10 & exact10).size / 10.0
    assert(recall >= 0.9, s"rerank recall=$recall short=$short30 exact=$exact10")
  }

  test("IVF-PQ: probe pruning stays in-cluster and finds the cluster's members") {
    val m = Pq.fit(clustered, "embedding", dim = 16, m = 4, k = 16, sampleN = 300)
    val coarse = SimilaritySearch.learnCentroids(clustered, "embedding", k = 6, sampleN = 300)
    val query = clustered.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val top = Pq.ivfPqTopK(clustered.where(col("vec_id") =!= 0),
        "vec_id", "embedding", query, k = 10,
        coarseCentroids = coarse, model = m, nProbe = 2)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(top.size == 10, s"pruned scan must still fill k: $top")
    assert(top.forall(_ % 6 == 0), s"IVF-PQ left the query's cluster: $top")
  }

  test("fit rejects invalid shapes") {
    intercept[IllegalArgumentException](
      Pq.fit(clustered, "embedding", dim = 16, m = 5, k = 8))
    intercept[IllegalArgumentException](
      Pq.fit(clustered, "embedding", dim = 16, m = 4, k = 300))
  }

  test("persisted index round-trips: same neighbors, same ADC distances, pruned read") {
    val m = Pq.fit(clustered, "embedding", dim = 16, m = 4, k = 16, sampleN = 300)
    val coarse = SimilaritySearch.learnCentroids(clustered, "embedding", k = 6, sampleN = 300)
    val query = clustered.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val rest = clustered.where(col("vec_id") =!= 0)
    val path = java.nio.file.Files.createTempDirectory("graft_pq_idx_spec").toString
    try {
      Pq.writeIvfPqIndex(rest, "vec_id", "embedding", coarse, m, path)
      // the reloaded model is bit-identical to the fitted one
      val (cents2, m2) = Pq.readIvfPqIndexModel(spark, path)
      assert(cents2 == coarse.map(_.toSeq) && m2.dim == m.dim)
      assert(m2.codebooks == m.codebooks)
      val disk = Pq.ivfPqTopKFromIndex(spark, path, "vec_id", query, k = 10, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val mem = Pq.ivfPqTopK(rest, "vec_id", "embedding", query, k = 10,
          coarseCentroids = coarse, model = m, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(disk == mem, s"disk=$disk mem=$mem")
      // probe = partition pruning: the scan's partition filters carry the
      // cell IN-list, so unprobed cell directories are never listed
      val plan = Pq.ivfPqTopKFromIndex(spark, path, "vec_id", query, k = 10, nProbe = 2)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [cell#") || plan.contains("cell IN"),
        s"cell probe did not reach the partition filter:\n$plan")
    } finally {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true): Unit
    }
  }

  test("index append: base files untouched, frozen model, composite answers like a rebuild") {
    val m = Pq.fit(clustered, "embedding", dim = 16, m = 4, k = 16, sampleN = 300)
    val coarse = SimilaritySearch.learnCentroids(clustered, "embedding", k = 6, sampleN = 300)
    val query = clustered.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val rest = clustered.where(col("vec_id") =!= 0)
    // split ACROSS clusters (cluster = id%6, so id%12<6 alternates
    // members within every cluster): both halves land in every cell
    val base = rest.where(col("vec_id") % 12 < 6)
    val delta = rest.where(col("vec_id") % 12 >= 6)
    val path = java.nio.file.Files.createTempDirectory("graft_pq_append_spec").toString
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    def codeFiles(): Map[String, Long] =
      (walk(new java.io.File(s"$path/codes")) ++
        walk(new java.io.File(s"$path/appends")))
        .filter(_.getName.startsWith("part-"))
        .map(f => f.getPath -> f.lastModified()).toMap
    try {
      Pq.writeIvfPqIndex(base, "vec_id", "embedding", coarse, m, path)
      val before = codeFiles()
      Pq.appendToIvfPqIndex(delta, "vec_id", "embedding", path,
        appendId = "delta-1")
      val after = codeFiles()
      // append-only delta: every base part file survives bit-untouched
      // (same path, same mtime), the delta arrives as NEW files only
      before.foreach { case (p, t) =>
        assert(after.get(p).contains(t), s"base file $p was touched")
      }
      assert(after.size > before.size, "append added no code files")
      // frozen model: the meta table is byte-identical after the append
      val (cents2, m2) = Pq.readIvfPqIndexModel(spark, path)
      assert(cents2 == coarse.map(_.toSeq) && m2.codebooks == m.codebooks)
      // composite index answers exactly like the in-memory full-corpus
      // path under the same frozen model — neighbors AND distances
      val disk = Pq.ivfPqTopKFromIndex(spark, path, "vec_id", query, k = 10, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val mem = Pq.ivfPqTopK(rest, "vec_id", "embedding", query, k = 10,
          coarseCentroids = coarse, model = m, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(disk == mem, s"disk=$disk mem=$mem")
      // both halves are actually served: the top-10 must mix parities
      // (the clustered fixture's in-cell members span both)
      assert(disk.map(_._1 % 12 < 6).distinct.size == 2,
        s"top-10 did not mix base and appended halves: $disk")
      // exactly-once retry: replaying the SAME appendId is a no-op —
      // no duplicate code rows, identical answers
      val nRows = Pq.indexCodes(spark, path).count()
      Pq.appendToIvfPqIndex(delta, "vec_id", "embedding", path,
        appendId = "delta-1")
      assert(Pq.indexCodes(spark, path).count() == nRows,
        "committed-append retry duplicated code rows")
      val retried = Pq.ivfPqTopKFromIndex(spark, path, "vec_id", query,
          k = 10, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(retried == disk, "retry changed query answers")
    } finally {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true): Unit
    }
  }

  /** Fixture for the residual comparison: 6 well-separated centers
    * (scale 10) whose members vary along a per-cluster LINE — the
    * within-cluster structure is 1-D and much smaller than the center
    * separation, exactly the geometry where direct codes starve (the
    * budget goes to telling centers apart) and residual codes excel
    * (the whole budget resolves the line).
    */
  private def lineClusters = {
    val s = spark
    import s.implicits._
    def h(a: Long, b: Long): Double = {
      var x = a * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL
      x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 33
      x.toDouble / Long.MaxValue
    }
    (0L until 300L).map { id =>
      val c = (id % 6).toInt
      // line position DECORRELATED from id (37 is coprime to 50): the
      // ADC tie-break is by id, so an id-ordered line would hand any
      // all-ties encoder the exact ordering for free
      val t = ((id / 6) * 37 % 50).toDouble / 25.0
      val vec = Array.tabulate(16) { d =>
        val center = if (d % 6 == c) 10.0 else 0.0
        val dir = if ((d + 1) % 6 == c) 1.0 else 0.0
        (center + t * dir + h(id, d.toLong) * 0.001).toFloat
      }
      (id, vec)
    }.toDF("vec_id", "embedding")
  }

  test("residual (IVFADC) codes beat direct codes where the geometry separates") {
    val coarse = SimilaritySearch.learnCentroids(lineClusters, "embedding", k = 6, sampleN = 300)
    val direct = Pq.fit(lineClusters, "embedding", dim = 16, m = 4, k = 8, sampleN = 300)
    val resid = Pq.fitResidual(lineClusters, "embedding", coarse, dim = 16, m = 4, k = 8, sampleN = 300)

    // Independent driver-side reference: reconstruction distortion
    // E‖x − recon(x)‖² — the quantity residual encoding provably
    // shrinks (Jégou et al. §IV: the codes only have to cover the
    // residual ball, not the full center spread).
    val vecs = lineClusters.collect()
      .map(r => r.getSeq[Float](1).map(_.toDouble).toIndexedSeq)
    def sq(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def reconError(x: IndexedSeq[Double], m: Pq.PqModel, offset: IndexedSeq[Double]): Double = {
      val target = x.zip(offset).map { case (a, b) => a - b }
      (0 until m.m).map { j =>
        val s = target.slice(j * m.subDim, (j + 1) * m.subDim)
        m.codebooks(j).map(c => sq(s, c)).min
      }.sum
    }
    val zero = IndexedSeq.fill(16)(0.0)
    def cellOf(x: IndexedSeq[Double]): IndexedSeq[Double] =
      coarse.minBy(c => sq(x, c)).toIndexedSeq
    val directMse = vecs.map(v => reconError(v, direct, zero)).sum / vecs.length
    val residMse = vecs.map(v => reconError(v, resid, cellOf(v))).sum / vecs.length
    assert(residMse * 2 < directMse,
      s"residual distortion $residMse not clearly below direct $directMse")

    // And the retrieval consequence: recall@10 against exact L2
    def recallOf(ids: Set[Long], exact: Set[Long]): Double = (ids & exact).size / 10.0
    val queries = Seq(0L, 1L, 2L)
    val (dSum, rSum) = queries.map { qid =>
      val query = lineClusters.where(col("vec_id") === qid)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val base = lineClusters.where(col("vec_id") =!= qid)
      val exact10 = base
        .select(col("vec_id"), org.apache.spark.sql.graft.VectorOps
          .sqdist(col("embedding"), org.apache.spark.sql.functions.typedLit(query)).as("d"))
        .orderBy(col("d"), col("vec_id")).limit(10)
        .collect().map(_.getLong(0)).toSet
      val d10 = Pq.ivfPqTopK(base, "vec_id", "embedding", query, 10, coarse, direct, nProbe = 1)
        .collect().map(_.getLong(0)).toSet
      val r10 = Pq.ivfPqResidualTopK(base, "vec_id", "embedding", query, 10, coarse, resid, nProbe = 1)
        .collect().map(_.getLong(0)).toSet
      (recallOf(d10, exact10), recallOf(r10, exact10))
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    assert(rSum > dSum, s"residual recall sum $rSum did not beat direct $dSum")
    assert(rSum >= 0.4 * queries.size, s"residual recall too low: $rSum over ${queries.size} queries")
  }

  test("fit: the shared-collect fast path rejects a vector shorter than dim") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Pq.fit(df, "embedding", dim = 4, m = 2, k = 2, sampleN = 10)
    }
    assert(e.getMessage.contains("has length 2, expected dim=4"), e.getMessage)
  }
}
