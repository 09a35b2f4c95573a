package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

class SimilaritySpec extends AnyFunSuite with Matchers with SparkTestBase {

  import SimilaritySearch._

  // Deterministic pseudo-random unit-ish vectors.
  private def vec(seed: Int, dim: Int = 8): Seq[Float] =
    (0 until dim).map { d =>
      val x = math.sin(seed * 7919.0 + d * 104729.0)
      x.toFloat
    }

  private def corpusDf(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, vec(i))).toDF("id", "v")
  }

  test("nearestCentroid: fused expression equals the composed struct-argmin spelling") {
    // r22 replaced the k-struct array_min tree with one NearestCell
    // node; this pins value equality INCLUDING edge cases: null vector,
    // short vector, null element (all → cell 0, the composed form's
    // null-d-sorts-first behavior), exact ties (lower index), and the
    // spherical dot·(−1.0) lane.
    import org.apache.spark.sql.functions.{array_min, struct, typedLit}
    import org.apache.spark.sql.graft.VectorOps.{dot, sqdist}
    val s = spark
    import s.implicits._
    val cents: Seq[Seq[Double]] =
      (0 until 4).map(c => vec(c * 11 + 1).map(_.toDouble))
    def composed(v: org.apache.spark.sql.Column, spherical: Boolean) =
      array_min(array(cents.zipWithIndex.map { case (c, i) =>
        val d = if (spherical) dot(v, typedLit(c)) * lit(-1.0)
          else sqdist(v, typedLit(c))
        struct(d.as("d"), lit(i).as("i"))
      }: _*)).getField("i")
    val edge = Seq[(Long, Option[Array[java.lang.Float]])](
      (100L, None),
      (101L, Some(Array.tabulate[java.lang.Float](5)(d => Float.box(d * 0.3f)))),
      (102L, Some(Array.tabulate[java.lang.Float](8)(d =>
        if (d == 2) null else Float.box(0.5f - d * 0.1f))))
    ).toDF("id", "v")
    Seq(false, true).foreach { sph =>
      val rows = corpusDf(50).select(col("id"), col("v").cast("array<float>").as("v"))
        .unionByName(edge)
        .select(col("id"),
          nearestCentroid(col("v"), cents, sph).cast("int").as("fused"),
          composed(col("v"), sph).cast("int").as("ref"))
        .collect()
      rows.foreach { r =>
        assert(r.getInt(1) == r.getInt(2), s"id=${r.getLong(0)} spherical=$sph")
      }
    }
  }

  test("cosine of a vector with itself is 1.0") {
    import spark.implicits._
    val df = Seq((1L, vec(42))).toDF("id", "v")
    val c = df.select(cosine(col("v"), col("v")).as("c")).head.getDouble(0)
    c shouldBe 1.0 +- 1e-12
  }

  test("topKByCosine returns k rows in descending score order") {
    val df = corpusDf(30)
    val q = vec(3).map(_.toDouble)
    val out = topKByCosine(df, "id", "v", q, 5, excludeId = Some(3L)).collect()
    out should have size 5
    out.map(_.getLong(0)) should not contain 3L
    val scores = out.map(_.getDouble(1))
    scores.sorted.reverse shouldBe scores
  }

  test("topKJoin (bounded-heap) matches a driver-side brute force") {
    val corpus = corpusDf(40)
    val queries = corpusDf(3)
    val out = topKJoin(corpus, "id", "v", queries, "id", "v", 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(1)))
      .sortBy(t => (t._1, t._2))

    // expected: plain Scala brute force
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val vs = (0 until 40).map(i => i.toLong -> vec(i)).toMap
    val expected = (0 until 3).flatMap { qi =>
      val scored = vs.toSeq.filter(_._1 != qi.toLong)
        .map { case (id, v) => (id, cos(vs(qi.toLong), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(4)
      scored.zipWithIndex.map { case ((id, _), r) =>
        (qi.toLong, (r + 1).toLong, id)
      }
    }.sortBy(t => (t._1, t._2))
    out.toSeq shouldBe expected
  }

  test("topKJoin rejects non-integral id columns instead of nulling them") {
    import spark.implicits._
    val corpus = corpusDf(4)
    val uuidCorpus = corpus.withColumn("id", col("id").cast("string"))
    val ex = intercept[IllegalArgumentException] {
      topKJoin(uuidCorpus, "id", "v", corpusDf(2), "id", "v", 2)
    }
    ex.getMessage should include("integral")
    val ex2 = intercept[IllegalArgumentException] {
      topKJoin(corpus, "id", "v", uuidCorpus, "id", "v", 2)
    }
    ex2.getMessage should include("integral")
  }

  test("TopKAgg reduce/merge keep the k best with deterministic ties") {
    val agg = new TopKAgg(3)
    val items = Seq(
      Scored(5L, 0.5), Scored(1L, 0.9), Scored(2L, 0.9),
      Scored(7L, 0.1), Scored(9L, 0.7))
    val b = items.foldLeft(agg.zero)(agg.reduce)
    agg.finish(b).map(_.id) shouldBe Seq(1L, 2L, 9L) // ties by id asc
    val merged = agg.merge(
      Seq(Scored(1L, 0.9), Scored(9L, 0.7), Scored(5L, 0.5)),
      Seq(Scored(2L, 0.9), Scored(7L, 0.1)))
    agg.finish(merged).map(_.id) shouldBe Seq(1L, 2L, 9L)
  }

  test("annTopK returns at most k multi-probe candidates, scores descending") {
    val df = corpusDf(60)
    val q = vec(7).map(_.toDouble)
    val out = annTopK(df, "id", "v", q, 5, numPlanes = 2, excludeId = Some(7L)).collect()
    out.length should be <= 5
    val scores = out.map(_.getDouble(1))
    scores.sorted.reverse shouldBe scores
  }

  test("default annTopK IS multi-probe; single-probe candidates are a subset") {
    val df = corpusDf(80)
    val q = vec(11).map(_.toDouble)
    // k large enough to return every candidate either probe admits
    val single = annTopKSingleProbe(df, "id", "v", q, 1000, numPlanes = 4).collect()
      .map(_.getLong(0)).toSet
    val multi = annTopKMultiProbe(df, "id", "v", q, 1000, numPlanes = 4).collect()
      .map(_.getLong(0)).toSet
    val default = annTopK(df, "id", "v", q, 1000, numPlanes = 4).collect()
      .map(_.getLong(0)).toSet
    single.subsetOf(multi) shouldBe true
    multi.size should be >= single.size
    default shouldBe multi // the recommended path is the wide one
  }

  test("planesForCorpus keeps expected multi-probe candidates above the floor") {
    // derived p must satisfy (p+1)/2^p · n >= max(128, 64k) whenever p>1 is chosen
    for (n <- Seq(100L, 1000L, 5000L, 50000L, 1000000L, 100000000L); k <- Seq(1, 10, 100)) {
      val p = planesForCorpus(n, k)
      p should be >= 1
      p should be <= 20
      if (p > 1) {
        val target = math.max(128.0, 64.0 * k)
        ((p + 1.0) / (1L << p) * n) should be >= target
      }
    }
    // monotone-ish sanity: bigger corpus → at least as many planes
    planesForCorpus(1000000L, 10) should be >= planesForCorpus(5000L, 10)
  }

  test("annTopKAuto derives planes from the corpus and returns ranked neighbors") {
    val df = corpusDf(200)
    val q = vec(13).map(_.toDouble)
    val out = annTopKAuto(df, "id", "v", q, 5, excludeId = Some(13L)).collect()
    out.length should be <= 5
    out.map(_.getLong(0)) should not contain 13L
    val scores = out.map(_.getDouble(1))
    scores.sorted.reverse shouldBe scores
  }

  test("embeddingNearDupPairs finds a planted duplicate and derives dim") {
    import spark.implicits._
    val base = corpusDf(20)
    val dup = Seq((100L, vec(5))).toDF("id", "v") // exact dup of id=5
    val pairs = embeddingNearDupPairs(base.unionByName(dup), "id", "v",
      minCosine = 0.999) // dim derived from data
      .collect()
    pairs.map(r => (r.getLong(0), r.getLong(1))) should contain((5L, 100L))
  }

  test("IVF: probing all cells is exact; one cell is a subset") {
    import spark.implicits._
    // clustered corpus: three tight clusters around distinct anchors
    def around(anchor: Int, jitter: Int, dim: Int = 8): Seq[Float] =
      vec(anchor).zip(vec(jitter)).map { case (a, j) => a + 0.05f * j }
    val rows = (0 until 30).map { i =>
      ((i / 10) * 1000 + i).toLong -> around(i / 10 * 97, i)
    }
    val df = rows.toDF("id", "v")
    val centroids = SimilaritySearch.learnCentroids(df, "v", k = 3, sampleN = 30)
    centroids should have size 3
    val q = vec(0 * 97).map(_.toDouble) // near cluster 0's anchor
    val exact = topKByCosine(df, "id", "v", q, 5).collect().map(_.getLong(0))
    val allProbes = ivfTopK(df, "id", "v", q, 5, centroids, nProbe = 3)
      .collect().map(_.getLong(0))
    allProbes shouldBe exact
    val oneProbe = ivfTopK(df, "id", "v", q, 5, centroids, nProbe = 1)
      .collect().map(_.getLong(0)).toSet
    oneProbe.subsetOf(exact.toSet ++ rows.map(_._1)) shouldBe true
    oneProbe.size should be <= 5
  }

  test("spherical IVF cells group by direction, not magnitude") {
    import spark.implicits._
    // two DIRECTIONS, each at wildly different magnitudes: cosine
    // neighborhoods are the directions; L2 cells split by magnitude
    val rows = Seq(
      (1L, Seq(1.0f, 0.01f)), (2L, Seq(100.0f, 1.0f)), (3L, Seq(50.0f, 0.5f)),
      (4L, Seq(0.01f, 1.0f)), (5L, Seq(1.0f, 100.0f)), (6L, Seq(0.5f, 50.0f)))
    val df = rows.toDF("id", "v")
    val cents = SimilaritySearch.learnCentroids(df, "v", k = 2, sampleN = 6,
      spherical = true)
    // unit centroids by construction
    all(cents.map(c => math.sqrt(c.map(x => x * x).sum))) shouldBe 1.0 +- 1e-9
    val cells = df.select(col("id"),
        SimilaritySearch.nearestCentroid(col("v"), cents, spherical = true).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // ids 1-3 share a direction → one cell; 4-6 the other
    Set(cells(1L), cells(2L), cells(3L)) should have size 1
    Set(cells(4L), cells(5L), cells(6L)) should have size 1
    cells(1L) should not be cells(4L)
    // spherical probe returns the cosine neighbors of the query's
    // direction regardless of the magnitudes involved
    val out = ivfTopK(df, "id", "v", Seq(1.0, 0.02), 3, cents,
      nProbe = 1, spherical = true).collect().map(_.getLong(0)).toSet
    out shouldBe Set(1L, 2L, 3L)
  }

  test("embeddingNearDupPairs on empty input returns empty frame") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Float])].toDF("id", "v")
    embeddingNearDupPairs(empty, "id", "v").count() shouldBe 0
  }

  test("quantizeInt8: round-trip error bounded by qscale/2; zero vector safe") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.001f, 0.0005f, -0.001f, 0.0002f)),
      (3L, Seq(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("id", "v")
    val out = quantizeInt8(df, "v").orderBy("id").collect()
    out.foreach { r =>
      val v = r.getSeq[Float](1)
      val scale = r.getDouble(2)
      val q = r.getSeq[Byte](3)
      q.foreach(b => math.abs(b.toInt) should be <= 127)
      if (scale == 0.0) q.forall(_ == 0) shouldBe true
      else v.zip(q).foreach { case (x, b) =>
        withClue(s"id=${r.getLong(0)} x=$x q=$b scale=$scale: ") {
          math.abs(x.toDouble - b * scale) should be <= (scale / 2 + 1e-12)
        }
      }
    }
    // the max-|v| component always quantizes to ±127 (scale definition)
    val q1 = out(0).getSeq[Byte](3)
    q1.head shouldBe 127.toByte
  }

  test("quantizedTopKByCosine agrees with the full-precision top-k on the fixture") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = e.where(col("vec_id") === 0L).select(col("embedding"))
      .head.getSeq[Float](0).map(_.toDouble)
    val exact = topKByCosine(e, "vec_id", "embedding", q, 10, Some(0L))
      .select("vec_id").as[Long].collect().toSet
    val quant = quantizedTopKByCosine(e, "vec_id", "embedding", q, 10, Some(0L))
      .select("vec_id").as[Long].collect().toSet
    // int8 keeps ~0.8% max relative component error; top-k overlap
    // stays high (measured 1.0 here — floor at 0.9 for seed drift)
    ((exact & quant).size / 10.0) should be >= 0.9
  }

  test("groupCentroids: componentwise means in position order, per group") {
    import spark.implicits._
    val df = Seq(
      ("a", Seq(1.0f, 2.0f, 3.0f)),
      ("a", Seq(3.0f, 0.0f, 5.0f)),
      ("b", Seq(10.0f, 20.0f, 30.0f))
    ).toDF("grp", "v")
    val out = groupCentroids(df, "grp", "v").orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Double](2)))
    out(0) shouldBe (("a", 2L, Seq(2.0, 1.0, 4.0)))
    out(1) shouldBe (("b", 1L, Seq(10.0, 20.0, 30.0)))
    // layout-independent (partial aggregation + rounding)
    val rep = groupCentroids(df.repartition(7), "grp", "v").orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Double](2)))
    rep shouldBe out
  }

  test("centroidSimilarity: coherent group scores 1.0, outlier scores lowest") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", Seq(1.0f, 0.0f)),
      (2L, "a", Seq(2.0f, 0.0f)),   // same direction as 1 — coherent
      (3L, "a", Seq(-1.0f, 0.5f)),  // points away — the outlier
      (4L, "b", Seq(0.0f, 3.0f))    // singleton group: sim 1.0 by definition
    ).toDF("id", "grp", "v")
    val out = centroidSimilarity(df, "grp", "id", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    out(1) shouldBe out(2)
    out(1) should be > out(3)
    out(4) shouldBe 1.0 +- 1e-9
    out.values.min shouldBe out(3)
  }

  test("semanticDedup: in-cell cosine domination drops higher ids; cells never compare") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(10.0f, 0.0f)),  // cell 0
      (2L, Seq(5.0f, 0.1f)),   // cell 0, cos(v1,v2) ~ 0.9998 -> dominated by 1
      (3L, Seq(0.0f, 7.0f)),   // cell 1
      (4L, Seq(0.1f, 6.0f)),   // cell 1, cos(v3,v4) ~ 0.9999 -> dominated by 3
      (5L, Seq(-8.0f, 0.5f))   // cell 1 (closer to (0,1)), orthogonal-ish -> kept
    ).toDF("vec_id", "embedding")
    val centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val out = SimilaritySearch.semanticDedup(df, "vec_id", "embedding", centroids, tau = 0.9)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getInt(1)))
    out shouldBe Array((1L, 0), (3L, 1), (5L, 1))
  }

  test("semanticDedup: tau above every similarity keeps all; layout-stable") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.4f)), (3L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val all = SimilaritySearch.semanticDedup(df, "vec_id", "embedding", centroids,
      tau = 1.1).collect()
    all.length shouldBe 3
    val a = SimilaritySearch.semanticDedup(df, "vec_id", "embedding", centroids, tau = 0.5)
      .orderBy("vec_id").collect().map(_.toSeq)
    val b = SimilaritySearch.semanticDedup(df.repartition(5), "vec_id", "embedding",
      centroids, tau = 0.5).orderBy("vec_id").collect().map(_.toSeq)
    a shouldBe b
  }

  test("matryoshkaRecall: full width is exact; informative prefix keeps recall") {
    import spark.implicits._
    // information concentrated in the first 4 dims: the tail is a
    // constant, so truncating to >= 4 must reproduce the full ranking
    val q = Seq(1.0, 0.5, -0.25, 0.125) ++ Seq.fill(4)(0.01)
    val df = (1 to 200).map { i =>
      val raw = Seq(
        math.sin(i * 0.37), math.cos(i * 0.53),
        math.sin(i * 0.11 + 1), math.cos(i * 0.29 + 2))
      // unit-norm head + constant tail: the full cosine is then a
      // strictly monotone transform of the 4-dim cosine, so d=4 must
      // reproduce the full ranking exactly
      val n = math.sqrt(raw.map(x => x * x).sum)
      val head = raw.map(_ / n)
      (i.toLong, (head ++ Seq.fill(4)(0.5)).map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val out = SimilaritySearch.matryoshkaRecall(
      df, "vec_id", "embedding", q, k = 10, dims = Seq(2, 4, 8)).head()
    out.getInt(0) shouldBe 10
    val (r2, r4, r8) = (out.getDouble(1), out.getDouble(2), out.getDouble(3))
    r8 shouldBe 1.0 // d = D: the truncated ranking IS the full ranking
    r4 shouldBe 1.0 // constant tail adds a constant to every score pair
    r2 should be <= r4 // dropping informative dims cannot help
  }

  test("signBitPack matches a driver-side reference; Hamming rerank recovers exact top-k") {
    import spark.implicits._
    val dim = 64
    def vec(i: Int): Seq[Double] =
      (0 until dim).map(j => math.sin(i * 0.7 + j * 1.3))
    val df = (1 to 300).map(i => (i.toLong, vec(i).map(_.toFloat)))
      .toDF("vec_id", "embedding")
    // packing equals the driver-side fold, both words
    val packed = df.select(col("vec_id"),
        SimilaritySearch.signBitPack(col("embedding"), 0, 32).as("b0"),
        SimilaritySearch.signBitPack(col("embedding"), 32, 64).as("b1"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def ref(q: Seq[Double], from: Int, until: Int): Long =
      (from until until).foldLeft(0L)((acc, i) =>
        if (q(i) >= 0) acc | (1L << (i - from)) else acc)
    (1 to 300).foreach { i =>
      val (b0, b1) = packed(i.toLong)
      b0 shouldBe ref(vec(i), 0, 32)
      b1 shouldBe ref(vec(i), 32, 64)
    }
    // a shortlist the size of the corpus makes rerank EXACT (recall 1)
    val out = SimilaritySearch.hammingRerankRecall(
      df, "vec_id", "embedding", vec(7), k = 10, shortlist = 299,
      excludeId = Some(7L)).head()
    out.getDouble(3) shouldBe 1.0
    // pure Hamming at k is an approximation: bounded, not trivially 0
    out.getDouble(2) should be <= 1.0
    out.getDouble(2) should be >= 0.0
    // a realistic shortlist dominates pure Hamming (rerank can't hurt)
    val out50 = SimilaritySearch.hammingRerankRecall(
      df, "vec_id", "embedding", vec(7), k = 10, shortlist = 50,
      excludeId = Some(7L)).head()
    out50.getDouble(3) should be >= out50.getDouble(2)
  }

  // --- mmrRerank -----------------------------------------------------

  private def mmrFixture() = {
    import spark.implicits._
    // id 0 is the query; 1 and 2 are near-identical high-relevance
    // docs; 3 is moderately relevant but pointing elsewhere; 4 is a
    // low-relevance filler.
    Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.999f, 0.040f, 0.0f, 0.0f)),
      (2L, Seq(0.999f, 0.041f, 0.0f, 0.0f)),
      (3L, Seq(0.7f, 0.0f, 0.7f, 0.0f)),
      (4L, Seq(0.1f, 0.9f, 0.0f, 0.4f))
    ).toDF("vec_id", "embedding")
  }

  test("mmrRerank: rank 1 is the pure-relevance top-1 with zero redundancy") {
    val df = mmrFixture()
    val out = SimilaritySearch.mmrRerank(df, "vec_id", "embedding",
        df.where(col("vec_id") === 0L), "vec_id", "embedding",
        poolK = 4, selectK = 3, lambdaTenths = 7)
      .orderBy("rank").collect()
    out should have size 3
    out.map(_.getLong(2)).distinct should have size 3
    val first = out.head
    first.getLong(1) shouldBe 1L              // rank
    first.getLong(2) shouldBe 1L              // doc 1 edges doc 2 on cosine
    first.getLong(4) shouldBe 0L              // redundancy_u
    first.getLong(5) shouldBe 7L * first.getLong(3)
  }

  test("mmrRerank: diversity-heavy lambda skips the near-duplicate") {
    val df = mmrFixture()
    val picks = SimilaritySearch.mmrRerank(df, "vec_id", "embedding",
        df.where(col("vec_id") === 0L), "vec_id", "embedding",
        poolK = 4, selectK = 2, lambdaTenths = 3)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    // pure relevance would pick (1, 2); MMR at lambda=0.3 penalizes
    // doc 2's ~0.9999 similarity to the already-picked doc 1
    picks.head shouldBe 1L
    picks(1) should not be 2L
  }

  test("mmrRerank: lambda=1.0 reduces to the relevance order") {
    val df = mmrFixture()
    val mmr = SimilaritySearch.mmrRerank(df, "vec_id", "embedding",
        df.where(col("vec_id") === 0L), "vec_id", "embedding",
        poolK = 4, selectK = 4, lambdaTenths = 10)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    val rel = SimilaritySearch.topKJoin(df, "vec_id", "embedding",
        df.where(col("vec_id") === 0L), "vec_id", "embedding", 4)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    mmr shouldBe rel
  }

  test("mmrRerank: exact score ties resolve to the smallest id") {
    import spark.implicits._
    // ids 5 and 6 are the same vector — identical quantized relevance
    // and redundancy at every step, so id 5 must win the tie.
    val df = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (6L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
      (5L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),
      (9L, Seq(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val picks = SimilaritySearch.mmrRerank(df, "vec_id", "embedding",
        df.where(col("vec_id") === 0L), "vec_id", "embedding",
        poolK = 3, selectK = 3, lambdaTenths = 7)
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    picks.head shouldBe 5L
    picks.indexOf(5L) should be < picks.indexOf(6L)
  }

  test("mmrRerank: a 1-candidate pool still emits its rank-1 row") {
    import spark.implicits._
    // corpus of exactly one document — the pair self-join is empty, so
    // the seed rows must carry the pool into the greedy loop
    val corpus = Seq((7L, Seq(0.6f, 0.8f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = SimilaritySearch.mmrRerank(corpus, "vec_id", "embedding",
        queries, "vec_id", "embedding",
        poolK = 5, selectK = 3, lambdaTenths = 7).collect()
    out should have size 1
    out.head.getLong(0) shouldBe 0L           // query_id
    out.head.getLong(1) shouldBe 1L           // rank
    out.head.getLong(2) shouldBe 7L           // doc_id
    out.head.getLong(4) shouldBe 0L           // redundancy_u
    out.head.getLong(5) shouldBe 7L * out.head.getLong(3)
  }

  test("mmrRerank is deterministic across runs and selects per query") {
    val df = corpusDf(60).withColumnRenamed("id", "vec_id")
      .withColumnRenamed("v", "embedding")
    val queries = df.where(col("vec_id") < 3)
    def run() = SimilaritySearch.mmrRerank(df, "vec_id", "embedding",
        queries, "vec_id", "embedding", poolK = 10, selectK = 5,
        lambdaTenths = 7)
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5)))
      .toSeq
    val a = run(); val b = run()
    a shouldBe b
    a.map(_._1).distinct should have size 3
    a.groupBy(_._1).values.foreach(_ should have size 5)
    // within a query the selected ids are distinct
    a.groupBy(_._1).values.foreach { rows =>
      rows.map(_._3).distinct should have size 5
    }
  }

  test("lloydSeeded rejects a ragged sample, naming both lengths") {
    val sample = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0), Array(0.0, 0.0, 1.0))
    val e = the[IllegalArgumentException] thrownBy
      lloydSeeded(sample, k = 2, iters = 3, seed = 7L, spherical = false)
    e.getMessage should include("vector 1 has length 2, expected 3")
  }
}
