package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class LinkGraphSpec extends AnyFunSuite with Matchers with SparkTestBase {

  /** Independent driver-side reference: same damped, weighted,
    * dangling-aware power method in plain Scala.
    */
  private def reference(
      edges: Seq[(Long, Long)],
      damping: Double,
      iterations: Int): Map[Long, Double] = {
    val w = edges.groupBy(identity).map { case (e, es) => (e, es.size.toDouble) }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val outw = w.groupBy(_._1._1).map { case (s, m) => (s, m.values.sum) }
    var r = nodes.map(v => v -> 1.0 / n).toMap
    for (_ <- 1 to iterations) {
      val danglingMass = nodes.filterNot(outw.contains).map(r).sum
      val contrib = w.toSeq
        .map { case ((s, d), wt) => (d, r(s) * wt / outw(s)) }
        .groupBy(_._1).map { case (d, xs) => (d, xs.map(_._2).sum) }
      r = nodes.map(v => v ->
        ((1 - damping) / n +
          damping * (contrib.getOrElse(v, 0.0) + danglingMass / n))).toMap
    }
    r
  }

  private def run(edges: Seq[(Long, Long)], damping: Double = 0.85, iters: Int = 10) = {
    import spark.implicits._
    LinkGraph.pageRank(edges.toDF("s", "d"), "s", "d", damping, iters)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
  }

  test("two-node cycle: symmetric ranks of 1/2") {
    val r = run(Seq((1L, 2L), (2L, 1L)))
    r(1L) shouldBe 0.5 +- 1e-12
    r(2L) shouldBe 0.5 +- 1e-12
  }

  test("matches the independent reference on a graph with dangling nodes and multi-edges") {
    // 0→1 (twice: weight 2), 0→2, 1→2, 3 dangling (only a target),
    // 2→3 — node 3 redistributes everywhere
    val edges = Seq((0L, 1L), (0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L))
    val got = run(edges)
    val want = reference(edges, 0.85, 10)
    got.keySet shouldBe want.keySet
    got.foreach { case (v, r) => r shouldBe want(v) +- 1e-12 }
  }

  test("rank mass is conserved: sum(rank) = 1 after any iteration count") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (4L, 0L))
    for (iters <- Seq(1, 3, 10)) {
      val total = run(edges, iters = iters).values.sum
      withClue(s"iters=$iters: ") { total shouldBe 1.0 +- 1e-9 }
    }
  }

  test("authority flows to the linked-to hub") {
    // everyone links to 9; 9 links back only to 0
    val edges = (0L until 9L).map(i => (i, 9L)) :+ (9L, 0L)
    val r = run(edges)
    r(9L) should be > 3 * r(1L)
    r(0L) should be > r(1L) // receives 9's full endorsement
  }

  test("iterate memory is bounded: k-2 iterates' RDD blocks are actually dropped") {
    import spark.implicits._
    // Dataset.unpersist is a no-op on localCheckpoint'd frames (it only
    // consults the CacheManager), so pageRankRun unpersists the raw RDD
    // handles instead. Evidence: after a 7-iteration run the persistent-
    // RDD delta is the 3 pinned support frames (nodes/shares/dangling)
    // plus the LAST TWO iterates — not O(iterations) frames.
    val sc = spark.sparkContext
    val edges = (0L until 120L).map(i => (i % 12, (i * 7 + 1) % 15))
    val before = sc.getPersistentRDDs.keySet
    val run = LinkGraph.pageRankRun(edges.toDF("s", "d"), "s", "d", iterations = 7)
    run.ranks.count() shouldBe 15
    val newlyPinned = sc.getPersistentRDDs.keySet -- before
    newlyPinned.size should be <= 5
  }

  test("partition-invariant at rounded precision") {
    import spark.implicits._
    val edges = (0L until 200L).map(i => (i % 20, (i * 7 + 3) % 25))
    def at(parts: Int) =
      LinkGraph.pageRank(edges.toDF("s", "d").repartition(parts), "s", "d")
        .collect().map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e9) / 1e9))
        .toMap
    at(1) shouldBe at(8)
  }

  test("hits: star graph closed form — center is the hub, leaves the authorities") {
    import spark.implicits._
    // 0 -> 1..4: auth(leaf) = 1/2 (L2 norm over 4 equal), hub(0) = 1
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("s", "d")
    val run = LinkGraph.hitsRun(edges, "s", "d", iterations = 5)
    val m = run.scores.collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    m(0L)._1 shouldBe 0.0
    m(0L)._2 shouldBe 1.0 +- 1e-12
    (1L to 4L).foreach { v =>
      m(v)._1 shouldBe 0.5 +- 1e-12
      m(v)._2 shouldBe 0.0
    }
    // the star is an eigenvector from iteration 1 — residual exactly 0
    run.l1Residual shouldBe 0.0 +- 1e-12
  }

  test("hits: reversing every edge swaps auth and hub") {
    import spark.implicits._
    val raw = (0L until 200L).map(i => (i % 20, (i * 7 + 3) % 25))
    val fwd = LinkGraph.hits(raw.toDF("s", "d"), "s", "d")
      .collect().map(r => (r.getLong(0), (math.rint(r.getDouble(1) * 1e9) / 1e9,
        math.rint(r.getDouble(2) * 1e9) / 1e9))).toMap
    val rev = LinkGraph.hits(raw.map(_.swap).toDF("s", "d"), "s", "d")
      .collect().map(r => (r.getLong(0), (math.rint(r.getDouble(1) * 1e9) / 1e9,
        math.rint(r.getDouble(2) * 1e9) / 1e9))).toMap
    fwd.keySet shouldBe rev.keySet
    fwd.foreach { case (v, (a, h)) =>
      rev(v)._1 shouldBe h
      rev(v)._2 shouldBe a
    }
  }

  test("warm-started PageRank converges tighter than cold on the same delta graph") {
    import spark.implicits._
    // quadratic dst — skewed in-degree, so the fixed point is far from
    // uniform (a doubly-stochastic fixture makes warm ≡ cold)
    val base = (0L until 200L).map(i => (i % 20, (i * i + 3) % 25))
    val delta = (0L until 8L).map(i => (i % 25, (i * 13 + 5) % 30))
    val after = (base ++ delta).toDF("s", "d")
    val prev = LinkGraph.pageRankRun(base.toDF("s", "d"), "s", "d", iterations = 12)
    val warm = LinkGraph.pageRankWarmRun(after, "s", "d", prev.ranks, iterations = 2)
    val cold = LinkGraph.pageRankRun(after, "s", "d", iterations = 2)
    warm.l1Residual should be < cold.l1Residual
    // and the warm run still walks toward the SAME fixed point: its
    // ranks are closer to a long converged run than the cold 2-iter
    val ref = LinkGraph.pageRank(after, "s", "d", iterations = 30)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    def l1(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => math.abs(r.getDouble(1) - ref(r.getLong(0)))).sum
    l1(warm.ranks) should be < l1(cold.ranks)
  }

  test("warm start with new nodes: absent ids start at 1/n, run completes") {
    import spark.implicits._
    val prev = LinkGraph.pageRankRun(
      Seq((0L, 1L), (1L, 0L)).toDF("s", "d"), "s", "d", iterations = 3)
    // delta introduces node 2, unseen by prev
    val run = LinkGraph.pageRankWarmRun(
      Seq((0L, 1L), (1L, 0L), (1L, 2L)).toDF("s", "d"), "s", "d",
      prev.ranks, iterations = 5)
    val m = run.ranks.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    m.keySet shouldBe Set(0L, 1L, 2L)
    m.values.foreach(_ should be > 0.0)
  }

  test("hits: parallel edges carry no extra weight (0/1 adjacency)") {
    import spark.implicits._
    val once = Seq((0L, 1L), (0L, 2L), (3L, 1L)).toDF("s", "d")
    val dup = Seq((0L, 1L), (0L, 1L), (0L, 1L), (0L, 2L), (3L, 1L)).toDF("s", "d")
    val a = LinkGraph.hits(once, "s", "d").collect()
      .map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e9) / 1e9)).toMap
    val b = LinkGraph.hits(dup, "s", "d").collect()
      .map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e9) / 1e9)).toMap
    a shouldBe b
  }

  test("triangleCounts: closed forms on K4 and a triangle+tail; direction/duplicates collapse") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum => sqlSum}
    // K4: every node sits in C(3,2) = 3 triangles
    val k4 = (for { a <- 0 to 3; b <- 0 to 3 if a < b } yield (a.toLong, b.toLong))
      .toDF("src", "dst")
    LinkGraph.triangleCounts(k4, "src", "dst")
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq shouldBe Seq((0L, 3L), (1L, 3L), (2L, 3L), (3L, 3L))
    // triangle 0-1-2 plus tail 2-3: node 3 in no triangle -> absent
    val tri = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L)).toDF("src", "dst")
    LinkGraph.triangleCounts(tri, "src", "dst")
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq shouldBe Seq((0L, 1L), (1L, 1L), (2L, 1L))
    // reversed duplicates, self-loops, and parallel edges change nothing
    val messy = Seq((1L, 0L), (0L, 1L), (2L, 1L), (0L, 2L), (2L, 0L),
      (1L, 1L), (0L, 1L)).toDF("src", "dst")
    LinkGraph.triangleCounts(messy, "src", "dst")
      .agg(sqlSum(col("n_triangles")))
      .head.getLong(0) shouldBe 3L // one triangle, three corners
  }
}
