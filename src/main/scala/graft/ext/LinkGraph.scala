package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics for crawl curation — the authority signal
  * behind "crawl this domain more / weight this source higher".
  * PageRank here is the fixed-iteration power method, spelled as the
  * engine spells connected components ([[Dedup.connectedComponents]]):
  * a driver loop over declarative per-iteration plans, each iteration
  * ONE shuffle (contributions grouped by target), with `localCheckpoint`
  * pinning every iterate so lineage stays flat.
  *
  * Semantics (the standard damped, weighted, dangling-aware form):
  * `r'(v) = (1−d)/N + d·( Σ_{u→v} r(u)·w(u,v)/outw(u) + mass_dangling/N )`
  * — parallel edges merge into weights, a node with no out-links
  * redistributes its rank uniformly, so Σr = 1 is an invariant after
  * every iteration (spec-pinned).
  *
  * Shape at scale: the share-annotated edge list is built once,
  * pinned, and re-joined each iteration (ranks are |V|-sized, edges
  * |E|-sized; the join shuffles on src then aggregates on dst — the
  * unavoidable two-hop of any message-passing step). The dangling
  * mass is a 1-row aggregate per iteration (an O(iterations)
  * driver-scalar class, like the components convergence check — NOT a
  * per-row collect). Fixed iteration count, not a convergence test:
  * a bounded, reproducible plan the oracle can unroll.
  */
object LinkGraph {

  /** A finished run with its diagnostic: the L1 residual
    * `Σ|r_k − r_{k−1}|` between the last two iterates — the convergence
    * evidence a fixed-iteration plan owes its reader.
    */
  final case class PageRankRun(ranks: DataFrame, l1Residual: Double)

  /** PageRank over `(srcCol, dstCol)` edge rows (parallel edges =
    * weight). Output: `(node, rank)` — node typed as the input column.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      damping: Double = 0.85,
      iterations: Int = 10): DataFrame =
    pageRankRun(edges, srcCol, dstCol, damping, iterations).ranks

  /** [[pageRankRun]] warm-started from a previous run's `(node, rank)`
    * frame — the incremental-crawl shape: after an edge delta, ranks
    * re-converge from the old fixed point in a fraction of the
    * iterations a cold start needs (the teleport term makes the
    * iteration a contraction, so ANY init converges to the same fixed
    * point; a near-fixed-point init just starts closer). Nodes absent
    * from `init` (newly discovered pages) start at 1/n; no
    * renormalization is needed for the same contraction reason.
    */
  def pageRankWarmRun(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      init: DataFrame,
      damping: Double = 0.85,
      iterations: Int = 10): PageRankRun =
    pageRankRun(edges, srcCol, dstCol, damping, iterations, Some(init))

  /** [[pageRank]] plus diagnostics. Iterate memory is BOUNDED: once
    * iterate k materializes, iterate k−2 unpersists (k−1 stays alive
    * for the residual), so the steady-state cache is the pinned share
    * table + dangling set + two |V|-row iterates — at any scale, not
    * O(iterations) iterates as a naive checkpoint chain would hold.
    */
  def pageRankRun(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      damping: Double = 0.85,
      iterations: Int = 10,
      init: Option[DataFrame] = None): PageRankRun = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val ew = edges
      .groupBy(col(srcCol).as("src"), col(dstCol).as("dst"))
      .agg(count(lit(1)).cast("double").as("w"))
    val nodes = ew.select(col("src").as("v"))
      .union(ew.select(col("dst").as("v")))
      .distinct()
      .localCheckpoint()
    val n = nodes.count()
    require(n > 0, "pageRank needs at least one edge")
    val outw = ew.groupBy("src").agg(sum("w").as("__ow"))
    val shares = ew.join(outw, "src")
      .select(col("src"), col("dst"), (col("w") / col("__ow")).as("share"))
      .localCheckpoint() // re-joined every iteration; never recomputed
    val dangling = nodes
      .join(shares.select(col("src").as("v")).distinct(), Seq("v"), "left_anti")
      .localCheckpoint()
    // Dataset.unpersist on a localCheckpoint'd frame is a no-op: it
    // routes through CacheManager.uncacheQuery, which only tracks plans
    // registered via persist()/cache(), while localCheckpoint persists
    // the underlying RDD directly. To actually reclaim iterate k−2's
    // blocks we pull the checkpointed RDD handle out of the returned
    // frame's plan (its analyzed plan IS a LogicalRDD over that RDD)
    // and unpersist the RDD itself. A getPersistentRDDs-delta would be
    // wrong here: Verify runs queries concurrently on one context, so
    // a delta can capture ANOTHER query's just-pinned blocks.
    def pin(df: DataFrame): (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
      val cp = df.localCheckpoint()
      val handle = cp.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }
      (cp, handle.toSeq)
    }
    var prev: DataFrame = null
    var prevRdds: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    var (ranks, ranksRdds) = pin(init match {
      case Some(r) =>
        val filled = nodes
          .join(r.select(col("node").as("v"), col("rank").as("__r0")), Seq("v"), "left")
          .select(col("v"), coalesce(col("__r0"), lit(1.0 / n)).as("rank"))
          .localCheckpoint()
        // renormalize to unit mass: new/dropped nodes leave the carried
        // vector off-1, and the iteration only decays excess mass at
        // rate `damping` per step — an unnormalized warm start can sit
        // FARTHER from the fixed point than uniform for several
        // iterations (measured, not hypothetical)
        val mass = filled.agg(sum("rank")).head().getDouble(0)
        require(mass > 0, "warm-start init has no positive mass")
        filled.select(col("v"), (col("rank") / mass).as("rank"))
      case None => nodes.select(col("v"), lit(1.0 / n).as("rank"))
    })
    var it = 0
    while (it < iterations) {
      // The dangling mass rides as a broadcast 1-row aggregate inside
      // the SAME action that materializes the next iterate — the
      // former `.head()` collect was a second driver roundtrip (plan +
      // AQE stage jobs) per iteration, pure scheduling overhead on the
      // iteration's critical path (r21: these fixed-iteration loops
      // were driver-gap-bound, not executor-bound). Same arithmetic:
      // the scalar is divided by n and added exactly as before.
      val danglingMass = ranks
        .join(dangling, Seq("v"), "left_semi")
        .agg(coalesce(sum("rank"), lit(0.0)).as("__dm"))
      val contrib = ranks
        .join(shares, ranks("v") === shares("src"))
        .groupBy(col("dst").as("v"))
        .agg(sum(col("rank") * col("share")).as("__c"))
      val (next, nextRdds) = pin(nodes
        .join(contrib, Seq("v"), "left")
        .crossJoin(broadcast(danglingMass))
        .select(col("v"),
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("__c"), lit(0.0)) + col("__dm") / n))
            .as("rank")))
      // next is materialized; the k−2 iterate can never be read again
      prevRdds.foreach(_.unpersist(blocking = false))
      prev = ranks
      prevRdds = ranksRdds
      ranks = next
      ranksRdds = nextRdds
      it += 1
    }
    val residual =
      if (prev == null) Double.NaN
      else ranks.as("a").join(prev.as("b"), col("a.v") === col("b.v"))
        .agg(sum(abs(col("a.rank") - col("b.rank"))))
        .head().getDouble(0)
    PageRankRun(ranks.withColumnRenamed("v", "node"), residual)
  }

  /** A finished HITS run: `(node, auth, hub)` scores plus the L1
    * residual `Σ|a_k − a_{k−1}|` of the authority vector — the same
    * convergence evidence [[PageRankRun]] carries.
    */
  final case class HitsRun(scores: DataFrame, l1Residual: Double)

  /** Kleinberg's HITS over `(srcCol, dstCol)` edge rows — hubs point at
    * good authorities, authorities are pointed at by good hubs. The
    * crawl-curation complement of PageRank: seed-list building wants
    * hubs (directories, link pages), content selection wants
    * authorities. Edges are DEDUPLICATED (the classic 0/1 adjacency);
    * parallel edges carry no extra weight.
    *
    * Per iteration: `a(v) = Σ_{u→v} h(u)`, L2-normalized; then
    * `h(u) = Σ_{u→v} a(v)`, L2-normalized — the power iteration on
    * AᵀA / AAᵀ. Nodes without in-edges hold auth 0, without out-edges
    * hub 0. Fixed `iterations` like [[pageRankRun]]; the residual says
    * how converged the run is.
    *
    * Shape at scale: the deduped edge table pins once and every
    * iteration is two keyed joins + two hash aggregations (shuffle by
    * dst, then by src) plus a 1-row norm aggregate collected to the
    * driver — the same per-iteration exchange count as PageRank.
    * Iterate memory is bounded exactly as in [[pageRankRun]]: the
    * k−2 iterate's checkpointed RDD blocks are dropped as soon as k
    * materializes.
    */
  def hitsRun(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 10): HitsRun = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .localCheckpoint() // re-joined twice per iteration
    val nodes = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v")))
      .distinct()
      .localCheckpoint()
    require(nodes.count() > 0, "hits needs at least one edge")
    def pin(df: DataFrame): (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
      val cp = df.localCheckpoint()
      val handle = cp.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }
      (cp, handle.toSeq)
    }
    // SPARSE normalization (r21): iterates carry only nodes the edge
    // joins actually produce (auth: nodes with in-edges, hub: nodes
    // with out-edges) — the per-iteration `nodes` left-join + 0-fill
    // the old spelling paid twice per iteration contributed nothing:
    // a 0-valued row adds 0 to the L2 norm (x + 0.0 == x exactly) and
    // contributes 0 through the next edge join. The 0-fill happens
    // ONCE at the end for the output contract. The missing-row sets
    // are identical every iteration, so the residual inner join sees
    // the same pairs it saw over filled frames (|0 − 0| rows dropped).
    // Normalization itself stays LAZY over the pinned raw aggregate:
    // the norm is collected from the pinned frame (no recompute of the
    // edge join), and the division re-runs as a cheap projection over
    // cached blocks instead of forcing a second materialization.
    def l2Normalized(raw: DataFrame, valueCol: String)
        : (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
      val (pinned, rdds) = pin(raw)
      val norm = pinned.agg(sqrt(sum(col(valueCol) * col(valueCol))))
        .head().getDouble(0)
      require(norm > 0, "HITS norm collapsed to 0 — graph has no edges")
      (pinned.select(col("v"), (col(valueCol) / norm).as(valueCol)), rdds)
    }
    var (hub, hubRdds) = pin(nodes.select(col("v"), lit(1.0).as("h")))
    var auth: DataFrame = null
    var authRdds: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    var prevAuth: DataFrame = null
    var prevAuthRdds: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    var it = 0
    while (it < iterations) {
      val (nextAuth, nextAuthRdds) = l2Normalized(
        hub.join(e, hub("v") === e("src"))
          .groupBy(col("dst").as("v")).agg(sum(col("h")).as("a")),
        "a")
      val (nextHub, nextHubRdds) = l2Normalized(
        nextAuth.join(e, nextAuth("v") === e("dst"))
          .groupBy(col("src").as("v")).agg(sum(col("a")).as("h")),
        "h")
      // nextAuth/nextHub are materialized; k−2 can never be read again
      prevAuthRdds.foreach(_.unpersist(blocking = false))
      prevAuth = auth
      prevAuthRdds = authRdds
      auth = nextAuth
      authRdds = nextAuthRdds
      hubRdds.foreach(_.unpersist(blocking = false))
      hub = nextHub
      hubRdds = nextHubRdds
      it += 1
    }
    val residual =
      if (prevAuth == null) Double.NaN
      else auth.as("x").join(prevAuth.as("y"), col("x.v") === col("y.v"))
        .agg(sum(abs(col("x.a") - col("y.a"))))
        .head().getDouble(0)
    // the one 0-fill: every node gets a row, auth 0 without in-edges,
    // hub 0 without out-edges — the contract the per-iteration fill
    // used to provide, now paid once instead of 2×iterations times
    HitsRun(
      nodes
        .join(auth, Seq("v"), "left")
        .join(hub, Seq("v"), "left")
        .select(col("v").as("node"),
          coalesce(col("a"), lit(0.0)).as("auth"),
          coalesce(col("h"), lit(0.0)).as("hub")),
      residual)
  }

  /** [[hitsRun]]'s scores only. */
  def hits(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 10): DataFrame =
    hitsRun(edges, srcCol, dstCol, iterations).scores

  /** Per-node triangle membership over the UNDIRECTED simple graph of
    * `edges` (direction, self-loops, and parallel edges collapse
    * first) — the local clustering signal: link farms and mirror
    * clusters are triangle-dense, organically linked pages are not.
    *
    * The distributed node-iterator construction: canonicalize each
    * edge to `a < b`, enumerate each triangle exactly once as
    * `a < b < c` via two equi-joins (wedge `(a,b),(b,c)` closed by
    * `(a,c)`), then explode the three corners into a per-node count.
    * Every triangle is found at its smallest corner, so no dedup pass.
    * Nodes in no triangle are absent — left-join against the node set
    * downstream if zeros matter.
    *
    * Shape at scale: two shuffle equi-joins on node keys; the classic
    * refinement for skew (orient wedges at the LOWER-degree endpoint)
    * changes only which corner enumerates a triangle, not the counts,
    * and slots in by replacing the `a < b` canonical order with a
    * (degree, id) order.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
      .localCheckpoint() // three join sides read it
    val tri = e.as("e1")
      .join(e.select(col("a").as("b"), col("b").as("c")).as("e2"), "b")
      .join(e.select(col("a"), col("b").as("c")).as("e3"), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
  }
}
