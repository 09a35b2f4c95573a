package graft.ext

import org.apache.spark.sql.{Column, DataFrame}

/** Parallelism repair for compute-dense stages rooted at byte-tiny
  * inputs (guide §2.5's input-skew class, inverted: not one huge
  * unsplittable file but one TINY single-row-group file). A parquet
  * scan parallelizes only at row-group granularity, so a fixture-sized
  * table reads as ONE task — and every narrow operator chained onto it
  * (explode → hash → partial aggregate, per-row decode, m×k distance
  * probes) serializes onto one core no matter how many the box has.
  * At 100 TB the same scan has thousands of splits and none of this
  * machinery fires.
  *
  * Profiled motivation (round 21, sf0.1 local[32]): q182's window
  * explode + md5 of 15M char windows ran 4.8 s single-task inside the
  * scan stage; q92's two signature passes 3.3 + 3.9 s single-task.
  */
object Par {

  /** Hash-repartition `df` to the session's shuffle-partition target
    * UNLESS its plan already provides at least that parallelism — the
    * no-op branch is what makes this scale-adaptive rather than a
    * local[32] constant: a real multi-split scan keeps its natural
    * partitioning and pays no extra exchange.
    *
    * Only call this on exchange-free plans (scans, checkpointed
    * frames, narrow projections over either): `df.rdd` on a plan that
    * contains exchanges would materialize those stages eagerly under
    * AQE. That probe is now GUARDED (r21 ADVICE), not just documented —
    * see the branch comments in the body. Keyed repartition (not
    * round-robin) so there is no sort-before-repartition pass and the
    * placement is deterministic under task retries (SPARK-38388
    * class).
    */
  def spread(df: DataFrame, key: Column): DataFrame = {
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    val plan = df.queryExecution.sparkPlan
    // Parallelism WITHOUT `.rdd` where the plan already states it (r21
    // ADVICE): an explicit repartition / exchange-rooted plan carries a
    // static numPartitions, so no probe (and no eager AQE stage
    // execution) is needed. Unknown-partitioning plans split two ways:
    // narrow-over-leaf chains (scans, pinned frames, projections —
    // every internal call site) probe `.rdd` as before, which runs no
    // stages there; anything containing a shuffle-inducing or
    // broadcast operator takes the conservative branch — a
    // deterministic keyed repartition (AQE coalesces it right back at
    // real widths) instead of a probe that would execute those stages
    // eagerly and duplicate their work.
    val staticN = plan.outputPartitioning.numPartitions
    val n =
      if (staticN > 0) staticN
      else {
        val shuffleInducing = plan.exists {
          case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => true
          case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec => true
          case _: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => true
          // a broadcast's build side is its own job: `.rdd` under AQE
          // would materialize it eagerly just to count partitions
          case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => true
          case _: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => true
          case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => true
          case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
          case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
          case _: org.apache.spark.sql.execution.aggregate.SortAggregateExec => true
          case _: org.apache.spark.sql.execution.window.WindowExec => true
          case s: org.apache.spark.sql.execution.SortExec if s.global => true
          case _ => false
        }
        if (shuffleInducing) -1 else df.rdd.getNumPartitions
      }
    if (n >= p) df else df.repartition(p, key)
  }

  /** `localCheckpoint` whose pinned RDD is guaranteed at least the
    * session's shuffle-partition parallelism: AQE's byte-based
    * coalescing sizes the final shuffle of a small-byte aggregate to a
    * handful of partitions, and a checkpoint taken there serializes
    * every downstream broadcast-probe pipeline onto that handful of
    * cores (q28's 5.1M-pair LSH verify ran 13 s on ONE core against a
    * 1-partition signature checkpoint). When the materialized
    * checkpoint comes out under-partitioned, re-spread and re-pin it —
    * the second pin reads the first's cached blocks (tiny by
    * construction: this branch only fires when the data was small
    * enough for AQE to coalesce). At scale the first pin already
    * carries ≥ the target partitions and no second exchange exists.
    */
  def checkpointSpread(df: DataFrame, key: Column): DataFrame = {
    val cp = df.localCheckpoint()
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    if (cp.rdd.getNumPartitions >= p) cp
    else {
      val spreadCp = cp.repartition(p, key).localCheckpoint()
      // the under-partitioned first pin has served its one purpose
      // (feeding the re-spread); release its blocks now instead of
      // letting them sit until RDD GC (r21 ADVICE — the LinkGraph
      // iterate-unpersist pattern)
      cp.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }.foreach(_.unpersist(blocking = false))
      spreadCp
    }
  }
}
