package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{SparkEntry, SparkTestBase}

/** Plan-regression guard: the PLANS.md audit as CI assertions.
  *
  * The round-4 incident class — a text scalar silently falling back to
  * an interpreted higher-order function (`lambdafunction` nodes, ~5×
  * slower than the codegen regexp spelling) — was caught by a bench
  * diff, two rounds late. These tests pin the audited plan properties
  * so the same regression fails `sbt test` instead:
  *
  *  - q21/q22/q39 (the text-scalar hot paths): zero HOF nodes anywhere
  *    in the optimized or physical plan;
  *  - q01: the status/date predicates actually reach the parquet scan
  *    (`PushedFilters` non-empty);
  *  - q25: the batch k-NN aggregation keeps its map-side combine
  *    (`partial_topkagg` in the physical plan — losing it would shuffle
  *    every (query, candidate) pair instead of a bounded heap per task).
  *
  * Plan shape does not depend on data scale, so sf0.001 is enough.
  */
class PlanAuditSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def plans(name: String): String = {
    val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
    qe.optimizedPlan.toString + "\n" + qe.executedPlan.toString
  }

  // q21/q22/q39: the text-scalar hot paths (the round-4 incident);
  // q23/q25: the vector-scoring hot paths, HOF-free since dot_f64
  for (name <- Seq("q21_quality_score", "q22_lang_id", "q39_clean_corpus",
      "q23_cosine_topk", "q25_topk_join"))
    test(s"$name plan has no interpreted HOF (lambdafunction) nodes") {
      plans(name).toLowerCase should not include "lambdafunction"
    }

  /** `from_json` evaluations left in an optimized plan. */
  private def jsonParses(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.map(_.collect {
        case j: org.apache.spark.sql.catalyst.expressions.JsonToStructs => j
      }.size).sum
    }.sum

  test("trip events are parsed once per line: one from_json per decoded side") {
    import org.apache.spark.sql.functions._
    // a range-backed feed, so the optimizer cannot fold the parse away
    val lines = spark.range(4).select(concat(lit("""{"trip_id":"t"""),
      col("id").cast("string"), lit("\"}")).as("value"))
    val starts = graft.ingest.EventReader.decodeStartStream(spark, lines).toDF()
    val ends = graft.ingest.EventReader.decodeEndStream(spark, lines).toDF()
    jsonParses(starts) shouldBe 1
    jsonParses(ends) shouldBe 1
    jsonParses(graft.ingest.EventReader.corruptRecords(
      lines, graft.schema.TripSchemas.tripEndWireSchema)) shouldBe 1
    // the correlator's key and telemetry-quad tests add no parse
    jsonParses(graft.core.TripCorrelation.correlate(starts, ends)) shouldBe 2
  }

  test("q01 filters are pushed down to the parquet scan") {
    // FormattedMode is the only mode that renders the scan's
    // `PushedFilters: [IsNotNull(...), ...]` untruncated; an empty
    // list (`PushedFilters: []`) means the scan reads everything.
    val formatted = SparkEntry.queries("q01_scan_filter_project")(spark, sfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(formatted)
    pushed should not be empty
    pushed.get.group(1).trim should not be ""
  }

  test("q25 keeps the map-side partial_topkagg combine") {
    SparkEntry.queries("q25_topk_join")(spark, sfDir)
      .queryExecution.executedPlan.toString should include("partial_topkagg")
  }

  test("q51 takes its top-k without a global sort") {
    SparkEntry.queries("q51_token_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString should include("TakeOrderedAndProject")
  }

  test("q58 broadcasts the benchmark gram set — no corpus-side text shuffle") {
    // The contamination join's whole scale story is that the benchmark
    // n-gram set is broadcast-small; a sort-merge join here would
    // shuffle the exploded gram stream of the ENTIRE corpus.
    SparkEntry.queries("q58_contamination")(spark, sfDir)
      .queryExecution.executedPlan.toString should include("BroadcastHashJoin")
  }

  test("q71 keep-first is an aggregation, not a window (skew claim)") {
    // dedupSpans' scale story: the winner per span is min(struct(...))
    // with map-side partial aggregation — a Window spelling would sort
    // every copy of the hottest boilerplate span onto one task.
    val p = plans("q71_span_dedup")
    p should not include "Window"
    p.toLowerCase should include("partial_min")
  }

  test("q76 domain gate is a pure scan predicate — no exchange, no join") {
    // filterByDomains claims a shuffle-free codegen filter; the salted
    // q76 body adds only a projection + sort for the oracle contract,
    // so the plan below the output sort must stay exchange-free.
    val p = SparkEntry.queries("q76_domain_filter")(spark, sfDir)
      .queryExecution.executedPlan.toString
    p should not include "Join"
    // exactly one exchange: the final rangepartitioning for ORDER BY
    "Exchange".r.findAllIn(p).size shouldBe 1
  }

  test("q72/q77 model scoring joins have no interpreted HOF nodes") {
    for (name <- Seq("q72_dsir_weights", "q77_bigram_xent"))
      plans(name).toLowerCase should not include "lambdafunction"
  }

  test("q87 fuzzy decontamination broadcasts the benchmark side") {
    // crossPairsFromSigs' scale story: benchmark bands AND signatures
    // broadcast; a sort-merge join would shuffle the corpus banding
    val p = SparkEntry.queries("q87_fuzzy_decontamination")(spark, sfDir)
      .queryExecution.executedPlan.toString
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
  }

  test("q90 classifier scores through a broadcast model join") {
    // the ≤4096-row weight table broadcasts; the corpus gram stream
    // must never reach a shuffle join
    val p = SparkEntry.queries("q90_quality_classifier")(spark, sfDir)
      .queryExecution.executedPlan.toString
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
  }

  test("q94 html extraction has no window and no interpreted HOF") {
    // extractText's line gate runs in the codegen projection and the
    // reassembly is ONE hash aggregation (sort_array in-row + struct
    // field extraction, no lambda) — a Window or lambdafunction here
    // means the spelling regressed to a per-doc sort or interpreted HOF
    val p = plans("q94_html_extract")
    p.toLowerCase should not include "lambdafunction"
    p should not include "Window"
  }

  test("q95 BPE encode scores through a broadcast word->pieces join") {
    // the distinct-word merge-chain table broadcasts back onto the
    // token stream — the token-side join key is __w, and a sort-merge
    // join ON THAT KEY would shuffle the corpus tokens. (The final
    // per-doc left join of counts onto base ids is corpus×corpus and
    // legitimately sort-merge; only the __w join must broadcast.)
    // Audited on the encode stage directly: q95's query body pins the
    // encode behind a localCheckpoint (bound totals + per-row output
    // both read it), which hides this plan from the final frame.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val model = graft.ext.Bpe.learnMerges(docs, "text", numMerges = 32)
    val p = graft.ext.Bpe.encode(docs, "doc_id", "text", model)
      .queryExecution.executedPlan.toString
    "BroadcastHashJoin \\[__w#".r.findFirstIn(p) should not be empty
    "SortMergeJoin \\[__w#".r.findFirstIn(p) shouldBe empty
  }

  test("q111 URL canonicalization is a pure scan projection") {
    // the whole chain (parse regexps, path passes, param filter/sort)
    // must stay in the row projection: no join anywhere, and exactly
    // one exchange — the rangepartitioning for the output ORDER BY.
    // (The param filter is a HOF over the split query string — a
    // per-row array of a handful of params, not a corpus structure —
    // so the lambdafunction rule doesn't apply here.)
    val p = SparkEntry.queries("q111_canonical_url")(spark, sfDir)
      .queryExecution.executedPlan.toString
    p should not include "Join"
    "Exchange".r.findAllIn(p).size shouldBe 1
  }

  test("q112 frontier admission probes the Bloom filter before any join") {
    // bloomedAntiJoin's scale story: the codegen bloom_contains probe
    // gates the big side in the scan, and the residual exact anti-join
    // broadcasts the (small) seen set — a sort-merge anti join would
    // shuffle the whole frontier.
    val p = SparkEntry.queries("q112_frontier_admission")(spark, sfDir)
      .queryExecution.executedPlan.toString
    p.toLowerCase should include("bloom_contains")
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
  }

  test("q113 PQ encode stays codegen: no HOF, no join, one output exchange") {
    // the m×k sqdist probes + argmin are plain expressions in the scan
    // projection; a lambdafunction or join here means the encode
    // regressed off the codegen path
    val p = plans("q113_pq_encode")
    p.toLowerCase should not include "lambdafunction"
    p should not include "Join"
    val executed = SparkEntry.queries("q113_pq_encode")(spark, sfDir)
      .queryExecution.executedPlan.toString
    "Exchange".r.findAllIn(executed).size shouldBe 1
  }

  test("q121 frontier pipeline never sort-merge joins; Bloom probe present") {
    // every join in the composed frontier (robots rules, seen set)
    // must broadcast — the frontier itself may shuffle only for its
    // verdict aggregation and the per-host scheduling window
    val p = SparkEntry.queries("q121_frontier_pipeline")(spark, sfDir)
      .queryExecution.executedPlan.toString
    p should not include "SortMergeJoin"
    p.toLowerCase should include("bloom_contains")
  }

  test("q123 sitemap discovery joins all broadcast; q124 discovered frontier never sort-merges") {
    // the discovery chain's joins (advertised directives → index,
    // child pointers → children, robots rules, seen set) are all
    // host-cardinality-small — every one must broadcast; a sort-merge
    // join would shuffle a corpus-sized side for a 10-row probe
    for (name <- Seq("q123_sitemap_discovery", "q124_frontier_discovered")) {
      val p = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      withClue(s"$name: ") {
        p should not include "SortMergeJoin"
        p should include("BroadcastHashJoin")
      }
    }
  }

  test("q126 disk-index probe prunes partitions; ADC scoring is join-free") {
    // the persisted IVF-PQ read must turn the probe list into
    // PartitionFilters on the cell directories (reading codes only),
    // and the ADC scorer is m element_at lookups in the projection
    val path = java.nio.file.Files.createTempDirectory("graft_audit_pq").toString
    try {
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val model = graft.ext.Pq.fit(e, "embedding", dim = 64, m = 8, k = 16, sampleN = 200)
      val coarse = graft.ext.SimilaritySearch.learnCentroids(e, "embedding", k = 4, sampleN = 200)
      graft.ext.Pq.writeIvfPqIndex(e, "vec_id", "embedding", coarse, model, path)
      val q = e.where(org.apache.spark.sql.functions.col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble)
      val df = graft.ext.Pq.ivfPqTopKFromIndex(spark, path, "vec_id", q, k = 5, nProbe = 2)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      formatted should include("PartitionFilters")
      "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(formatted)
        .get.group(1).trim should not be ""
      df.queryExecution.executedPlan.toString should not include "Join"
    } finally {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true): Unit
    }
  }

  test("q129 BM25 filters postings before the agg; stats sides broadcast") {
    // the query-term isin must sit under the (doc,term) aggregation —
    // a plan aggregating the full vocabulary before filtering would
    // shuffle the corpus's entire token stream; df and (N, avgdl) are
    // broadcast, so no sort-merge join anywhere
    val df = SparkEntry.queries("q129_bm25")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    p should not include "SortMergeJoin"
    p should include("BroadcastNestedLoopJoin") // the 1-row stats ride
    // optimized plan: the isin lands below the (doc,term) Aggregate
    val opt = df.queryExecution.optimizedPlan.toString
    val aggIdx = opt.indexOf("Aggregate")
    val filterIdx = opt.indexOf("IN (vector,stream,merge,zebra)")
    aggIdx should be >= 0
    filterIdx should be > aggIdx // rendered below = later in the string
  }

  test("q182 shared char spans: windowed doc frequency, no join, text never shuffles") {
    // r21 shape: each gram row's doc frequency is a COUNT OVER ITS
    // HASH GROUP — one exchange on the hash, one sort, no second table
    // and no join. The pin matters because the PREVIOUS shape (a
    // doc-frequency aggregate sort-merge-joined back) was the engine's
    // one corpus×corpus join, and the r20 sweep caught its
    // checkpoint-masked size estimate broadcasting a corpus-sized
    // table (driver OOM at 10×). With the window spelling there is no
    // join to mis-plan — assert exactly that, plus that text never
    // rides a shuffle (windows travel as md5 hashes only).
    val df = graft.ext.Dedup.sharedCharSpans(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text", k = 40)
    val p = df.queryExecution.executedPlan.toString
    p should include("Window") // the per-hash-group count
    // the gram-table exchange is keyed on the hash and carries hashes,
    // not text: every hashpartitioning in the plan is on __gh-derived
    // or doc-id columns (the only text-bearing exchange is the
    // conditional Par.spread fan-out of the raw scan, which is keyed
    // on the id and vanishes on any multi-split input)
    p should include("hashpartitioning")
    p should include("__gh")
    p should not include "SortMergeJoin"
    p should not include "BroadcastHashJoin"
    p should not include "ShuffledHashJoin"
    // machine-check the "text never rides the doc-frequency exchange"
    // half directly (r21 ADVICE): every __gh-keyed Exchange's input
    // column list excludes text — only the conditional Par.spread
    // fan-out (id-keyed, below the gram projection) may carry it.
    // Formatted explain is the one rendering that lists each
    // operator's input columns next to its partitioning arguments
    // (ensure-requirements exchanges exist only in the executed plan,
    // which AQE wraps against tree traversal).
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val ghBlocks = fmt.split("\n\\(")
      .filter(b => b.contains("Exchange") &&
        b.contains("hashpartitioning(__gh"))
    ghBlocks should not be empty
    ghBlocks.foreach { b =>
      b should not include "text#"
    }
  }

  test("q132 anchor extraction: one generator, no join; summary never sort-merges") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    // extraction stage (pre-checkpoint): a single explode of the
    // zipped match lists, everything else scan projection
    val pages = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), concat(lit("<a href=\"https://x.example.com/\">t</a>"),
        col("text")).as("__html"))
    val pairs = graft.ext.TextPipeline.anchorPairs(pages, "doc_id", "__html")
    val pp = pairs.queryExecution.executedPlan.toString
    pp should not include "Join"
    pp.toLowerCase should not include "lambdafunction"
    "Generate".r.findAllIn(pp).size shouldBe 1
    // full summary (checkpointed pair stream + two aggs): no sort-merge
    val p = SparkEntry.queries("q132_anchor_agg")(spark, sfDir)
      .queryExecution.executedPlan.toString
    p should not include "SortMergeJoin"
  }

  test("q134 z-order codes are a pure scan projection") {
    // 2·bits shift/or ops in the projection: no join, no generator,
    // and the only exchange is the output ORDER BY
    val p = SparkEntry.queries("q134_zorder")(spark, sfDir)
      .queryExecution.executedPlan.toString
    p should not include "Join"
    p should not include "Generate"
    "Exchange".r.findAllIn(p).size shouldBe 1
  }

  test("q142 Kneser-Ney stays HOF-free; model tables join, corpus aggregates once") {
    val p = plans("q142_kn_bigram")
    p.toLowerCase should not include "lambdafunction"
  }

  test("q143 salted join shuffles on (key, salt) and never nested-loops") {
    val p = SparkEntry.queries("q143_salted_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    p should include("SortMergeJoin") // forceShuffle keeps the demo honest
    p should not include "BroadcastNestedLoopJoin"
    "hashpartitioning\\([^)]*__salt".r.findFirstIn(p) should not be empty
  }

  test("q144 rendezvous sharding is a pure projection (no explode) before the agg") {
    val p = SparkEntry.queries("q144_rendezvous_shard")(spark, sfDir)
      .queryExecution.executedPlan.toString
    p should not include "Generate" // 17 inline md5 probes, zero row blowup
    p should not include "Join"
  }

  test("q146 Neyman admission broadcasts the rate table onto the scan") {
    val p = SparkEntry.queries("q146_neyman_sample")(spark, sfDir)
      .queryExecution.executedPlan.toString
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
  }

  test("autoSplit bulk path labels without any sort or window") {
    // the hybrid splitter's 100 TB contract: strata ABOVE the exact
    // threshold take a pure codegen hex-bound projection — no Window,
    // no Sort anywhere in the bulk branch, no matter how dominant the
    // largest stratum is. (A window here would mean the exact form
    // leaked into the bulk regime — the single-task-per-stratum
    // failure autoSplit exists to prevent.)
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val bulk = graft.ext.Sampling.autoSplit(docs, "lang", "doc_id",
        testFrac = 0.1, valFrac = 0.1, exactThreshold = 0L) // all bulk
      .where(col("regime") === "bulk")
    val p = bulk.queryExecution.executedPlan.toString
    p should not include "Window"
    // the only sort allowed would come from an ORDER BY — none here
    p should not include "Sort "
  }

  test("q150 bootstrap replicas partial-aggregate before the shuffle") {
    // the corpus×replicas stream must collapse map-side to
    // |groups|·replicas partial rows — losing the partial agg would
    // shuffle 64× the corpus
    val p = SparkEntry.queries("q150_bootstrap_ci")(spark, sfDir)
      .queryExecution.executedPlan.toString
    p.toLowerCase should include("partial")
    p should not include "SortMergeJoin" // 5-row sides broadcast
  }

  test("q151 interval join runs as an equi-join, not a nested loop") {
    val p = SparkEntry.queries("q151_interval_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    p should not include "BroadcastNestedLoopJoin"
  }

  test("q157 binary ANN packs in the scan projection; no sort-merge anywhere") {
    // the sign-bit packing is 64 inline compares in the projection (no
    // Generate row blowup), and every join is a k-row broadcast
    val p = SparkEntry.queries("q157_binary_ann")(spark, sfDir)
      .queryExecution.executedPlan.toString
    p should not include "Generate"
    p should not include "SortMergeJoin"
  }

  test("q165 hard negatives broadcast the query set; the corpus scans once") {
    val p = SparkEntry.queries("q165_hard_negatives")(spark, sfDir)
      .queryExecution.executedPlan.toString
    p should include("BroadcastNestedLoopJoin") // 10-row query side rides along
    p should not include "SortMergeJoin"
  }

  test("q176 PSI joins stay broadcast; binning is a projection over the cuts row") {
    val p = SparkEntry.queries("q176_drift_psi")(spark, sfDir)
      .queryExecution.executedPlan.toString
    p should not include "SortMergeJoin"
    p should not include "Generate"
  }

  test("q11 rank filter triggers Spark's partial WindowGroupLimit") {
    // Top-k-per-key via window + rank<=k filter is only scale-safe
    // because Catalyst inserts a MAP-SIDE group limit before the
    // shuffle (each task forwards at most k rows per key) — the
    // declarative plan giving the bounded-heap physical shape for
    // free. If a query rewrite ever loses the rank predicate's
    // pushdown, every row of every key shuffles and sorts again.
    val p = SparkEntry.queries("q11_window_rank")(spark, sfDir)
      .queryExecution.executedPlan.toString
    p should include("WindowGroupLimit")
    p should include("Partial")
  }
}
