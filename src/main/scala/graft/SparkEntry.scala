package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.KpiAggregation
import graft.ext.{Dedup, MediaCodec, Multimodal, Sampling, SimilaritySearch, TextAnalysis, TextPipeline, LangId}
import graft.ingest.{EventReader, ParquetRead}

/** Driver contract — one named query per implemented operator family
  * (SURVEY.md §2 + the LLM-pipeline extensions), each with a DuckDB
  * oracle twin in [[oracleSql]] run by the driver on the same parquet
  * tables at sf0.01.
  *
  * Determinism rules (FIXTURES.md §6): every query output carries an
  * explicit ORDER BY-equivalent sort; DoubleType everywhere; no raw
  * timestamp outputs (cast to date/string); column names aliased
  * identically in Spark and SQL.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    ParquetRead.read(s, s"$dir/$name.parquet")

  /** Root for oracle-visible generated fixtures. The realistic
    * synthetic corpus is built with scala.util.Random, which has no
    * SQL twin — but the ROWS it produces do: persisting them to a
    * parquet path lets the DuckDB oracle `read_parquet` the identical
    * input Spark processed, turning "no SQL twin by construction"
    * rows into fully-oracled ones. Lives under target/ (git-ignored,
    * always writable next to the build). Derived from the working
    * directory (overridable via -Dgraft.fixture.dir), not a hardcoded
    * checkout path; [[oracleSql]] interpolates the SAME value into its
    * read_parquet globs, and the dump in Verify runs in the same JVM,
    * so the oracle always reads where this process wrote. Verify
    * clears the root at startup so the size-wildcard globs only ever
    * match the corpus THIS run persisted. */
  private[graft] val FixtureDir =
    sys.props.get("graft.fixture.dir").getOrElse(
      new java.io.File(sys.props("user.dir"), "target/fixtures")
        .getAbsolutePath)

  /** Fixture write ledger: (name, corpus size) already on disk this
    * JVM. Verify dumps queries from a thread pool, and two queries
    * share the default corpus — an unsynchronized overwrite would let
    * both write jobs interleave and leave BOTH jobs' part files in the
    * directory (observed: doubled rows). The on-disk path is scoped by
    * corpus size, so distinct sizes never share a directory and a
    * written directory is IMMUTABLE for the JVM's lifetime — the read
    * below can sit outside the lock without racing any overwrite. */
  private val fixtureWritten =
    scala.collection.mutable.Set.empty[(String, Long)]

  /** True when running under [[Bench]] (it sets the property): the
    * bench lane never runs the DuckDB oracle, so persisting the corpus
    * there would only serialize generation through a coalesce(1) write
    * and make later reps time a parquet read instead of the operator
    * under measurement. Bench uses the in-memory frame directly. */
  private def benchLane: Boolean =
    sys.props.get("graft.lane").contains("bench")

  /** Signature family keyed off the lane: the verify lane runs Md5 so
    * DuckDB can replay every MinHash lane in SQL; the bench lane keeps
    * the xxhash64 production family so the benchmark times the path
    * production runs, preserving like-for-like comparability with the
    * committed reference capture (r18 ADVICE #4). */
  private def laneSigMode: Dedup.SigMode =
    if (benchLane) Dedup.SigMode.Xxhash64 else Dedup.SigMode.Md5

  /** Generate the realistic corpus sized to the sf's documents table
    * and persist it for the oracle (single part file — the oracle
    * globs the part file inside the size-scoped dir). Returns the
    * re-read frame so Spark and DuckDB consume the same bytes.
    * Verify-lane plumbing: the corpus is ≤ thousands of rows at test
    * sf, so coalesce(1) is free. On the bench lane the write is
    * skipped entirely (see [[benchLane]]). */
  private def persistedRealistic(
      s: SparkSession, dir: String, name: String,
      langWeights: Seq[(String, Int)] = Nil): DataFrame = {
    val n = t(s, dir, "documents").count()
    def corpus = graft.ext.SyntheticCorpus
      .realistic(s, n, langWeights = langWeights)
    if (benchLane) corpus
    else {
      val path = s"$FixtureDir/$name-$n"
      fixtureWritten.synchronized {
        if (!fixtureWritten.contains((name, n))) {
          corpus.coalesce(1).write.mode("overwrite").parquet(path)
          fixtureWritten.add((name, n)): Unit
        }
      }
      ParquetRead.read(s, path)
    }
  }

  /** The q32 planted media payloads: real-format fixtures (WAV PCM,
    * BMP, PGM, PPM, PNG incl. palette + 16-bit, baseline JPEG, GIF)
    * whose decode stats have closed forms. Negative ids keep them
    * disjoint from the stub corpus. Deterministic — byte-identical on
    * every call — so the persisted fixture and the in-memory bench
    * frame carry the same payloads. */
  private[graft] def plantedMediaRows: Seq[Multimodal.MediaRow] = Seq(
    Multimodal.MediaRow(-1L, "audio", MediaCodec.Fixtures.sineWav(440, 0.5)),
    Multimodal.MediaRow(-2L, "audio", MediaCodec.Fixtures.sineWav(100, 1.0)),
    Multimodal.MediaRow(-3L, "image", MediaCodec.Fixtures.gradientBmp(64, 32)),
    Multimodal.MediaRow(-4L, "image", MediaCodec.Fixtures.gradientBmp(16, 16)),
    Multimodal.MediaRow(-5L, "image", MediaCodec.Fixtures.gradientPgm(64, 32)),
    Multimodal.MediaRow(-6L, "image", MediaCodec.Fixtures.gradientPpm(16, 16)),
    Multimodal.MediaRow(-7L, "image", MediaCodec.Fixtures.gradientPng(16, 10)),
    Multimodal.MediaRow(-8L, "image",
      MediaCodec.Fixtures.gradientPng(16, 10, colorType = 6)),
    // real baseline JPEGs (grayscale / 4:4:4 / 4:2:0): Huffman + IDCT
    // decode; LOSSY, so the q32 oracle checks these via tolerance
    // booleans instead of exact feature hashes
    Multimodal.MediaRow(-9L, "image",
      graft.ext.JpegCodec.Fixtures.gradientJpeg(24, 16, mode = "gray")),
    Multimodal.MediaRow(-10L, "image",
      graft.ext.JpegCodec.Fixtures.gradientJpeg(24, 16, mode = "444")),
    Multimodal.MediaRow(-11L, "image",
      graft.ext.JpegCodec.Fixtures.gradientJpeg(24, 16, mode = "420")),
    // palette PNG (type 3): PLTE-lookup decode, all 5 filters at bpp=1
    Multimodal.MediaRow(-12L, "image",
      MediaCodec.Fixtures.palettePng(19, 11)),
    // real GIF (LZW decode): same 4-color (x+y)%4 profile, so the
    // channel means must EQUAL the palette PNG row's exactly
    Multimodal.MediaRow(-13L, "image",
      graft.ext.GifCodec.Fixtures.gradientGif(19, 11)),
    // 16-bit PNG (samples v*257): normalized means must EQUAL the
    // 8-bit RGB row -7's exactly
    Multimodal.MediaRow(-14L, "image",
      MediaCodec.Fixtures.gradientPng(16, 10, depth = 16)))

  /** Persist the planted media for the q32 oracle (the q48 fixture
    * convention): DuckDB reads the payload BLOBs back and re-derives
    * n_bytes plus — for the WAV rows — the PCM sample stats from the
    * same bytes, an independent in-SQL decode. Bench lane skips the
    * write and uses the in-memory rows (identical bytes — the
    * generators are deterministic). */
  private[graft] def plantedMedia(
      s: SparkSession): org.apache.spark.sql.Dataset[Multimodal.MediaRow] = {
    import s.implicits._
    val rows = s.createDataset(plantedMediaRows)
    if (benchLane) rows
    else {
      val path = s"$FixtureDir/planted_media-${plantedMediaRows.size}"
      fixtureWritten.synchronized {
        if (!fixtureWritten.contains(("planted_media", plantedMediaRows.size.toLong))) {
          rows.coalesce(1).write.mode("overwrite").parquet(path)
          fixtureWritten.add(("planted_media", plantedMediaRows.size.toLong)): Unit
        }
      }
      ParquetRead.read(s, path).as[Multimodal.MediaRow]
    }
  }

  /** Order-insensitive sum for fixed-point money doubles: accumulate as
    * exact DECIMAL(38,scale) (associative — no float accumulation-order
    * dependence across partitions), emit double. Every money sum below
    * uses this so results are bit-stable across partitionings and
    * bit-match any engine doing the same exact math. Precision is 38
    * everywhere: at scale 12 a precision-18 cast leaves only 6 integer
    * digits, so any value ≥ 1e6 would overflow (ANSI error, or silent
    * null with ANSI off) in the one query using the narrow cast.
    */
  private def moneySum(c: org.apache.spark.sql.Column, scale: Int = 2) =
    sum(c.cast(s"decimal(38,$scale)")).cast("double")

  /** The events table's `ts` column has shipped in two physical forms
    * across harness testdata generations: parquet TIMESTAMP(NANOS)
    * (which Spark only reads as raw nanos LongType under the legacy
    * nanosAsLong conf) and plain TIMESTAMP(MICROS) without the
    * adjusted-to-UTC flag (which Spark reads as TIMESTAMP_NTZ). Both
    * normalize here to a micros TimestampType column — nanos truncate
    * (DuckDB's native nanos→micros read truncates identically), and the
    * NTZ→LTZ cast is value-preserving because every Graft session pins
    * `spark.sql.session.timeZone=UTC` ([[GraftSession.configure]]).
    * Downstream operators therefore never see the storage difference.
    *
    * SESSION-GLOBAL SIDE EFFECT, by contract: the conf below changes
    * parquet nanos-timestamp semantics for EVERY query on the session,
    * not just this read. Sessions built via [[GraftSession.configure]]
    * already carry it; the conditional set covers only the driver-owned
    * session that calls [[entry]]/[[queries]], which we don't build.
    * (An explicit conflicting `false` can't be told apart from the
    * default through RuntimeConfig, so this sets rather than asserts —
    * co-residents that need nanos-as-timestamp semantics on the same
    * session are unsupported and documented so in GraftSession.)
    */
  private def events(s: SparkSession, dir: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (s.conf.get(key, "false") != "true") s.conf.set(key, "true")
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => // TIMESTAMP_NTZ (or DATE): value-preserving under UTC
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** q89's replay feed (the events table published as start/end JSON
    * streams), materialized ONCE per (process, sf dir) and reused by
    * every invocation — writing two JSON copies of the events table
    * per bench REP was the bench's third-heaviest cost and pure
    * fixture I/O, not engine work. The feed is immutable once written
    * (per-run table/checkpoint dirs stay per-invocation); a shutdown
    * hook deletes it at JVM exit.
    */
  private val q89FeedCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** q91/q98/q100 all fit the SAME gate (even-doc_id half, en-vs-rest)
    * before diverging into score table / quality row / PR curve —
    * training is the expensive pass (corpus explode + bucket agg), so
    * fit once per (session, dir) and share. Keyed by session too:
    * the model holds localCheckpoint'd DataFrames bound to a
    * SparkContext, and tests run queries on their own short-lived
    * sessions — a cached frame from a stopped context must never leak
    * into a live one.
    */
  private val evenIdModelCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), TextAnalysis.HashedNgramModel]()

  /** Session-keyed model-cache lookup with eviction: entries whose
    * session's context has stopped are swept on every access, so the
    * many short-lived test sessions don't accumulate driver-side frames
    * bound to dead contexts for the JVM lifetime (the maps would
    * otherwise only ever grow).
    */
  private def sessionCached[V](
      cache: java.util.concurrent.ConcurrentHashMap[(SparkSession, String), V],
      s: SparkSession, dir: String)(fit: => V): V = {
    val it = cache.keySet.iterator()
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    cache.computeIfAbsent((s, dir), _ => fit)
  }

  private def evenIdModel(s: SparkSession, dir: String): TextAnalysis.HashedNgramModel =
    sessionCached(evenIdModelCache, s, dir) {
      val fitted = TextAnalysis.hashedNgramModel(
        t(s, dir, "documents").where(col("doc_id") % 2 === 0),
        "text", col("lang") === "en")
      // Pin the fitted tables as driver-side LITERAL frames (bounded:
      // ≤4096 weight rows + 1 prior row — the same O(numBuckets) class
      // as the centroid literals). The fit's own localCheckpoint blocks
      // die under Bench's per-query unpersist sweep; a cached model
      // must not hold references into them.
      import s.implicits._
      val w = fitted.weights.select(col("__b"), col("__w"))
        .as[(String, Double)].collect().toSeq
      val p = fitted.prior.select(col("__bias"), col("__w0"))
        .as[(Double, Double)].head()
      TextAnalysis.HashedNgramModel(
        w.toDF("__b", "__w"), Seq(p).toDF("__bias", "__w0"), fitted.hexChars)
    }

  /** q106/q107 refit the same rank-8 PCA; the model is pure driver-side
    * arrays (moments + Jacobi eigensolve output), so the fit — one full
    * corpus pass — is shared per (session, dir). Session-keyed for the
    * same lifecycle reason as [[evenIdModelCache]] (the fit runs Spark
    * jobs; cached results must not outlive their context's data view).
    */
  private val pcaModelCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), graft.ext.Pca.PcaModel]()
  private def pcaModel(s: SparkSession, dir: String): graft.ext.Pca.PcaModel =
    sessionCached(pcaModelCache, s, dir) {
      graft.ext.Pca.fitPca(t(s, dir, "embeddings"), "embedding", r = 8)
    }

  /** q113/q114 share one PQ fit (driver-side codebooks from a bounded
    * sample); session-keyed like the caches above.
    */
  private val pqModelCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), graft.ext.Pq.PqModel]()
  private def pqModel(s: SparkSession, dir: String): graft.ext.Pq.PqModel =
    sessionCached(pqModelCache, s, dir) {
      graft.ext.Pq.fit(t(s, dir, "embeddings"), "embedding",
        dim = 64, m = 8, k = 64)
    }

  /** q113's fully-pinned codebooks (engine-reproducible fit — the
    * oracle unrolls it); cached like the RNG-seeded shared model.
    */
  private val pqModelPinnedCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), graft.ext.Pq.PqModel]()
  private def pqModelPinned(s: SparkSession, dir: String): graft.ext.Pq.PqModel =
    sessionCached(pqModelPinnedCache, s, dir) {
      graft.ext.Pq.fitPinned(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, m = 8, k = 64)
    }
  private def q89Feed(s: SparkSession, dir: String): String =
    q89FeedCache.computeIfAbsent(dir, _ => {
      val ev = events(s, dir).localCheckpoint() // fans out to starts AND ends
      val starts = ev.select(
        col("event_id").cast("string").as("trip_id"),
        lit(null).cast("int").as("pickup_location_id"),
        lit(null).cast("int").as("dropoff_location_id"),
        lit(null).cast("int").as("vendor_id"),
        col("ts").as("pickup_datetime"),
        col("ts").as("estimated_dropoff_datetime"),
        col("value").as("estimated_fare_amount"))
      // q04 semantics: error (and null-typed) events never complete —
      // they stay Started and fall out of the Completed-only KPI
      val ends = ev
        .where(col("event_type").isNotNull && col("event_type") =!= "error")
        .select(
          col("event_id").cast("string").as("trip_id"),
          col("ts").as("dropoff_datetime"),
          lit(1).as("rate_code"),
          lit(1).as("passenger_count"),
          lit(1.0).as("trip_distance"),
          col("value").as("fare_amount"),
          lit(0.0).as("tip_amount"),
          lit(1).as("payment_type"),
          lit(1).as("trip_type"))
      val feed = java.nio.file.Files.createTempDirectory("graft-q89-feed").toString
      // hook registered BEFORE the writes: a failed write (disk full,
      // task failure) must not leak a partial feed dir — and a failed
      // computeIfAbsent caches nothing, so the next call retries into
      // a new dir with its own hook
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(feed)): Unit))
      EventReader.toJsonStream(starts, "trip_id", 4).select("value")
        .write.text(s"$feed/starts")
      EventReader.toJsonStream(ends, "trip_id", 4).select("value")
        .write.text(s"$feed/ends")
      feed
    })

  /** The q164/q175 curated survivor set: exact dedup keep-first →
    * quality ≥ 0.5 → Kneser–Ney perplexity ≤ survivor median. Sub-2-
    * token docs have no transitions, hence no perplexity: the inner
    * join drops them (a doc the LM can't score fails the LM gate) —
    * the oracle mirrors with the same JOIN. Returns
    * (doc_id, lang, text).
    */
  private def curatedSurvivors(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val kn = TextAnalysis.knBigramXent(docs, "doc_id", "text")
      .select(col("doc_id"), col("kn_ppl"))
    val gated = Dedup.exact(docs, Seq("text"), "doc_id")
      .select(col("doc_id"), col("lang"), col("text"),
        round(TextAnalysis.qualityScore(col("text")), 6).as("__q"))
      .where(col("__q") >= 0.5)
      .join(kn, Seq("doc_id"))
      .localCheckpoint() // feeds the median AND the final filter
    val med = broadcast(
      gated.agg(percentile(col("kn_ppl"), lit(0.5)).as("__med")))
    gated.crossJoin(med)
      .where(col("kn_ppl") <= col("__med"))
      .select(col("doc_id"), col("lang"), col("text"))
  }

  /** The q31/q45 LSH hyperplanes as DuckDB DOUBLE[] literals: the same
    * deterministic doubles [[SimilaritySearch.hyperplanes]] embeds in
    * the Spark plan, so the q45 oracle reproduces the sign-bucketing
    * exactly. Dim 64 is the testdata embedding width (all SFs);
    * queries derive it from data, the SQL twin pins it.
    */
  private lazy val annPlaneLits: Seq[String] =
    SimilaritySearch.hyperplanes(numPlanes = 4, dim = 64, seed = 42L)
      .map(_.mkString("[", ", ", "]::DOUBLE[]"))

  /** The first 20 planes of the SAME deterministic family, as a VALUES
    * table for q55's corpus-size-derived plane count: the family is
    * prefix-closed (entry (p, d) depends only on (p, d, seed)), so a
    * 20-plane literal table covers every count `planesForCorpus` can
    * derive, and the oracle picks its prefix at query time.
    */
  private lazy val annPlane20Values: String =
    SimilaritySearch.hyperplanes(numPlanes = 20, dim = 64, seed = 42L)
      .zipWithIndex
      .map { case (pl, i) => s"($i, ${pl.mkString("[", ", ", "]::DOUBLE[]")})" }
      .mkString(", ")

  /** The q80 random-projection planes as DuckDB literals (same
    * deterministic doubles, 8 planes × dim 64).
    */
  private lazy val rpPlaneValues: String =
    SimilaritySearch.hyperplanes(numPlanes = 8, dim = 64, seed = 42L)
      .zipWithIndex
      .map { case (p, i) => s"($i, ${p.mkString("[", ", ", "]::DOUBLE[]")})" }
      .mkString(", ")

  /** Driver-side fetch of one embedding as a literal query vector
    * (shared by the ANN queries; a missing id is one clear error).
    */
  private def queryVector(e: DataFrame, id: Long): Seq[Double] = {
    val rows = e.where(col("vec_id") === id).select(col("embedding")).take(1)
    require(rows.nonEmpty, s"embeddings fixture has no vec_id=$id")
    rows.head.getSeq[Float](0).map(_.toDouble)
  }

  /** The events table reshaped as a trips-like frame so the KPI
    * operators (A1-A6, F1/F2) run over harness data: `error` events play
    * the incomplete (`Started`) role the null-quad trips play in the
    * reference feed.
    */
  private def eventsAsTrips(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(
      to_date(col("ts")).as("date"),
      // null-safe: a NULL event_type must NOT count as Completed, or the
      // engine would diverge from the oracle's `event_type <> 'error'`
      // (which excludes NULLs) on any fixture with missing types
      when(col("event_type").isNull || col("event_type") === "error",
        graft.schema.TripSchemas.StatusStarted)
        .otherwise(graft.schema.TripSchemas.StatusCompleted).as("status"),
      col("value").as("fare_amount"))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The path
    * is pinned by the driver contract (entry takes no dir parameter). */
  def entry(spark: SparkSession): DataFrame =
    KpiAggregation.dailyKpis(eventsAsTrips(spark, "/root/testdata/sf0.001"))
      .orderBy("date")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1/S9/F-family/P12: scan + pushed filter + projection + computed column
    "q01_scan_filter_project" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1998-01-01") && col("l_returnflag") === "A")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // A1-A5: the five fare KPIs in ONE pass (vs the reference's 5 jobs)
    "q02_kpi_global" -> ((s, dir) => {
      val ks = KpiAggregation.kpiColumns(col("l_extendedprice"))
      t(s, dir, "lineitem").agg(ks.head, ks.tail: _*)
    }),

    // A6: grouped aggregation, multiple aggregates, one shuffle
    "q03_agg_grouped" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // quantity is integral-valued: double sums are exact (< 2^53)
          sum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_price"),
          (moneySum(col("l_discount")) / count(col("l_discount"))).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // A6/F2/P7: per-date KPIs over the trips-shaped events table
    "q04_daily_kpis" -> ((s, dir) =>
      KpiAggregation.dailyKpis(eventsAsTrips(s, dir)).orderBy(col("date"))),

    // F1/F2/A1-A5: the reference's exact daily job (partition-pruned day)
    "q05_kpi_single_date" -> ((s, dir) =>
      KpiAggregation.kpisForDate(eventsAsTrips(s, dir), "2024-01-15")),

    // J1: inner equi-join + grouped rollup
    "q06_join_inner" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),

    // J3: anti join (the reference's warned-and-dropped set)
    "q07_join_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").where(col("o_orderstatus") === "P")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // F3-shape: semi join (existence gate)
    "q08_join_semi" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").where(col("l_quantity") >= 45)
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // J1 at depth: 4-way join, small dims broadcast
    "q09_join_multi" -> ((s, dir) => {
      val r = broadcast(t(s, dir, "region"))
      val n = broadcast(t(s, dir, "nation"))
      val c = broadcast(t(s, dir, "customer"))
      val o = t(s, dir, "orders")
      r.join(n, r("r_regionkey") === n("n_regionkey"))
        .join(c, n("n_nationkey") === c("c_nationkey"))
        .join(o, c("c_custkey") === o("o_custkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("revenue"))
        .orderBy(col("r_name"))
    }),

    // §2.6: top-k (TakeOrderedAndProject, no global sort)
    "q10_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)),

    // Window ranking (engine extension; zero-custom-code in Spark)
    "q11_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rank"))
        .orderBy(col("o_custkey"), col("rank"))
    }),

    // Distinct aggregates
    "q12_count_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy(col("l_returnflag"))),

    // A7: describe/summary analog, single-pass
    "q13_stats_summary" -> ((s, dir) =>
      KpiAggregation.numericSummary(t(s, dir, "orders"),
        Seq("o_totalprice", "o_custkey"),
        fixedPointScale = Some(2)).orderBy(col("col_name"))),

    // Set ops
    "q14_set_intersect" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.where(col("o_orderstatus") === "O").select(col("o_custkey"))
        .intersect(o.where(col("o_orderstatus") === "F").select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    }),

    // JSON column ops over events.props (SURVEY.md §7.2 step 4)
    "q15_json_extract" -> ((s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(sum(get_json_object(col("props"), "$.k").cast("int")).as("sum_k"))
        .orderBy(col("event_type"))),

    // P8: previous-day computation (anchored to the data's max ts)
    "q16_prev_day" -> ((s, dir) =>
      events(s, dir).agg(max(col("ts")).as("m"))
        .select(KpiAggregation.previousDay(col("m")).as("prev_day"))),

    // Exact dedup, row-keeping form (null-safe fingerprint)
    "q17_dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), Seq("text"), "doc_id")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // Exact dedup, group view (multi-column key)
    "q18_dedup_groups" -> ((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), Seq("lang", "source"), "doc_id")
        .orderBy(col("lang"), col("source"))),

    // Document fingerprinting (md5 of normalized text)
    "q19_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))),

    // Token counting: whitespace + BPE-ish
    "q20_token_counts" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"))
        .orderBy(col("doc_id"))),

    // Composite quality score (pure column algebra)
    "q21_quality_score" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))),

    // Language ID (stopword-hit heuristic), rolled up
    "q22_lang_id" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(LangId.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang_pred"))),

    // Brute-force cosine top-k against one query vector
    "q23_cosine_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = queryVector(e, 0L)
      SimilaritySearch.topKByCosine(e, "vec_id", "embedding", q, 10, excludeId = Some(0L))
        .select(col("vec_id"), col("cosine_sim"))
    }),

    // Embedding near-dup pairs, exact (oracle-checkable form)
    "q24_embedding_neardup" -> ((s, dir) =>
      SimilaritySearch.bruteForceNearDupPairs(
          t(s, dir, "embeddings"), "vec_id", "embedding", minCosine = 0.4)
        .orderBy(col("id_a"), col("id_b"))),

    // Batch k-NN via the bounded-heap top-k aggregate
    "q25_topk_join" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 5)
      SimilaritySearch.topKJoin(e, "vec_id", "embedding", q, "vec_id", "embedding", 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Multimodal envelope metadata (no-decode fast path)
    "q26_envelope_meta" -> ((s, dir) =>
      Multimodal.envelopeMeta(
          Multimodal.fromText(t(s, dir, "documents"), "doc_id", "text"))
        .select(col("media_id"), col("kind"), col("n_bytes"), col("content_md5"))
        .orderBy(col("media_id"))),

    // Exact unigram Jaccard near-dup pairs (inverted-index join)
    "q27_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 1, minJaccard = 0.8, maxDocFreq = 0L)
        .orderBy(col("id_a"), col("id_b"))),

    // MinHash LSH near-dup pairs (banded candidates + signature verify;
    // banding auto-derived from the threshold: 16 bands × 4 at j=0.7).
    // Fully oracled since round 16 via SigMode.Md5: the signature lanes
    // are md5-based Carter–Wegman hashes DuckDB computes natively, so
    // the oracle re-derives signatures, band collisions, AND the
    // estimator — the LSH machine end-to-end on the hash path. The
    // xxhash64 throughput lanes stay the default for every APPLY path
    // (q39/q48/q92); the two modes share every line but the lane hash.
    // No ORDER BY, deliberately: the output is a pair SET and the
    // driver sorts rows before hashing — a global sort of every
    // near-dup pair was half this query's runtime (13 s of 27 at sf0.1)
    // and at 100 TB would be the single largest shuffle in the job.
    // The dedup-apply path never sorts pairs either.
    "q28_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
          minJaccard = 0.7, numHashes = 64, shingleSize = 1,
          sigMode = Dedup.SigMode.Md5)),

    // SimHash near-dup pairs (16-bit chunk pigeonhole blocking). Fully
    // oracled since round 16 via SigMode.Md5 (60 md5 bits per token):
    // DuckDB re-derives the per-bit majority votes, the chunk buckets,
    // and the exact Hamming verify — the whole pigeonhole machine on
    // the hash path. Operational paths keep the 64-bit xxhash64 lanes.
    "q29_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = 3, sigMode = Dedup.SigMode.Md5)
        .orderBy(col("id_a"), col("id_b"))),

    // Duplicate clustering: distributed connected components
    "q30_components" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 1, minJaccard = 0.8, maxDocFreq = 0L)
      Dedup.connectedComponents(
          docs.select(col("doc_id").as("id")), pairs)
        .orderBy(col("id"))
    }),

    // LSH ANN top-k via the recommended default entry point (multi-probe
    // — single-probe at this corpus size measures recall 0.0 and is an
    // explicit opt-in, annTopKSingleProbe)
    // Multi-probe LSH ANN top-10 — fully oracled: the 4 hyperplanes are
    // literal doubles (annPlaneLits), so DuckDB reproduces the sign
    // bucketing, the Hamming-1 probe set, and the cosine ordering
    // exactly (the q45 machinery, emitting the answer set itself).
    "q31_ann_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = queryVector(e, 0L)
      require(q.size == 64,
        s"q31's oracle embeds dim-64 hyperplane literals but the fixture " +
          s"embedding width is ${q.size}; regenerate annPlaneLits to match")
      SimilaritySearch.annTopK(e, "vec_id", "embedding", q, 10,
          numPlanes = 4, excludeId = Some(0L))
        .select(col("vec_id"), col("cosine_sim"))
    }),

    // TF-IDF term weighting (explode + two aggs + broadcast-able df join)
    "q33_tfidf" -> ((s, dir) =>
      TextAnalysis.tfIdf(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("term"))),

    // Sessionization: 30-min-gap sessions per user over the event stream
    // (lag + cumulative-sum window — the batch form of session windows)
    "q35_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      events(s, dir)
        .withColumn("__prev", lag(col("ts"), 1).over(byUser))
        .withColumn("__new_session",
          when(col("__prev").isNull ||
            col("ts").cast("long") - col("__prev").cast("long") > 1800, 1)
            .otherwise(0))
        .withColumn("session_seq",
          sum(col("__new_session")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
        .groupBy(col("user_id"), col("session_seq"))
        // events.value sums as decimal(38,12) EVERYWHERE (q04/q05/q35):
        // one precision+scale per column, so no consumer silently rounds
        // (or overflows) if the fixture ever carries wider values
        .agg(count(lit(1)).as("n_events"), moneySum(col("value"), 12).as("session_value"))
        .orderBy(col("user_id"), col("session_seq"))
    }),

    // Rollup: KPIs at (returnflag, linestatus), (returnflag), and total
    "q36_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // As-of join: latest prior click per purchase (union + sort-window,
    // one shuffle — no range explosion)
    "q41_asof_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.AsofJoin
        .asofJoin(purchases, clicks, "user_id", "ts", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("asof_value"))
        .orderBy(col("event_id"))
    }),

    // Non-equi join: equi key + range predicate
    "q42_nonequi_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey") &&
          li("l_shipdate") > o("o_orderdate"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    }),

    // HLL sketch: approx distinct per group. Bound-carrying row: the
    // engine-specific estimate is folded into a deterministic
    // `within_bound` check against the exact distinct computed in the
    // SAME aggregation (HLL++ is hash-based, no RNG — the estimate is a
    // fixed function of the data, so the 3×rsd bound is a stable
    // artifact claim, not a flaky assertion). The oracle reproduces the
    // whole row closed-form; tightness is additionally pinned in
    // SketchSpec.
    "q43_approx_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey")).as("__approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("__approx") - col("exact_parts")).cast("double") <=
            col("exact_parts").cast("double") * lit(0.15)).as("within_bound"))
        .orderBy(col("l_returnflag"))),

    // Exact interpolated percentiles per group
    "q40_percentiles" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          percentile(col("o_totalprice"), lit(0.5)).as("p50"),
          percentile(col("o_totalprice"), lit(0.9)).as("p90"))
        .orderBy(col("o_orderpriority"))),

    // Approximate percentiles (Greenwald-Khanna summaries, merge-able
    // partial sketches — the percentile form that survives 100 TB,
    // where q40's exact `percentile` buffers every value per group).
    // Bound-carrying row: the sketch value itself depends on merge
    // order, so the hashed columns are the EXACT interpolated
    // percentiles (q40's oracled spelling) plus deterministic
    // `*_within` checks that the GK answer lands inside the exact
    // [q−0.002, q+0.002] rank window — 20× looser than the sketch's
    // 1/accuracy guarantee, so the boolean is stable while still
    // carrying the accuracy claim onto the artifact. Tightness is
    // additionally pinned in SketchSpec.
    "q62_approx_percentiles" -> ((s, dir) => {
      // Scale-parameterized rank window (r19): GK at accuracy 10000
      // returns an ELEMENT, while the exact percentile INTERPOLATES,
      // so the bound must cover at least one inter-element gap — a
      // ±0.002 quantile window is < 1 rank at a 300-row group
      // (sf0.001) but ≈ 60 ranks at sf0.1. The window is keyed off
      // the group size: ±0.002 for groups ≥ 1000 rows, ±0.02 below —
      // both probed from the SAME single exact buffer — so the row is
      // green at sf0.001/0.01/0.1 alike (three-way probe, round 19).
      val df = t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("__n"),
          // ONE exact buffer and ONE GK summary serve all ten quantile
          // reads (array forms) — separate percentile aggregates
          // would buffer the group once per read
          percentile(col("o_totalprice"),
            array(lit(0.48), lit(0.498), lit(0.5), lit(0.502), lit(0.52),
              lit(0.88), lit(0.898), lit(0.9), lit(0.902), lit(0.92)))
            .as("__ex"),
          percentile_approx(col("o_totalprice"),
            array(lit(0.5), lit(0.9)), lit(10000)).as("__ap"))
      def within(ap: Int, lo: Int, hi: Int) =
        element_at(col("__ap"), ap) >= element_at(col("__ex"), lo) &&
          element_at(col("__ap"), ap) <= element_at(col("__ex"), hi)
      val narrow = col("__n") >= 1000L
      df.select(col("o_orderpriority"),
          element_at(col("__ex"), 3).as("p50"),
          element_at(col("__ex"), 8).as("p90"),
          when(narrow, within(1, 2, 4)).otherwise(within(1, 1, 5))
            .as("p50_within"),
          when(narrow, within(2, 7, 9)).otherwise(within(2, 6, 10))
            .as("p90_within"))
        .orderBy(col("o_orderpriority"))
    }),

    // Symmetric int8 quantization of the embedding corpus — exact
    // integer/double arithmetic, so the quantized bytes and scales are
    // hash-verified against DuckDB end-to-end
    // qvec rendered as a comma-joined string: the driver's pandas-based
    // comparator can't sort array cells, so every output column is scalar
    "q63_quantize_int8" -> ((s, dir) =>
      SimilaritySearch.quantizeInt8(t(s, dir, "embeddings"), "embedding")
        .select(col("vec_id"), col("qscale"),
          array_join(col("qvec").cast("array<string>"), ",").as("qvec"))
        .orderBy(col("vec_id"))),

    // Top-k by cosine over the quantized vectors (scales cancel — pure
    // int dot through the codegen dot_f64 loop); oracled: DuckDB
    // re-derives the same quantization and scores identically
    "q64_quantized_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilaritySearch.quantizedTopKByCosine(
        e, "vec_id", "embedding", queryVector(e, 0L), 10, excludeId = Some(0L))
    }),

    // Deterministic content-hash sampling (reproducible, layout-stable)
    "q37_content_sample" -> ((s, dir) =>
      Sampling.contentSample(t(s, dir, "documents"), "text", "20")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // Deterministic train/val/test split by content hash
    "q38_content_split" -> ((s, dir) =>
      Sampling.contentSplit(t(s, dir, "documents"), "text")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("split"))),

    // IVF ANN with a FITTED coarse quantizer, fully oracled since
    // round 16: the centroids come from learnCentroidsDeterministic —
    // md5-keyed sample, first-k init, 9dp-pinned assignments,
    // 6dp-pinned means — so DuckDB UNROLLS the five Lloyd iterations
    // (the q109 pagerank treatment applied to model FITTING) and then
    // replays the probe: fitted-cell assignment, 4-probe selection,
    // in-cell cosine top-10. Training AND retrieval are both on the
    // hash path; the RNG-seeded learnCentroids stays the default for
    // every other consumer (its recall rows q46/q56/etc. bound it).
    "q34_ivf_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = queryVector(e, 0L)
      val centroids = SimilaritySearch.learnCentroidsDeterministic(
        e, "vec_id", "embedding", k = 16)
      SimilaritySearch.ivfTopK(e, "vec_id", "embedding", q, 10, centroids,
          nProbe = 4, excludeId = Some(0L))
        .select(col("vec_id"), col("cosine_sim"))
    }),

    // The composed corpus-cleaning pipeline (quality gate → lang filter
    // → exact dedup → MinHash near-dedup → deterministic split). Fully
    // oracled since round 18: on the VERIFY lane the MinHash stage
    // runs SigMode.Md5 (the q28/q48 convention), so DuckDB replays ALL
    // five stages — q44's gate/exact-dedup/split SQL composed with the
    // trigram LSH machine (8 bands × 8 rows at j≥0.9) and the reach
    // connected components. The BENCH lane keeps xxhash64 (laneSigMode)
    // so the benchmark times the production hash family. q44 stays the
    // exact-Jaccard twin.
    "q39_clean_corpus" -> ((s, dir) =>
      graft.ext.TextPipeline.cleanCorpus(
          t(s, dir, "documents"), "doc_id", "text",
          graft.ext.TextPipeline.Config(minQuality = 0.2,
            langs = Seq("en"), nearDupJaccard = 0.9,
            numHashes = 64, shingleSize = 3,
            sigMode = laneSigMode))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))),

    // The composed pipeline's oracle-checkable twin: same five stages
    // with exact unigram Jaccard dedup in place of MinHash, so the
    // whole composition is verified end-to-end against DuckDB (q39
    // remains its scale twin)
    "q44_clean_corpus_exact" -> ((s, dir) =>
      graft.ext.TextPipeline.cleanCorpusExact(
          t(s, dir, "documents"), "doc_id", "text",
          graft.ext.TextPipeline.Config(minQuality = 0.2,
            langs = Seq("en"), nearDupJaccard = 0.9, shingleSize = 1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))),

    // Multimodal decode plumbing. Text-derived payloads exercise the
    // stub fallback; fourteen planted REAL-format payloads (16-bit PCM
    // WAV, 24-bpp BMP, binary PGM/PPM, PNG incl. palette and 16-bit,
    // baseline JPEG, GIF — negative ids) run the real decoders, so
    // RMS/clip/pixel-mean features are driver-visible. f0..f3 carry
    // the feature head as exact micro-unit longs: [rms, peak, clip,
    // zcr] for audio, [r, g, b, luma] for images, the deterministic
    // fnv1a fake for stub rows. FULLY ORACLED (round 19): DuckDB
    // replays fnv1a-64 + the stub mix in exact mod-2^64 HUGEINT
    // arithmetic over the same UTF-8 payload bytes, re-decodes the WAV
    // PCM samples from the persisted planted payloads (int16-LE byte
    // math in SQL), and re-derives every lossless image mean from its
    // closed-form integer sums — every stat is integer-derived with
    // only correctly-rounded double ops (divide/sqrt) on top, so the
    // float32 cast and micro-unit quantization land bit-identically.
    // The three LOSSY JPEG rows carry NULL feature columns plus a
    // tolerance boolean (|mean − closed-form gradient| ≤ 0.02 per
    // channel, the JpegSpec bound) — expected TRUE, bounded by the
    // ImageIO cross-check in JpegSpec.
    "q32_multimodal_features" -> ((s, dir) => {
      import s.implicits._
      val media = Multimodal.fromText(t(s, dir, "documents"), "doc_id", "text")
        .as[Multimodal.MediaRow]
      val feats = Multimodal.decodeFeatures(media.union(plantedMedia(s)))
      val isJpeg = col("media_id").isin(-9L, -10L, -11L)
      def fq(i: Int) = when(isJpeg, lit(null).cast("long"))
        .otherwise(floor(col("feature")(i).cast("double") * lit(1e6)
          + lit(0.5)).cast("long")).as(s"f${i}u")
      // closed-form gradient channel means at 24×16, blue=32 (exact
      // integer ramp sums — the same formula JpegSpec's gradientMeans
      // pins against the JDK's independent ImageIO decode)
      def rampMean(n: Int): Double =
        (0 until n).map(x => x * 255 / (n - 1)).sum.toDouble / (n * 255.0)
      val (jr, jg, jb) = (rampMean(24), rampMean(16), 32.0 / 255.0)
      def expc(c444: Double) = // gray replicates the red ramp to all channels
        when(col("media_id") === -9L, lit(jr)).otherwise(lit(c444))
      val jTol = lit(0.02)
      val tolOk = when(isJpeg,
          abs(col("feature")(0) - expc(jr)) <= jTol &&
          abs(col("feature")(1) - expc(jg)) <= jTol &&
          abs(col("feature")(2) - expc(jb)) <= jTol &&
          abs(col("feature")(3)
            - expc(0.299 * jr + 0.587 * jg + 0.114 * jb)) <= jTol)
        .otherwise( // envelope invariant, expected TRUE by construction
          col("feature")(0).between(-1.0, 1.0) &&
          col("feature")(1).between(-1.0, 1.0) &&
          col("feature")(2).between(-1.0, 1.0) &&
          col("feature")(3).between(-1.0, 1.0))
      feats.select(col("media_id"), col("kind"), col("n_bytes"),
          col("width"), col("height"), col("duration_ms"),
          fq(0), fq(1), fq(2), fq(3), tolOk.as("tol_ok"))
        .orderBy(col("media_id"))
    }),

    // ANN recall@10: single-probe and multi-probe LSH answer sets
    // against the exact brute-force top-10, as hash-checkable numbers —
    // the hyperplanes are literal doubles, so the DuckDB oracle
    // reproduces the bucketing exactly (sign of a dot product; only
    // summation order differs and margins are O(1))
    "q45_ann_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = queryVector(e, 0L)
      // The DuckDB twin pins dim-64 hyperplane literals (annPlaneLits);
      // a fixture with a different embedding width would silently bucket
      // against wrong-length planes there. Fail loudly here instead.
      require(q.size == 64,
        s"q45's oracle embeds dim=64 hyperplane literals but the fixture " +
          s"embedding width is ${q.size}; regenerate annPlaneLits to match")
      val exact = SimilaritySearch.topKByCosine(e, "vec_id", "embedding", q, 10,
        excludeId = Some(0L)).select("vec_id")
      val ann = SimilaritySearch.annTopKSingleProbe(e, "vec_id", "embedding", q, 10,
        numPlanes = 4, excludeId = Some(0L)).select("vec_id")
      // the recommended default path (annTopK = multi-probe)
      val annMp = SimilaritySearch.annTopK(e, "vec_id", "embedding", q, 10,
        numPlanes = 4, excludeId = Some(0L)).select("vec_id")
      ann.join(exact, Seq("vec_id"))
        .agg((count(lit(1)).cast("double") / lit(10.0)).as("recall_at_10"))
        .crossJoin(
          annMp.join(exact, Seq("vec_id"))
            .agg((count(lit(1)).cast("double") / lit(10.0)).as("recall_mp_at_10")))
    }),

    // IVF recall@10 with FIXED probe centroids (the embeddings of
    // vec_id 0..15): oracle-verifies the probe mechanics — argmin cell
    // assignment, nProbe cell choice, in-cell top-k — while the
    // sampled-kmeans learning path stays q34 (rows-only) + KmeansSpec
    "q46_ivf_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = queryVector(e, 0L)
      val cents = e.where(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
      val ivf = SimilaritySearch.ivfTopK(e, "vec_id", "embedding", q, 10, cents,
        nProbe = 4, excludeId = Some(0L)).select("vec_id")
      val exact = SimilaritySearch.topKByCosine(e, "vec_id", "embedding", q, 10,
        excludeId = Some(0L)).select("vec_id")
      ivf.join(exact, Seq("vec_id"))
        .agg((count(lit(1)).cast("double") / lit(10.0)).as("recall_at_10"))
    }),

    // MinHash estimator quality against the exact pair set at the SAME
    // threshold. Bound-carrying row: the exact pair count is closed-form
    // (the oracle recomputes it with q27's unigram-Jaccard spelling at
    // j≥0.7), while the xxhash64-dependent LSH overlap arrives as
    // deterministic floor booleans — recall and precision both ≥ 0.85,
    // 5 points under the measured 0.90 so the claim is stable across
    // fixture regenerations. Tighter floors + measured values stay in
    // EstimatorQualitySpec / BENCH_NOTES.md.
    "q47_minhash_vs_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          n = 1, minJaccard = 0.7, maxDocFreq = 0L)
        .select(col("id_a"), col("id_b"), lit(1L).as("__e"))
      val lsh = Dedup.minhashPairs(docs, "doc_id", "text",
          minJaccard = 0.7, numHashes = 64, shingleSize = 1)
        .select(col("id_a"), col("id_b"), lit(1L).as("__l"))
      exact.join(lsh, Seq("id_a", "id_b"), "full_outer").agg(
          sum(coalesce(col("__e"), lit(0L))).as("n_exact"),
          sum(coalesce(col("__l"), lit(0L))).as("__n_lsh"),
          sum(when(col("__e").isNotNull && col("__l").isNotNull, 1L)
            .otherwise(0L)).as("__n_common"))
        .select(col("n_exact"),
          (col("__n_common").cast("double") >=
            lit(0.85) * col("n_exact").cast("double")).as("recall_floor_met"),
          (col("__n_common").cast("double") >=
            lit(0.85) * col("__n_lsh").cast("double")).as("precision_floor_met"))
    }),

    // q28 on a realistic-profile corpus (SyntheticCorpus: 10k-word
    // Zipf vocabulary, ~8% planted near-dups) of the same size as the
    // sf's documents table: the degenerate-fixture twin whose output is
    // ~75% of all pairs makes the headline number mostly "emit 5M true
    // pairs"; this row shows the SAME plan at a real corpus's pair
    // density. Fully oracled since round 17: the corpus persists to an
    // oracle-visible parquet fixture and the signature lanes run
    // SigMode.Md5 (the q28 verify-lane convention), so DuckDB replays
    // the ENTIRE LSH machine on the identical realistic input.
    "q48_minhash_realistic" -> ((s, dir) =>
      Dedup.minhashPairs(
        persistedRealistic(s, dir, "realistic_corpus.parquet"),
        "doc_id", "text", minJaccard = 0.7, numHashes = 64, shingleSize = 1,
        sigMode = Dedup.SigMode.Md5)),

    // q39's five-stage pipeline on the same realistic-profile corpus
    // (trigram shingles, j≥0.9 — the planted 1%-mutation dups straddle
    // the exact-dedup and near-dedup stages by design). Fully oracled
    // since round 18 via the q48 fixture convention (the corpus
    // persists to an oracle-visible parquet path) + verify-lane
    // SigMode.Md5, so DuckDB replays the whole pipeline on the
    // identical realistic input — q39's oracle SQL over the fixture
    // glob. Bench lane keeps xxhash64 (laneSigMode).
    "q49_clean_corpus_realistic" -> ((s, dir) =>
      graft.ext.TextPipeline.cleanCorpus(
          persistedRealistic(s, dir, "realistic_corpus.parquet"),
          "doc_id", "text",
          graft.ext.TextPipeline.Config(minQuality = 0.2,
            langs = Seq("en"), nearDupJaccard = 0.9,
            numHashes = 64, shingleSize = 3,
            sigMode = laneSigMode))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))),

    // PII scrub: the documents text salted with deterministic synthetic
    // PII (email/URL/phone/IP/SSN shapes derived from doc_id — the
    // fixture itself has none), then redacted. The oracle builds the
    // SAME salted text and runs the SAME RE2-safe patterns, so the
    // whole redaction chain is hash-verified end-to-end.
    "q50_pii_redact" -> ((s, dir) => {
      val salted = concat(
        col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@mail.example.com via https://ex.example/u/"),
        col("doc_id").cast("string"),
        lit(" or +1555"), lpad(col("doc_id").cast("string"), 7, "0"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".17 id 123-45-6789"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.redactPii(salted).as("redacted"))
        .orderBy(col("doc_id"))
    }),

    // Corpus vocabulary heavy hitters: top 50 normalized tokens by
    // frequency, (cnt desc, token asc) tie-broken so the k-boundary is
    // deterministic in both engines
    "q51_token_topk" -> ((s, dir) =>
      TextAnalysis.topTokens(t(s, dir, "documents"), "text", 50)),

    // Balanced per-group sampling: 3 docs per source, chosen by the
    // engine-independent md5 coordinate — the oracle selects the
    // IDENTICAL rows (rand()-based sampleBy could never hash-match)
    "q52_group_sample" -> ((s, dir) =>
      Sampling.sampleByGroup(t(s, dir, "documents"), "source", "doc_id", 3)
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id"))),

    // Language-ID confusion matrix against the fixture's ground-truth
    // lang label: measured classifier quality as an oracled query (the
    // oracle replicates the stopword argmax, q22 form, and DuckDB
    // cross-checks every cell count)
    "q53_langid_confusion" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), graft.ext.LangId.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")),

    // q53's confusion matrix on a fixture whose labels MEAN something:
    // the lang-weighted realistic corpus salts each source doc's
    // stopword mass from the HELD-OUT 30-word lexicon of its label's
    // language (the classifier's 10-word list is a strict subset —
    // SyntheticCorpus.lexicon), so a working classifier shows a
    // dominant diagonal with genuine es/fr confusion mass here where a
    // broken one cannot (the driver fixture's lang label is
    // text-independent — q53 verifies only the matrix mechanics).
    // Rows-only (generated input); diagonal dominance (per-lang recall
    // ≥ 0.9) AND the off-diagonal es/fr structure are asserted in
    // SyntheticCorpusSpec. Fully oracled since round 17: the corpus
    // persists to an oracle-visible parquet fixture, so DuckDB replays
    // the stopword argmax (q53's machine) on the identical rows.
    "q54_langid_confusion_realistic" -> ((s, dir) =>
      persistedRealistic(s, dir, "realistic_langs.parquet",
          langWeights = Seq("en" -> 40, "es" -> 20, "de" -> 15,
            "fr" -> 15, "zh" -> 10))
        .select(col("lang"), graft.ext.LangId.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")),

    // The RECOMMENDED production ANN path: annTopKAuto derives the plane
    // count from the corpus size (planesForCorpus — one metadata count)
    // and multi-probes; measured recall@10 1.0/1.0/0.8 at
    // sf0.001/0.01/0.1 vs the fixed-4-plane default q31's 0.7/0.6/0.6.
    // Fully oracled since round 16: the plane family is prefix-closed
    // and deterministic, so the oracle embeds its first 20 planes as
    // literals, re-derives the corpus-sized plane COUNT in SQL (the
    // planesForCorpus loop as a min-over-candidates), and replays sign
    // buckets + hamming-1 multi-probe + in-bucket cosine top-10 — the
    // zero-knob derivation itself is on the hash path. Recall floors
    // stay in EstimatorQualitySpec (sf0.001 AND sf0.1).
    "q55_ann_topk_auto" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = queryVector(e, 0L)
      // the oracle embeds dim-64 plane literals — fail loudly on a
      // regenerated fixture of another width (the q80 convention)
      require(q.size == 64,
        "q55's oracle embeds dim-64 plane literals; fixture width differs")
      SimilaritySearch.annTopKAuto(e, "vec_id", "embedding", q, 10,
          excludeId = Some(0L))
        .select(col("vec_id"), col("cosine_sim"))
    }),

    // q45's recall measurement for the auto path: recall@10 of
    // annTopKAuto's answer set against the exact brute-force top-10 —
    // the driver-visible claim for the recommended configuration,
    // carried as a bound: the auto-tuner must clear a 0.7 recall floor
    // (measured 1.0 on the fixture; deterministic — the tuner and the
    // planes are seeded). n_exact is closed-form, so the row is fully
    // oracled; raw recall magnitudes stay on q45 (oracled, the same
    // measurement mechanics with fixed planes) + the spec floors.
    "q56_ann_recall_auto" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = queryVector(e, 0L)
      val exact = SimilaritySearch.topKByCosine(e, "vec_id", "embedding", q, 10,
        excludeId = Some(0L)).select("vec_id")
      val auto = SimilaritySearch.annTopKAuto(e, "vec_id", "embedding", q, 10,
        excludeId = Some(0L)).select("vec_id")
      auto.join(exact, Seq("vec_id"))
        .agg(count(lit(1)).as("__hits"))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .select(col("n_exact"),
          (col("__hits").cast("double") >=
            lit(0.7) * col("n_exact").cast("double")).as("recall_floor_met"))
    }),

    // Repetition / boilerplate quality signals (Gopher-style
    // structural filters): duplicate-line fraction, duplicate-line
    // character fraction, duplicate-word fraction, top-bigram
    // character coverage — every metric plain SQL over the same
    // splits, oracled end-to-end
    "q57_repetition_scores" -> ((s, dir) =>
      TextAnalysis.repetitionScores(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Eval-set contamination report: training docs sharing any word
    // 5-gram with the "benchmark" (every 50th doc plays the eval set —
    // which therefore flags itself: its grams are in both sides, the
    // expected fixture self-hit). The benchmark gram set broadcasts;
    // the corpus side is scan + explode, no text shuffle.
    "q58_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextPipeline.contaminatedIds(docs, "doc_id", "text",
          docs.where(col("doc_id") % 50 === 0), "text", n = 5)
        .orderBy(col("doc_id"))
    }),

    // Unigram cross-entropy vs the corpus's own model — the
    // perplexity-proxy quality signal, fully oracled (ln parity with
    // DuckDB already proven by q33's idf)
    "q59_unigram_xent" -> ((s, dir) =>
      TextAnalysis.unigramCrossEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Per-source dataset card: docs / tokens / mean quality / English
    // share — the shard summary a training corpus publishes
    "q60_source_stats" -> ((s, dir) =>
      TextAnalysis.corpusStats(t(s, dir, "documents"), "source", "text")
        .orderBy(col("source"))),

    // Corpus mixing: per-source token budgets drawn deterministically
    // in md5-coordinate order (src2's budget never bites = whole
    // source; src3's budget of 1 keeps exactly its first doc —
    // the always-keep-first overflow rule; unlisted sources drop)
    "q61_token_budget_mix" -> ((s, dir) =>
      Sampling.sampleByTokenBudget(
          t(s, dir, "documents").withColumn("n_tokens",
            TextAnalysis.tokenCount(col("text")).cast("long")),
          "source", "doc_id", "n_tokens",
          Map("src0" -> 500L, "src1" -> 800L, "src2" -> 100000L, "src3" -> 1L))
        .select(col("doc_id"), col("source"), col("n_tokens"))
        .orderBy(col("doc_id"))),

    // Sequence packing: every doc's (pack, offset, span) under
    // 512-token concat-and-chunk in md5 order — distributed prefix sum
    // (shard totals + per-shard window), no global sort
    "q65_pack_sequences" -> ((s, dir) =>
      Sampling.packSequences(
          t(s, dir, "documents").withColumn("n_tokens",
            TextAnalysis.tokenCount(col("text")).cast("long")),
          "doc_id", "n_tokens", 512L)
        .select(col("doc_id"), col("n_tokens"), col("pack_id"),
          col("pack_offset"), col("n_packs"))
        .orderBy(col("doc_id"))),

    // Cross-document duplicate 3-gram fraction — corpus-level
    // repetition (within-doc repeats don't count; q57 covers those)
    "q66_cross_dup_ngrams" -> ((s, dir) =>
      TextAnalysis.crossDocDupFraction(t(s, dir, "documents"), "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))),

    // Overlapping token-window chunking (30-token windows, 5 shared):
    // the RAG/context-window prep step, one codegen projection
    "q67_chunk_tokens" -> ((s, dir) =>
      TextAnalysis.chunkByTokens(t(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 30, overlapTokens = 5)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // Per-source embedding centroids (embeddings ⋈ documents on
    // vec_id = doc_id, broadcast dim side at this SF)
    "q68_group_centroids" -> ((s, dir) => {
      val joined = t(s, dir, "embeddings")
        .join(t(s, dir, "documents").select(col("doc_id"), col("source")),
          col("vec_id") === col("doc_id"))
      // centroid as a fixed-point string (%.6f of the already-rounded
      // means) — scalar columns only, for the driver's pandas comparator
      SimilaritySearch.groupCentroids(joined, "source", "embedding")
        .select(col("source"), col("n_vectors"),
          array_join(transform(col("centroid"),
            x => format_string("%.6f", x)), ",").as("centroid"))
        .orderBy(col("source"))
    }),

    // Keep-best dedup policy: one representative per exact-Jaccard
    // cluster, by length (n_chars) with id tie-break — the oracle-able
    // demo of the policy (the scale path plugs the same selector into
    // the MinHash cluster labels)
    "q69_cluster_representatives" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 1, minJaccard = 0.8, maxDocFreq = 0L)
      val comps = Dedup.connectedComponents(
        docs.select(col("doc_id").as("id")), pairs)
      Dedup.keepBestPerCluster(docs, "doc_id", comps, "n_chars")
        .select(col("doc_id"), col("component"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Centroid coherence: every doc's cosine to its own source
    // centroid — the outlier/curation signal over q68's centroids
    "q70_centroid_outliers" -> ((s, dir) => {
      val joined = t(s, dir, "embeddings")
        .join(t(s, dir, "documents").select(col("doc_id"), col("source")),
          col("vec_id") === col("doc_id"))
      SimilaritySearch.centroidSimilarity(joined, "source", "vec_id", "embedding")
        .orderBy(col("vec_id"))
    }),

    // C4-style span-level dedup: every doc gets the same 20-token
    // boilerplate prefix (2 exact 10-token spans), so the boilerplate
    // survives only in doc 0 and the reassembled texts prove the
    // keep-first-occurrence rule end-to-end
    "q71_span_dedup" -> ((s, dir) => {
      val salted = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit(SpanBoilerplate + " "), col("text")).as("text"))
      Dedup.dedupSpans(salted, "doc_id", "text", spanTokens = 10)
        .orderBy(col("doc_id"))
    }),

    // DSIR importance weights: target model = the docs labeled
    // lang='en', raw model = the whole corpus; positive scores mean
    // "looks English" — the importance-resampling coordinate
    "q72_dsir_weights" -> ((s, dir) =>
      TextAnalysis.dsirWeights(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en")
        .orderBy(col("doc_id"))),

    // Per-domain provenance rollup over planted URLs (the fixture text
    // has none): hostname extraction → docs + URL occurrences per
    // domain; the cdn domain appears twice per doc so n_urls ≠ n_docs
    "q73_url_domains" -> ((s, dir) => {
      val salted = concat(
        col("text"),
        lit(" see https://host"), (col("doc_id") % 20).cast("string"),
        lit(".example.org/p/"), col("doc_id").cast("string"),
        lit(" and http://cdn"), (col("doc_id") % 3).cast("string"),
        lit(".example.net/x plus http://cdn"), (col("doc_id") % 3).cast("string"),
        lit(".example.net/y"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.urlHostnames(salted)).as("domain"))
        .groupBy(col("domain"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_urls"))
        .orderBy(col("domain"))
    }),

    // SemDeDup with FIXED probe centroids (the embeddings of vec_id
    // 0..7, q46-style): cell assignment + in-cell cosine domination
    // are both oracle-verified; the learned-centroid scale path plugs
    // learnCentroids into the same operator
    "q74_semantic_dedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = e.where(col("vec_id") < 8).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
      SimilaritySearch.semanticDedup(e, "vec_id", "embedding", cents, tau = 0.4)
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
        .orderBy(col("vec_id"))
    }),

    // SemDeDup at its production shape — LEARNED spherical cells — with
    // its quality measured in-row against the exact all-pairs
    // domination rule (= semanticDedup with one cell). Celled survivors
    // are a SUPERSET of exact survivors by construction, so survivor
    // overlap is tautologically 1.0; the informative direction is DROP
    // RECALL — what fraction of the exact rule's drops the celled run
    // reproduces (a bad clustering splits dup pairs across cells and
    // misses drops). Oracled since round 16 as a bound-carrying row
    // (sampled kmeans has no DuckDB twin): n_exact is hashed exactly —
    // DuckDB re-runs the brute-force domination rule — and the learned
    // run rides as the superset law plus the drop-recall range/floor
    // (measured 0.585 vs the 0.4 pin).
    "q75_semantic_dedup_learned" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val dim = queryVector(e, 0L).size
      val learned = SimilaritySearch.semanticDedup(e, "vec_id", "embedding",
        SimilaritySearch.learnCentroids(e, "embedding", k = 8, spherical = true),
        tau = 0.4, spherical = true).select("vec_id")
      val exact = SimilaritySearch.semanticDedup(e, "vec_id", "embedding",
        Seq(Seq.fill(dim)(0.0)), tau = 0.4).select("vec_id")
      // no exact drops -> nothing to miss -> recall 1.0 (the bare
      // division is x/0 -> null there and the metric would vanish)
      val dropRecall = when(col("__n") === col("n_exact"), lit(1.0))
        .otherwise((col("__n") - col("n_learned")).cast("double")
          / (col("__n") - col("n_exact")))
      e.agg(count(lit(1)).as("__n"))
        .crossJoin(learned.agg(count(lit(1)).as("n_learned")))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .select(col("n_exact"),
          (col("n_learned") >= col("n_exact"))
            .as("learned_superset_of_exact"),
          (dropRecall >= 0.0 && dropRecall <= 1.0).as("drop_recall_in_01"),
          // Scale-robust floor (r19): wide-tau celling recall is a
          // GEOMETRY property of the corpus, not a 1/√n estimator —
          // three-way probe measured 0.34 / 0.59 / 0.40 at
          // sf0.001/0.01/0.1 (the sf0.1 corpus cells worse despite
          // 10× the drops), so the floor sits ~2σ under the weakest
          // measured point (σ = √(p(1−p)/drops) ≈ 0.06 at 62 drops):
          // 0.2. The production-tau operating point is pinned
          // separately by q75b at 0.99.
          (dropRecall >= 0.2).as("drop_recall_floor_met"))
    }),

    // q75 at SemDeDup's production operating point. q75's 0.585 drop
    // recall is the wide-tau/few-cells trade (tau 0.4 reaches across
    // cell boundaries); production SemDeDup runs TIGHT tau — drops only
    // near-identical vectors — where a dup pair is nearly colinear and
    // lands in the same learned cell, so celling misses almost nothing.
    // The fixture has no cosine-0.9 pairs (q24's near-dups sit at
    // 0.4-0.5), so the query PLANTS the contamination mode tight-tau
    // dedup exists for: a near-identical twin (one coordinate nudged
    // 1%) for every 10th vector. Expected drop_recall ~ 1.0 at k=16
    // cells. Oracled since round 16 (the q75 pattern): DuckDB rebuilds
    // the twins (the same double-multiply-then-float-round nudge) and
    // re-runs the exact domination rule; the learned run rides as the
    // superset law and the near-perfect drop-recall floor (measured
    // 1.0 vs the 0.99 pin).
    "q75b_semantic_dedup_tight" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      // negative twin ids (the planted-row convention, cf. q32's
      // media_id -1..-8): real vec_ids are dense from 0, so an
      // offset-based id would collide on a big enough fixture
      val twins = e.where(col("vec_id") % 10 === 0)
        .select((-(col("vec_id") + 1L)).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, (x * lit(1.01)).cast("float")).otherwise(x))
            .as("embedding"))
      val corpus = e.unionByName(twins).localCheckpoint()
      val dim = queryVector(e, 0L).size
      val learned = SimilaritySearch.semanticDedup(corpus, "vec_id", "embedding",
        SimilaritySearch.learnCentroids(corpus, "embedding", k = 16, spherical = true),
        tau = 0.9, spherical = true).select("vec_id")
      val exact = SimilaritySearch.semanticDedup(corpus, "vec_id", "embedding",
        Seq(Seq.fill(dim)(0.0)), tau = 0.9).select("vec_id")
      val dropRecall = when(col("__n") === col("n_exact"), lit(1.0))
        .otherwise((col("__n") - col("n_learned")).cast("double")
          / (col("__n") - col("n_exact")))
      corpus.agg(count(lit(1)).as("__n"))
        .crossJoin(learned.agg(count(lit(1)).as("n_learned")))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .select(col("n_exact"),
          (col("n_learned") >= col("n_exact"))
            .as("learned_superset_of_exact"),
          (dropRecall >= 0.0 && dropRecall <= 1.0).as("drop_recall_in_01"),
          (dropRecall >= 0.99).as("drop_recall_floor_met"))
    }),

    // Provenance gate over the q73 salted URLs: docs citing a
    // blocklisted domain drop (doc_id%3==0 via cdn0, doc_id%20==7 via
    // host7); survivors carry their URL count
    "q76_domain_filter" -> ((s, dir) => {
      val salted = t(s, dir, "documents").select(col("doc_id"), concat(
        col("text"),
        lit(" see https://host"), (col("doc_id") % 20).cast("string"),
        lit(".example.org/p/"), col("doc_id").cast("string"),
        lit(" and http://cdn"), (col("doc_id") % 3).cast("string"),
        lit(".example.net/x")).as("text"))
      graft.ext.TextPipeline.filterByDomains(salted, "text",
          Seq("cdn0.example.net", "host7.example.org"))
        .select(col("doc_id"),
          size(TextAnalysis.urlHostnames(col("text"))).cast("long").as("n_urls"))
        .orderBy(col("doc_id"))
    }),

    // Bigram conditional cross-entropy vs the corpus's own model — the
    // transition-predictability quality signal unigram scoring misses
    "q77_bigram_xent" -> ((s, dir) =>
      TextAnalysis.bigramCrossEntropy(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Dup-cluster size histogram over the exact-Jaccard components —
    // the curation-dashboard view of corpus redundancy (how much mass
    // sits in how-big clusters); the scale path feeds MinHash cluster
    // labels into the same rollup
    "q78_dup_cluster_stats" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 1, minJaccard = 0.8, maxDocFreq = 0L)
      val comps = Dedup.connectedComponents(
        docs.select(col("doc_id").as("id")), pairs)
      comps.groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          (col("cluster_size") * count(lit(1))).as("n_docs"))
        .orderBy(col("cluster_size"))
    }),

    // Quality-stratified token-budget mix: fixed-threshold quality bins
    // (NO global-sort ntile) feed per-bin budgets through the same
    // running-sum draw as q61 — the curriculum/mixture-composition step
    "q79_quality_mix" -> ((s, dir) => {
      val q = round(TextAnalysis.qualityScore(col("text")), 6)
      // text itself is NOT selected: the draw's checkpoint is an
      // optimizer barrier, so a carried text column would be
      // materialized wholesale for nothing
      val binned = t(s, dir, "documents").select(
        col("doc_id"),
        when(q >= 0.8, "hi").when(q >= 0.6, "mid").otherwise("low").as("qbin"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"))
      Sampling.sampleByTokenBudget(binned, "qbin", "doc_id", "n_toks",
          Map("hi" -> 1500L, "mid" -> 8000L, "low" -> 1000L))
        .select(col("doc_id"), col("qbin"), col("n_toks"))
        .orderBy(col("doc_id"))
    }),

    // Random-projection dimensionality reduction (Johnson-Lindenstrauss
    // sketch): 64-dim embeddings -> 8 deterministic hyperplane
    // coordinates, one codegen dot per output dim, no shuffle
    "q80_random_projection" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // The DuckDB twin pins dim-64 plane literals (rpPlaneLits) — fail
      // loudly on a different fixture width instead of zipping short
      require(queryVector(e, 0L).size == 64,
        "q80's oracle embeds dim-64 plane literals; fixture width differs")
      val planes = SimilaritySearch.hyperplanes(numPlanes = 8, dim = 64)
      val v = col("embedding").cast("array<double>")
      // projection as a comma-joined %.6f string (scalar columns only,
      // for the driver's pandas comparator)
      e.select(
          col("vec_id"),
          concat_ws(",", planes.map(p => format_string("%.6f",
            round(SimilaritySearch.dot(v, typedLit(p)), 6))): _*)
            .as("projection"))
        .orderBy(col("vec_id"))
    }),

    // Out-of-vocabulary rate vs the corpus top-100 vocabulary — the
    // tokenizer-coverage / domain-shift signal
    "q81_oov_rate" -> ((s, dir) =>
      TextAnalysis.oovRate(t(s, dir, "documents"), "doc_id", "text",
          vocabSize = 100)
        .orderBy(col("doc_id"))),

    // Zipf slope of the vocabulary (corpus-health dashboard): OLS of
    // ln(freq) on ln(rank), explicit sums so DuckDB reproduces exactly
    "q82_zipf_slope" -> ((s, dir) =>
      TextAnalysis.zipfSlope(t(s, dir, "documents"), "text")),

    // The PERSISTED IVF index end-to-end: build the cell-partitioned
    // index, probe it (partition pruning at file listing), measure
    // recall@10 vs exact. Same fixed centroids and probe mechanics as
    // q46 — the filesystem round-trip must not change a single
    // neighbor, so q46's DuckDB twin oracles this row verbatim
    "q83_ivf_index_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = queryVector(e, 0L)
      val cents = e.where(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
      // per-run unique dir: a fixed shared path under /tmp would let
      // concurrent runs clobber each other's partition directories
      // mid-read (and leave first-user-owned leftovers on shared hosts)
      val path = java.nio.file.Files
        .createTempDirectory("graft_ivf_index").toString
      SimilaritySearch.writeIvfIndex(e, "vec_id", "embedding", cents, path)
      val fromIndex = SimilaritySearch.ivfTopKFromIndex(s, path, "vec_id",
        "embedding", q, 10, cents, nProbe = 4, excludeId = Some(0L))
        .select("vec_id")
      val exact = SimilaritySearch.topKByCosine(e, "vec_id", "embedding", q, 10,
        excludeId = Some(0L)).select("vec_id")
      fromIndex.join(exact, Seq("vec_id"))
        .agg((count(lit(1)).cast("double") / lit(10.0)).as("recall_at_10"))
    }),

    // Crawl-to-crawl diff: the "new crawl" edits every 10th doc
    // (appended salt), drops every 13th, and adds 50 fresh ids —
    // classification decides what a re-crawl actually re-processes
    "q84_crawl_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val newCrawl = docs
        .where(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 0,
            concat(col("text"), lit(" edited rev"), col("doc_id").cast("string")))
            .otherwise(col("text")).as("text"))
        .unionByName(
          s.range(1000000, 1000050).select(
            col("id").as("doc_id"), lit("fresh crawl document").as("text")))
      Dedup.crawlDiff(docs, newCrawl, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // DSIR step 2 — importance SELECTION: the 100 most target-like
    // docs by (weight desc, id). TakeOrderedAndProject, no global sort
    "q85_dsir_select" -> ((s, dir) =>
      TextAnalysis.dsirWeights(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en")
        .orderBy(col("dsir_logratio").desc, col("doc_id")).limit(100)),

    // Packing-policy dashboard: doc-isolated packing (no cross-doc
    // attention) vs concat-and-chunk (q65) at seqLen=512 — pack
    // counts for both policies and the padding fraction the isolated
    // policy wastes; one aggregation pass
    "q86_packing_stats" -> ((s, dir) => {
      val n = TextAnalysis.tokenCount(col("text")).cast("long")
      packingBaseStats(t(s, dir, "documents").select(n.as("__n")), 512L)
    }),

    // Fuzzy (MinHash) eval-set decontamination — the paraphrase case
    // exact n-gram collision (q58) misses. The benchmark side is a
    // paraphrase-shaped corruption of every 50th doc: every 5th token
    // replaced, so NO word-5-gram survives (q58's test scores zero
    // against it) while ~2/5 of the trigram shingles do (true Jaccard
    // ≈ 0.25 for long docs; short docs perturb to themselves). The
    // interpreted transform lambda runs only over the 1-in-50
    // benchmark side; the corpus side is the stock signature path.
    // Fully oracled since round 16 via SigMode.Md5 (the q28/q92
    // pattern, at 3-gram shingles and 64×2 banding): DuckDB rebuilds
    // the paraphrased benchmark, both signature sets, the band
    // collisions, and the per-corpus-doc match rollup. The planted-
    // paraphrase floor stays in FuzzyDecontaminationSpec.
    "q87_fuzzy_decontamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = split(TextAnalysis.normalize(col("text")), " ")
      val bench = docs.where(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("bench_id"),
          array_join(transform(toks, (tk, i) =>
            when(i % 5 === 4, lit("qzparaphrase")).otherwise(tk)), " ")
            .as("bench_text"))
      TextPipeline.contaminatedIdsFuzzy(docs, "doc_id", "text",
          bench, "bench_id", "bench_text", minJaccard = 0.2,
          sigMode = Dedup.SigMode.Md5)
        .select(col("doc_id"), col("n_bench_matches"),
          // hashed as micro-units (×1e6, floor half-up): multiply, add
          // and floor are IEEE-pinned, so the integer is bit-identical
          // on any engine given the same double — unlike round() or a
          // double→decimal cast, both of which proved engine-sensitive
          floor(col("max_est_jaccard") * lit(1e6) + lit(0.5))
            .as("max_est_jaccard"))
        .orderBy(col("doc_id"))
    }),

    // Three-policy packing dashboard: q86's two bookkeeping policies
    // (one-doc-per-bin isolation, concat-and-chunk) plus the policy a
    // trainer actually picks — first-fit-decreasing bin packing
    // (doc-isolating AND near-optimal padding). ffd bin capacity is
    // max(seqLen, bin tokens): an oversized doc's dedicated bin wastes
    // nothing. Oracled since round 16 as a bound-carrying row: the
    // greedy has no SQL twin, so the FFD result arrives as the three
    // laws it must satisfy — at least the concat floor (OPT ≥
    // ⌈total/512⌉), no worse than isolation on BOTH packs and padding,
    // and inside the Dósa first-fit-decreasing guarantee
    // (FFD ≤ 11/9·OPT + 6/9, with concat_packs standing in as the OPT
    // lower bound). The two bookkeeping policies stay exactly hashed;
    // the independent first-fit reference stays in SamplingSpec.
    "q88_packing_policies" -> ((s, dir) => {
      val seqLen = 512L
      // pinned: consumed by count(), the FFD run, AND the base
      // aggregate — unpinned, the scan + tokenCount re-run per branch
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("__n"))
        .localCheckpoint()
      // shards sized to the corpus (≥64 docs per shard keeps per-shard
      // leftover bins marginal) — the packBinsFFD scaling contract
      val shards = math.max(1, math.min(256, (docs.count() / 64L).toInt))
      val bins = Sampling.packBinsFFD(docs, "doc_id", "__n", seqLen, shards)
        .groupBy(col("bin_id"))
        .agg(sum(greatest(col("n_toks"), lit(1L))).as("__fill"))
        .agg(
          count(lit(1)).as("ffd_packs"),
          sum(greatest(col("__fill"), lit(seqLen))).as("__cap"),
          sum(col("__fill")).as("__used"))
        .select(col("ffd_packs"),
          round((col("__cap") - col("__used")).cast("double") / col("__cap"), 6)
            .as("ffd_padding_fraction"))
      packingBaseStats(docs, seqLen) // q86's two policies, shared code
        .withColumnRenamed("padding_fraction", "isolated_padding_fraction")
        .crossJoin(bins) // 1×1 rows — the dashboard row
        .select(col("n_docs"), col("n_tokens"), col("isolated_packs"),
          col("concat_packs"),
          // micro-units hash recomputed from the raw counts (not the
          // pre-rounded packingBaseStats column) so both spellings run
          // the identical IEEE ops; see q87's micro-units note
          floor((col("isolated_packs") * lit(seqLen) - col("n_tokens"))
              .cast("double") / (col("isolated_packs") * lit(seqLen))
              * lit(1e6) + lit(0.5))
            .as("isolated_padding_fraction"),
          (col("ffd_packs") >= col("concat_packs"))
            .as("ffd_at_least_optimal_floor"),
          (col("ffd_packs") <= col("isolated_packs") &&
            col("ffd_padding_fraction") <=
              col("isolated_padding_fraction").cast("double"))
            .as("ffd_no_worse_than_isolated"),
          (col("ffd_packs") <=
            floor(lit(11.0) * col("concat_packs") / 9.0 + lit(6.0 / 9.0))
              .cast("long")).as("ffd_within_dosa_bound"))
    }),

    // The engine's streaming heart, driver-visible: a deterministic
    // micro-batch replay of the events table through the FULL streaming
    // path — JSON publish → stream decode → tagged union →
    // flatMapGroupsWithState correlation → keyed upsert sink → daily
    // KPI batch job over the merged table. The feed derives one trip
    // per event (start for every event; end only for non-error events,
    // fare = value), so the final daily KPI document must equal q04's
    // batch answer bit-for-bit — the oracle is q04's SQL twin verbatim.
    // Everything rides one AvailableNow trigger into a fresh temp
    // table+checkpoint per invocation (re-runnable; bench reps replay
    // from scratch). The KPI math is the same decimal-sum path q04
    // uses, so hash equality is exact, not approximate.
    "q89_streaming_daily_kpis" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val feed = q89Feed(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft-q89").toString
      try {
        val q = graft.streaming.TripStreamJob.start(
          s,
          startLines = s.readStream.text(s"$feed/starts"),
          endLines = s.readStream.text(s"$feed/ends"),
          tablePath = s"$base/table",
          checkpointDir = s"$base/ckpt",
          trigger = Trigger.AvailableNow())
        // Bounded wait: an unbounded awaitTermination would hang the
        // whole Verify/Bench process if the AvailableNow query ever
        // wedges on sink/checkpoint I/O — fail the query instead.
        if (!q.awaitTermination(600000L)) {
          q.stop()
          throw new IllegalStateException(
            "q89 streaming replay did not terminate within 600s")
        }
        // localCheckpoint materializes the KPI rows, so the temp
        // table + checkpoint can be deleted — otherwise every
        // invocation (bench reps, driver runs) leaks the parquet
        // table into /tmp
        KpiAggregation.dailyKpis(
            graft.sink.TripTableSink.readMerged(s, s"$base/table"))
          .orderBy(col("date"))
          .localCheckpoint()
      } finally {
        // finally: a mid-replay throw must not leak the run dirs
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true): Unit
      }
    }),

    // Learned quality gate: the hashed-n-gram linear classifier
    // (fastText-shape) trained on the corpus's own language labels
    // (en vs rest) — md5 bucketing + ln + decimal sums, so DuckDB
    // re-derives training AND scoring end-to-end
    "q90_quality_classifier" -> ((s, dir) =>
      TextAnalysis.hashedNgramClassifier(
          t(s, dir, "documents"), "doc_id", "text", col("lang") === "en")
        .orderBy(col("doc_id"))),

    // The production train/apply split: the gate is FIT on half the
    // corpus (even doc_ids) and APPLIED to all of it — held-out docs'
    // novel vocabulary takes the model's smoothing-consistent default
    // weight instead of being silently skipped. Fully oracled: the
    // train subset is SQL-expressible, so DuckDB re-derives the
    // held-out scores too.
    "q91_classifier_holdout" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.scoreHashedNgrams(docs, "doc_id", "text", evenIdModel(s, dir))
        .orderBy(col("doc_id"))
    }),

    // Persisted MinHash index (the near-dup counterpart of q83's IVF
    // index): even-id docs indexed once to parquet, odd-id docs
    // admitted against it through the filesystem round-trip — the
    // incremental-crawl near-dedup flow. Fully oracled since round 16
    // via SigMode.Md5 (the q28 pattern): DuckDB re-derives both sides'
    // signatures and the 16×8 band collisions, so the filesystem
    // round-trip + broadcast admission path is hash-verified
    // end-to-end. est_jaccard = m/128.0 is dyadic — exact in both
    // engines, no rounding. The operational apply paths keep xxhash64.
    "q92_minhash_index_admission" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = java.nio.file.Files.createTempDirectory("graft-q92").toString
      try {
        Dedup.writeMinhashIndex(docs.where(col("doc_id") % 2 === 0),
          "doc_id", "text", base, numHashes = 128, shingleSize = 1,
          sigMode = Dedup.SigMode.Md5)
        Dedup.pairsAgainstMinhashIndex(
            docs.where(col("doc_id") % 2 === 1), "doc_id", "text", base,
            minJaccard = 0.8, numHashes = 128, shingleSize = 1,
            sigMode = Dedup.SigMode.Md5)
          .select(col("id_a"), col("id_b"), col("est_jaccard"))
          .orderBy(col("id_a"), col("id_b"))
          .localCheckpoint() // materialize before deleting the index
      } finally {
        // finally: Verify catches per-query failures and continues — a
        // throw before cleanup would leak the index into /tmp per run
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true): Unit
      }
    }),

    // Leakage-free split: split key = dup-cluster label (q30's exact
    // components), so a training document's near-duplicate can never
    // land in the test set. Fully oracled: recursive-CTE components +
    // the same md5 hex bounds as q38.
    "q93_cluster_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 1, minJaccard = 0.8, maxDocFreq = 0L)
      val comps = Dedup.connectedComponents(
        docs.select(col("doc_id").as("id")), pairs)
      Sampling.clusterSplit(docs, "doc_id", comps)
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // HTML→text extraction (boilerplate removal): the documents text
    // wrapped in a deterministic page template — head/title/style/
    // script, link-dense nav and share/footer chrome, an HTML comment,
    // and entity-escaped punctuation around the article body. The
    // extractor must drop every chrome line and return the article
    // paragraph with entities decoded. The oracle builds the SAME
    // salted page and runs the SAME RE2-safe chain (q50 convention), so
    // extraction is hash-verified end-to-end.
    "q94_html_extract" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val salted = concat(
        lit("<html><head><title>Doc "), id,
        lit("</title><style>body { color: #fff; }</style>" +
          "<script>var x = 1 < 2;</script></head><body>" +
          "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
          "<a href=\"/contact\">Contact</a></nav><h1>Doc "), id,
        lit("</h1><!-- build "), id, lit(" --><p>"), col("text"),
        lit(" &amp; more &lt;tags&gt; follow.</p>" +
          "<div class=\"share\"><a href=\"/s\">Share</a> " +
          "<a href=\"/t\">Tweet</a></div>" +
          "<footer>Copyright Example Corp <a href=\"/p\">Privacy</a> " +
          "<a href=\"/t\">Terms</a> <a href=\"/c\">Contact</a>" +
          "</footer></body></html>"))
      TextPipeline.extractText(
          t(s, dir, "documents").where(col("text").isNotNull)
            .select(col("doc_id"), salted.as("html")),
          "doc_id", "html")
        .orderBy(col("doc_id"))
    }),

    // Learned-merges BPE: 32 merge rules learned from the corpus's own
    // word frequencies, then every document encoded — the token count a
    // subword tokenizer would actually produce. Oracled since round 16
    // as a bound-carrying row (the iterative greedy merge has no SQL
    // twin): n_words is hashed exactly (DuckDB counts the normalized
    // nonempty tokens), and the learned count arrives pinched between
    // its two laws — at least one piece per word, at most one per
    // character (merges only fuse) — plus the corpus-level claim that
    // the 32 merges actually compressed. The exact piece sequences
    // stay pinned against an independent reference in BpeSpec.
    "q95_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.ext.Bpe.learnMerges(docs, "text", numMerges = 32)
      val chars = docs.where(col("text").isNotNull).select(col("doc_id"),
        length(regexp_replace(TextAnalysis.normalize(col("text")), " ", ""))
          .cast("long").as("__nc"))
      val enc = graft.ext.Bpe.encode(docs, "doc_id", "text", model)
        .join(chars, Seq("doc_id"))
        .localCheckpoint() // per-row output + the corpus total read it
      val tot = broadcast(enc.agg(
        sum(col("n_bpe_tokens")).as("__sb"), sum(col("__nc")).as("__sc")))
      enc.crossJoin(tot)
        .select(col("doc_id"), col("n_words"),
          (col("n_bpe_tokens") >= col("n_words")).as("bpe_at_least_words"),
          (col("n_bpe_tokens") <= col("__nc")).as("bpe_at_most_chars"),
          (col("__sb") < col("__sc")).as("merges_compress"))
        .orderBy(col("doc_id"))
    }),

    // Divergence dashboard: per source, how far the whitespace and
    // bpe-ish counts that drove packing/budgeting until now sit from
    // the learned-BPE count. Oracled since round 16 as a bound-
    // carrying row: the ws and bpeish columns are the q20-oracled
    // counts aggregated exactly; the learned column rides as its two
    // per-source laws (n_bpe ≥ n_ws — word-internal merges never fuse
    // across a boundary — and n_bpe ≤ normalized chars). BpeSpec pins
    // the per-doc invariants.
    "q96_bpe_divergence" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.ext.Bpe.learnMerges(docs, "text", numMerges = 32)
      val enc = graft.ext.Bpe.encode(docs, "doc_id", "text", model)
      docs.where(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("__ws"),
          TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("__bp"),
          length(regexp_replace(TextAnalysis.normalize(col("text")), " ", ""))
            .cast("long").as("__nc"))
        .join(enc, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("__ws")).as("ws_tokens"),
          sum(col("__bp")).as("bpeish_tokens"),
          (sum(col("n_bpe_tokens")) >= sum(col("n_words")))
            .as("bpe_at_least_words"),
          (sum(col("n_bpe_tokens")) <= sum(col("__nc")))
            .as("bpe_at_most_chars"))
        .orderBy(col("source"))
    }),

    // The downstream consumers on LEARNED counts: packSequences packs
    // the corpus by n_bpe_tokens (any count column plugs in), and
    // chunkByBpeTokens slices documents at a 128-piece budget without
    // splitting words. Oracled since round 16 as a bound-carrying row:
    // n_docs is exact; the learned-count plumbing rides as three laws
    // — the pack count can never beat the capacity floor
    // ⌈total/2048⌉, the chunks of every document must partition its
    // piece count exactly (coverage), and chunk overflow is bounded:
    // a word that STRADDLES a budget boundary stays whole in the chunk
    // where it starts (that is what "without splitting words" costs),
    // so a chunk exceeds 128 only by an in-corpus word's own pieces —
    // under 2×budget whenever no single word reaches the budget
    // (measured max here: 132).
    "q97_bpe_packing" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.ext.Bpe.learnMerges(docs, "text", numMerges = 32)
      val enc = graft.ext.Bpe.encode(docs, "doc_id", "text", model)
        .localCheckpoint() // feeds both the packer and the totals
      val packs = Sampling.packSequences(enc, "doc_id", "n_bpe_tokens", 2048L)
      val chunks = graft.ext.Bpe.chunkByBpeTokens(
        docs, "doc_id", "text", model, chunkBudget = 128)
      packs.agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_bpe_tokens")).as("__bpe"),
          // total packs = highest pack TOUCHED + 1 = max(pack_id +
          // n_packs); max(pack_id)+1 would undercount whenever the
          // last-starting doc spans several packs
          max(col("pack_id") + col("n_packs")).as("__np"))
        .crossJoin(chunks.agg(
          sum(col("chunk_bpe_tokens")).as("__chunk_bpe"),
          max(col("chunk_bpe_tokens")).as("__mx")))
        .select(col("n_docs"),
          (col("__np") >= ceil(col("__bpe") / lit(2048.0)).cast("long"))
            .as("packs_at_least_capacity_floor"),
          (col("__chunk_bpe") === col("__bpe")).as("chunks_cover_all_pieces"),
          (col("__mx") < 2L * 128L).as("chunk_overflow_bounded"))
    }),

    // How WELL the learned gate separates: q91's held-out half (odd
    // doc_ids, scored under the even-id model) evaluated as a 1-row
    // confusion matrix + precision/recall/F1 + mid-rank ROC AUC.
    // Fully oracled — DuckDB re-derives training, scoring, AND the
    // rank-sum AUC; floors pinned in EstimatorQualitySpec.
    "q98_classifier_quality" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val holdout = TextAnalysis.scoreHashedNgrams(docs, "doc_id", "text", evenIdModel(s, dir))
        .where(col("doc_id") % 2 === 1)
        .join(docs.select(col("doc_id"),
          coalesce(col("lang") === "en", lit(false)).as("__label")), Seq("doc_id"))
      TextAnalysis.binaryClassificationMetrics(
        holdout, col("__label"), "score", "predicted")
    }),

    // HTML link provenance: hosts of absolute hrefs (double- and
    // single-quoted, ports, userinfo) extracted from salted pages —
    // relative hrefs carry no host, and a plain-text URL in the body
    // is counted by the urlHostnames column but NOT by hrefs, pinning
    // the two extractors' complementary coverage. Oracled end-to-end.
    "q99_html_links" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val salted = concat(
        lit("<p>"), col("text"),
        lit(" visit https://plain"), (col("doc_id") % 5).cast("string"),
        lit(".example.io/home</p><a href=\"https://site"),
        (col("doc_id") % 7).cast("string"),
        lit(".example.com/p\">x</a> <a href='http://cdn.example.net:8080/y'>y</a> "),
        lit("<a href=\"https://u:p@tracker.example.org/z\">z</a> "),
        // protocol-relative: href-only coverage — NO text-URL pattern
        // can see a host with no scheme prefix anywhere in the bytes
        lit("<a href=\"//mirror.example.net/q\">q</a> "),
        lit("<a href=\"/about\">about</a>"))
      val x = t(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          TextPipeline.hrefHostnames(salted).as("__h"),
          TextAnalysis.urlHostnames(salted).as("__u"))
      x.select(col("doc_id"), explode(col("__h")).as("host"))
        .groupBy(col("host")).agg(count(lit(1)).as("n_links"))
        .join(
          x.select(col("doc_id"), explode(col("__u")).as("host"))
            .groupBy(col("host")).agg(count(lit(1)).as("n_text_urls")),
          Seq("host"), "full_outer")
        .select(col("host"),
          coalesce(col("n_links"), lit(0L)).as("n_links"),
          coalesce(col("n_text_urls"), lit(0L)).as("n_text_urls"))
        .orderBy(col("host"))
    }),

    // The operating-point sweep for the learned gate: precision/recall
    // at EVERY achievable threshold over q91's held-out half — q98's
    // single-threshold row unrolled into the full curve. Fully oracled
    // (cumulative window over the distinct-score table).
    "q100_pr_curve" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val holdout = TextAnalysis.scoreHashedNgrams(docs, "doc_id", "text", evenIdModel(s, dir))
        .where(col("doc_id") % 2 === 1)
        .join(docs.select(col("doc_id"),
          coalesce(col("lang") === "en", lit(false)).as("__label")), Seq("doc_id"))
      TextAnalysis.precisionRecallCurve(holdout, col("__label"), "score")
        .orderBy(col("threshold"))
    }),

    // WARC container ingest: the corpus round-tripped through real
    // ISO-28500 bytes — 20 deterministic WARC files (warcinfo + one
    // response record per doc, Content-Length exact), parsed back by
    // the length-driven record walk. Every body is salted with a
    // literal "WARC/1.1" line, so any magic-scanning splitter would
    // shred it; the oracle computes the expected records directly from
    // documents, making parse + HTTP split + byte-exact body recovery
    // (md5) hash-verified end-to-end.
    "q101_warc_ingest" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      val salted = docs.select(
        col("doc_id"),
        concat(lit("https://crawl.example.org/doc/"), col("doc_id").cast("string")).as("__uri"),
        concat(col("text"), lit("\nWARC/1.1 inner decoy")).as("__body"))
      val files = graft.ext.Warc.responseFixture(salted, "doc_id", "__uri", "__body", numFiles = 20)
      graft.ext.Warc.parseRecords(files, "file_id", "payload").toDF()
        .where(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1).cast("long").as("doc_id"),
          col("target_uri"),
          col("http_status"),
          col("http_content_type"),
          col("n_http_headers"),
          octet_length(col("body")).cast("long").as("body_octets"),
          md5(col("body")).as("body_md5"))
        .orderBy(col("doc_id"))
    }),

    // Encoding repair: every document salted with a fixed garble —
    // five mojibake sequences (é “ ” – € ü as their cp1252 mis-decodes,
    // taken from the SAME table the operator applies, single source of
    // truth), a C0 bell, a C1 control, and one legitimate precomposed
    // é that must survive untouched — then repaired. The oracle runs
    // the identical 23-step replace chain + control strip (generated
    // from the table), so repair is hash-verified end-to-end including
    // the invisible-U+009D right-double-quote case.
    "q102_encoding_repair" -> ((s, dir) => {
      val salted = concat(col("text"), lit(q102Salt))
      val repaired = TextPipeline.repairText(salted)
      t(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          TextPipeline.mojibakeCount(salted).cast("long").as("n_mojibake"),
          TextPipeline.controlCount(salted).cast("long").as("n_controls"),
          octet_length(repaired).cast("long").as("repaired_octets"),
          md5(repaired).as("repaired_md5"))
        .orderBy(col("doc_id"))
    }),

    // Bloom-prefiltered anti-join: "drop documents whose content we
    // already crawled" with EXACT anti-join semantics — the filter's
    // authoritative "no" short-cuts definite-new rows past the
    // shuffle; only maybe-seen candidates (true members + the ~1% FP
    // sliver) join. Output is fpp-independent, so it is fully oracled
    // against the plain DuckDB anti-join; the shuffle-size win is
    // q104's story.
    "q103_bloom_antijoin" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      val seen = docs.where(col("doc_id") % 3 === 0)
        .select(md5(col("text")).as("__fp")).distinct()
      val big = docs.select(col("doc_id"), md5(col("text")).as("__fp"))
      graft.ext.BloomGate.bloomedAntiJoin(big, "__fp", seen, "__fp", fpp = 0.01)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // The gate's own dashboard: one row with the exact corpus /
    // member split, the missed-member count — which MUST be 0 (no
    // false negatives) — and bound-carrying booleans for the
    // bit-pattern-dependent quantities: the measured FPR stays under
    // 2× the configured fpp, and the definite-new short-cut really
    // skipped ≥ 98% of non-members past the shuffle. Spark's
    // BloomFilter is seedless (fixed hash family), so both checks are
    // deterministic functions of the data; the oracle reproduces the
    // whole row closed-form. Raw FPR/split numbers stay on
    // BloomGateSpec + q103 (same filter, exact output).
    "q104_bloom_stats" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      val seen = docs.where(col("doc_id") % 3 === 0)
        .select(md5(col("text")).as("__fp")).distinct()
      val nSeen = seen.count()
      val filter = graft.ext.BloomGate.buildFilter(seen, "__fp", nSeen, fpp = 0.01)
      val flagged = docs.select(col("doc_id"), md5(col("text")).as("__fp"))
        .withColumn("__might",
          graft.ext.BloomGate.mightContain(filter, col("__fp")))
        .join(seen.withColumn("__m", lit(1)), Seq("__fp"), "left")
        .select(col("__might"), (col("__m") === 1).as("__member"))
      flagged.agg(
          count(lit(1)).as("n_docs"),
          lit(nSeen).as("n_seen_keys"),
          sum(when(col("__member"), 1L).otherwise(0L)).as("n_true_members"),
          sum(when(col("__might") && !col("__member"), 1L).otherwise(0L))
            .as("__n_fp"),
          sum(when(!col("__might") && col("__member"), 1L).otherwise(0L))
            .as("n_missed_members"))
        .select(
          col("n_docs"), col("n_seen_keys"), col("n_true_members"),
          col("n_missed_members"),
          (col("n_missed_members") === 0L).as("no_false_negatives"),
          (col("__n_fp").cast("double") <=
            lit(0.02) * greatest(col("n_docs") - col("n_true_members"), lit(1L))
              .cast("double")).as("fpr_within_bound"))
    }),

    // Weighted sampling without replacement (Efraimidis–Spirakis
    // exponential keys on the md5 coordinate): 50 docs drawn with
    // probability proportional to length. Deterministic and
    // engine-independent, so the oracle selects the IDENTICAL rows —
    // a fully-oracled weighted sampler, where rand()-based sampling
    // can never be.
    "q105_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(
          t(s, dir, "documents").where(col("text").isNotNull),
          "text", greatest(col("n_chars"), lit(1L)), k = 50)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id")))
,

    // PCA projection: one corpus pass of raw moments (typed
    // Aggregator, 16 KB buffer, map-side merges), a driver-side 64×64
    // Jacobi eigensolve, then 8 codegen dot products per row with
    // centering folded into constants — the variance-optimal
    // counterpart to q80's random projection. Fully oracled since
    // round 16 as a bound-carrying row (the eigensolve itself has no
    // SQL twin): the hashed column is each row's centered norm —
    // DuckDB re-derives the mean and distance, pinning the centering
    // the projection folds in — and the projection rides as three
    // measured booleans: per-row contraction (an orthonormal projector
    // never lengthens: ‖proj‖ ≤ ‖x−μ‖, row by row), Parseval
    // consistency (Σ‖proj‖²/(n−1) must equal the model's top-8
    // eigenvalue mass — eigenvalues right but projection wrong fails
    // HERE), and q107's ≥0.15 captured-mass floor measured from the
    // actual projected rows. Exact recovery/orthonormality stays in
    // PcaSpec; basis optimality in q107.
    "q106_pca_project" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = pcaModel(s, dir)
      val x = col("embedding").cast("array<double>")
      val meanLit = typedLit(model.mean.toSeq)
      val diff = zip_with(x, meanLit, (a, b) => a - b)
      val projected = graft.ext.Pca.projectPca(emb, "embedding", model)
        .withColumn("__c2", org.apache.spark.sql.graft.VectorOps.dot(diff, diff))
        .withColumn("__p2", org.apache.spark.sql.graft.VectorOps
          .dot(col("proj"), col("proj")))
        .localCheckpoint() // stats + per-row output both read it
      val pcaVar = model.eigenvalues.take(8).sum
      val stats = broadcast(projected.agg(
        sum(col("__p2")).as("__sp"), count(lit(1)).as("__n")))
      projected.crossJoin(stats)
        .select(col("vec_id"),
          // micro-units hash (see q87): IEEE-pinned, engine-portable
          floor(sqrt(col("__c2")) * lit(1e6) + lit(0.5))
            .as("centered_norm"),
          (sqrt(col("__p2")) <= sqrt(col("__c2")) + lit(1e-9))
            .as("proj_contracts"),
          (abs(col("__sp") / (col("__n") - 1) - lit(pcaVar)) <=
            lit(1e-6 * math.max(pcaVar, 1e-12))).as("parseval_consistent"),
          (col("__sp") / (col("__n") - 1) >=
            lit(0.15) * lit(model.totalVariance)).as("mass_floor_met"))
        .orderBy(col("vec_id"))
    }),

    // The optimality dashboard: variance captured by the 8 PCA
    // components vs the SAME-rank q80 random-projection basis
    // (Gram-Schmidt orthonormalized) under the SAME covariance.
    // Bound-carrying row: dim/r/n are closed-form, the Rayleigh bound
    // (pca_fraction >= rand_fraction — optimality of the eigenbasis)
    // and a ≥0.15 floor on the captured fraction (measured 0.205 on
    // the 64-dim corpus, vs the 0.125 a uniform spectrum would give
    // rank 8) arrive as booleans the run actually measures. Raw
    // variance magnitudes stay on PcaSpec.
    "q107_pca_quality" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = pcaModel(s, dir)
      // the oracle pins dim 64 as a literal; a regenerated fixture with
      // another width must fail HERE, not as a silent hash mismatch
      require(model.dim == 64,
        s"q107's oracle pins dim=64 but the fitted PCA saw ${model.dim}")
      val planes = SimilaritySearch.hyperplanes(numPlanes = 8, dim = model.dim, seed = 42L)
        .map(_.toArray).toArray
      val randVar = graft.ext.Pca.capturedVariance(emb, "embedding", planes)
      val pcaVar = model.eigenvalues.take(8).sum
      val total = model.totalVariance
      emb.sparkSession.range(1).select(
        lit(model.dim).as("dim"),
        lit(8).as("r"),
        lit(model.n).as("n_vectors"),
        lit(pcaVar >= randVar).as("pca_beats_random"),
        lit(pcaVar / total >= 0.15).as("pca_fraction_floor_met"))
    }),

    // Frame-level audio features: 40 REAL 16-bit-PCM WAVs (alternating
    // 100 ms burst/silence, parameters deterministic per id) built in
    // the scan, framed at 50 ms, each frame reduced to rms/peak/zcr,
    // then per-clip voice-activity segmentation — the audio analog of
    // the video frame-sample plan, with the decode REAL (not stubbed).
    // Fully oracled since round 16: the fixture is closed-form in the
    // media id, so DuckDB regenerates the SAME quantized samples
    // (round(amp·32767·sin(2πfi/sr)), silence gating) and re-derives
    // every frame aggregate — WAV byte layout + PCM16 decode + framing
    // are all on the hash path. Closed-form algebra (sine rms = a/√2,
    // zcr = 2f/rate) stays pinned in AudioFramesSpec.
    "q108_audio_frames" -> ((s, dir) => {
      import s.implicits._
      val media = s.range(40).as[Long].map(id => Multimodal.MediaRow(
        id, "audio",
        graft.ext.MediaCodec.Fixtures.burstWav(
          freq = 200 + 10 * (id % 8).toInt,
          amp = 0.2 + 0.1 * (id % 5),
          seconds = 0.4, burstMs = 100)))
      Multimodal.audioFrameFeatures(media, frameMs = 50).toDF()
        .groupBy(col("media_id"))
        .agg(
          count(lit(1)).as("n_frames"),
          sum(when(col("rms") > 0.05, 1L).otherwise(0L)).as("n_voiced"),
          // hashed in 1e-4 units (floor half-up — IEEE-pinned, engine-
          // portable; see q87's micro-units note)
          floor(avg(col("rms")) * lit(1e4) + lit(0.5)).as("avg_rms"),
          floor(max(col("peak")) * lit(1e4) + lit(0.5)).as("max_peak"),
          floor(avg(col("zcr")) * lit(1e4) + lit(0.5)).as("avg_zcr"))
        .withColumn("voiced_fraction",
          floor(col("n_voiced").cast("double") / col("n_frames") * lit(1e4)
            + lit(0.5)))
        .orderBy(col("media_id"))
    }),

    // Weighted, dangling-aware PageRank (10 damped power iterations)
    // over a 20→25-node modular link graph derived from doc ids —
    // the crawl-prioritization / domain-authority signal. Fully
    // oracled: DuckDB unrolls the identical 10 iterations (generated
    // from one template), so every join/aggregate of the message-
    // passing loop is hash-verified; an independent Scala reference +
    // mass-conservation law pinned in LinkGraphSpec.
    "q109_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      val edges = docs.select(
        (col("doc_id") % 20).as("src"),
        ((col("doc_id") * 7 + 3) % 25).as("dst"))
      val run = graft.ext.LinkGraph
        .pageRankRun(edges, "src", "dst", damping = 0.85, iterations = 10)
      // l1_residual: Σ|r₁₀ − r₉| — convergence evidence riding the row
      // (rounded to 6 like the ranks, so summation order can't bit-flip
      // the hash; DuckDB unrolls pr9 AND pr10 and differences them)
      run.ranks
        .select(col("node"), round(col("rank"), 6).as("pagerank"),
          round(lit(run.l1Residual), 6).as("l1_residual"))
        .orderBy(col("node"))
    }),

    // PDF text extraction: the corpus round-tripped through real PDF
    // bytes — 20 multi-page files (classic xref, FlateDecode content
    // streams, byte-exact offsets), parsed back by the xref-driven
    // object walk. Pages carry nested-paren escapes and a kerned TJ
    // salt, so Tj/TJ/escape/Flate handling is all on the hash path.
    // Fully oracled: extracted text is a closed-form function of the
    // input (round-trip identity + the documented salt), so DuckDB
    // computes the expected md5 directly from `documents`.
    "q110_pdf_extract" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      val files = graft.ext.Pdf.textFixture(docs, "doc_id", "text", numFiles = 20)
      graft.ext.Pdf.parsePages(files, "file_id", "payload").toDF()
        .where(col("refused").isNull)
        .select(
          regexp_extract(col("text"), "^doc ([0-9]+)\n", 1).cast("long").as("doc_id"),
          col("n_pages"), col("page"),
          octet_length(col("text")).cast("long").as("text_octets"),
          md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // URL canonicalization: a per-doc zoo of aliasing spellings
    // (case, default ports, userinfo, trailing host dot, duplicate
    // slashes, dot segments, tracking params, unsorted params,
    // fragments, one non-http scheme) collapsed to canonical form.
    // Fully oracled — the DuckDB chain is GENERATED from the same
    // step table (Urls.canonicalUrlSql), the q102 single-source
    // pattern.
    "q111_canonical_url" -> ((s, dir) => {
      val u = frontierUrl(col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), u.as("url"),
          graft.ext.Urls.canonicalUrl(u).as("canonical_url"))
        .orderBy(col("doc_id"))
    }),

    // The canonical key doing its production job: Bloom-gated frontier
    // admission KEYED ON canonicalUrl — spellings that alias the same
    // resource now hit the same filter bit-slice, so a re-crawl with
    // shuffled params/tracking junk drops at the gate. Same exact
    // anti-join semantics as q103 (fpp-independent), fully oracled.
    "q112_frontier_admission" -> ((s, dir) => {
      val frontier = t(s, dir, "documents")
        .select(col("doc_id"),
          graft.ext.Urls.canonicalUrl(frontierUrl(col("doc_id"))).as("__u"))
        .where(col("__u").isNotNull)
      val seen = frontier.where(col("doc_id") % 3 === 0)
        .select(col("__u")).distinct()
      graft.ext.BloomGate.bloomedAntiJoin(frontier, "__u", seen, "__u", fpp = 0.01)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Product-quantization encode: 64-dim float32 → 8 one-byte codes
    // (32× compression), encoding 8×64 codegen sqdist probes in the
    // scan projection. Fully oracled since round 16 via Pq.fitPinned
    // (the q34 treatment applied to PQ): one md5-keyed sample, eight
    // per-subspace pinned Lloyd fits, so DuckDB unrolls the codebook
    // FIT (all five iterations across all eight subspaces in one
    // composite-key chain) and re-derives every code byte and
    // reconstruction norm. The RNG-seeded shared pqModel stays in
    // place for q114/q117/q126/q127/q181, whose value-independent
    // floors/identities bound it; PqSpec keeps the geometry floors.
    "q113_pq_encode" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = pqModelPinned(s, dir)
      // codes are emitted as a comma-joined string, not array<int>: the
      // driver compare sorts column values in pandas, and numpy arrays
      // are unhashable/unorderable there (r13 lost this row to exactly
      // that). The array-typed encode path stays covered by PqSpec.
      emb.select(col("vec_id"),
          graft.ext.Pq.encode(col("embedding"), model).as("codes"))
        .select(col("vec_id"),
          concat_ws(",", col("codes").cast("array<string>")).as("codes"),
          // ADC to the zero vector = ‖reconstruction‖ — a readable
          // per-row sanity magnitude riding the same lookup path;
          // hashed as micro-units (IEEE-pinned; see q87)
          floor(sqrt(graft.ext.Pq.adcDistance(col("codes"),
            Seq.fill(model.dim)(0.0), model)) * lit(1e6) + lit(0.5))
            .as("recon_norm"))
        .orderBy(col("vec_id"))
    }),

    // PQ retrieval quality: pure-ADC top-10 recall AND the production
    // two-stage number — ADC shortlist of 50, exact re-rank, top-10 —
    // both against the exact L2 top-10 (the q45/q46/q64 estimator-
    // quality pattern). The corpus's near-uniform geometry (top-10
    // gaps ≈ quantization distortion; q45's LSH scores 0.2 here too)
    // caps pure ADC; the re-rank claim is the honest production
    // metric, carried as oracled booleans (rerank ⊇ adc hits is a
    // theorem of shortlist containment — asserted, not assumed).
    "q114_pq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = pqModel(s, dir)
      // O(1) driver fetch: the single query vector (the SimilaritySearch
      // width-probe class of collect)
      val query = emb.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val rest = emb.where(col("vec_id") =!= 0)
      val exactDist = org.apache.spark.sql.graft.VectorOps
        .sqdist(col("embedding"), typedLit(query))
      // Pin the encode ONCE (r22): both ADC passes (top-10 and the
      // shortlist-50) consume it — unpinned, the m×k sqdist projection
      // runs AND plans twice inside one combined tree (the PQ family's
      // wall is driver planning over these 512-probe trees, profiled).
      // Spread first: the codes come off a single-row-group scan
      // (r21 parallelism repair; no-op at real widths).
      val encoded = graft.ext.Par.spread(rest, col("vec_id"))
        .select(col("vec_id"),
          graft.ext.Pq.encode(col("embedding"), model).as("codes"))
        .localCheckpoint()
      val pq10 = graft.ext.Pq.adcTopK(encoded, "vec_id", "codes", query, model, k = 10)
      val shortlist50 = graft.ext.Pq
        .adcTopK(encoded, "vec_id", "codes", query, model, k = 50)
        .select(col("vec_id"))
      val rerank10 = rest.join(shortlist50, Seq("vec_id"), "left_semi")
        .select(col("vec_id"), exactDist.as("__d"))
        .orderBy(col("__d"), col("vec_id"))
        .limit(10)
      val exact10 = rest
        .select(col("vec_id"), exactDist.as("__d"))
        .orderBy(col("__d"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"))
        // 10 rows; consumed by BOTH recall branches — unpinned, the
        // full exact scan subtree is duplicated into the final plan
        .localCheckpoint()
      val adcHits = pq10.join(exact10, Seq("vec_id"), "left_semi")
        .agg((count(lit(1)).cast("double") / 10.0).as("__adc"))
      val rerankHits = rerank10.join(exact10, Seq("vec_id"), "left_semi")
        .agg((count(lit(1)).cast("double") / 10.0).as("__rr"))
      // Bound-carrying output: config literals plus the two claims the
      // row exists to make — the two-stage number clears a floor and
      // re-ranking never loses to pure ADC. The floor is SCALE-ROBUST
      // (r19): recall@10 is a single 10-trial observation, so its
      // spread is the binomial σ = √(p(1−p)/10) ≈ 0.15 REGARDLESS of
      // corpus size (a 1/√corpus widening would be the wrong law);
      // three-way probe measured 0.6 / 0.9 / 0.5 at sf0.001/0.01/0.1,
      // and the floor sits 2σ under the 0.7 operating point: 0.4.
      // Raw recall magnitudes stay on PqSpec's clustered fixture
      // where the geometry separates.
      adcHits.crossJoin(rerankHits)
        .select(lit(model.m).as("m"), lit(model.k).as("k"),
          lit(model.dim).as("dim"),
          (col("__rr") >= 0.4).as("rerank_floor_met"),
          (col("__rr") >= col("__adc")).as("rerank_ge_adc"))
    }),

    // Gzipped WARC ingest (.warc.gz, one gzip member per record — the
    // Common-Crawl container layout): the q101 corpus round-tripped
    // through member-wise gzip compression AND the same length-driven
    // record walk. Shares q101's oracle verbatim — the decompressed
    // byte stream must be identical, so body md5s hash-match the
    // plain-path expectation end-to-end.
    "q115_warc_gzip" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      val salted = docs.select(
        col("doc_id"),
        concat(lit("https://crawl.example.org/doc/"), col("doc_id").cast("string")).as("__uri"),
        concat(col("text"), lit("\nWARC/1.1 inner decoy")).as("__body"))
      val files = graft.ext.Warc.responseFixtureGzip(salted, "doc_id", "__uri", "__body", numFiles = 20)
      graft.ext.Warc.parseGzipRecords(files, "file_id", "payload").toDF()
        .where(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1).cast("long").as("doc_id"),
          col("target_uri"),
          col("http_status"),
          col("http_content_type"),
          col("n_http_headers"),
          octet_length(col("body")).cast("long").as("body_octets"),
          md5(col("body")).as("body_md5"))
        .orderBy(col("doc_id"))
    }),

    // Unicode NFC normalization (native codegen expression): every doc
    // salted with an NFD sequence (e + combining acute), a combining-
    // tilde n, and an already-NFC é that must pass through — the
    // canonicalization every dedup fingerprint needs before hashing.
    // Fully oracled: DuckDB's nfc_normalize is an independent
    // implementation of the same Unicode tables. (NFKC — ligature/
    // fullwidth folding — has no DuckDB twin; it is spec-pinned in
    // UnicodeNormalizeSpec and exposed via the same SQL registry.)
    "q116_unicode_nfc" -> ((s, dir) => {
      val salted = concat(col("text"), lit(q116Salt))
      val nfc = org.apache.spark.sql.graft.UnicodeNormalize.nfc(salted)
      t(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          length(salted).cast("long").as("raw_chars"),
          length(nfc).cast("long").as("nfc_chars"),
          (length(salted) - length(nfc)).cast("long").as("chars_folded"),
          md5(nfc).as("nfc_md5"))
        .orderBy(col("doc_id"))
    }),

    // IVF-PQ composition: coarse cells prune the scan, PQ codes shrink
    // what's scanned — the standard billion-vector ANN layout. One row:
    // recall@10 of the composed path vs exact L2, next to the pure-ADC
    // (q114) number the probe-pruning cost can be read against.
    // Oracled since round 16 via the q114 pattern (sampled kmeans has
    // no SQL twin): config literals hashed, the recall measured into
    // range/floor booleans (measured 0.4 vs the 0.2 floor pin);
    // in-cluster floor stays in PqSpec.
    "q117_ivfpq_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = pqModel(s, dir)
      val coarse = SimilaritySearch.learnCentroids(emb, "embedding", k = 16)
      val query = emb.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val rest = emb.where(col("vec_id") =!= 0)
      val ivfpq10 = graft.ext.Pq.ivfPqTopK(rest, "vec_id", "embedding",
        query, k = 10, coarseCentroids = coarse, model = model, nProbe = 4)
        .select(col("vec_id"))
      val exact10 = rest
        .select(col("vec_id"),
          org.apache.spark.sql.graft.VectorOps
            .sqdist(col("embedding"), typedLit(query)).as("__d"))
        .orderBy(col("__d"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"))
      ivfpq10.join(exact10, Seq("vec_id"), "left_semi")
        .agg((count(lit(1)).cast("double") / 10.0).as("__r"))
        .select(lit(model.m).as("m"), lit(model.k).as("k"),
          lit(16).as("coarse_cells"), lit(4).as("n_probe"),
          (col("__r") >= 0.0 && col("__r") <= 1.0).as("recall_in_01"),
          (col("__r") >= 0.2).as("recall_floor_met"))
    }),

    // robots.txt crawl-politeness gate: five per-host robots files
    // (wildcard group, exact-agent override, stacked groups, a
    // no-matching-group host, an absent-robots host) against a
    // six-path URL zoo — REP longest-match semantics, Allow beats
    // Disallow on ties, exact-agent group replaces * entirely. Fully
    // oracled: the rules table and the argmax are both plain SQL.
    "q118_robots_gate" -> ((s, dir) => {
      import s.implicits._
      val robots = RobotsFixture.toSeq.toDF("host", "text")
      val rules = graft.ext.Robots.parseRules(robots, "host", "text").toDF()
      val urls = t(s, dir, "documents")
        .select(col("doc_id"), robotsUrl(col("doc_id")).as("url"))
      graft.ext.Robots.allowed(urls, "url", rules, agent = "graftbot")
        .orderBy(col("doc_id"))
    }),

    // Politeness scheduling over the admitted frontier: q118's allowed
    // URLs (deduped — a frontier is keyed by URL), same-host fetches
    // spaced by the host's crawl-delay (h2 declares 2 s; others take
    // the 1 s default). Fully oracled: the q118 chain + one window.
    "q119_crawl_schedule" -> ((s, dir) => {
      import s.implicits._
      val robots = RobotsFixture.toSeq.toDF("host", "text")
      val rules = graft.ext.Robots.parseRules(robots, "host", "text").toDF()
      val delays = graft.ext.Robots.parseDelays(robots, "host", "text").toDF()
      val urls = t(s, dir, "documents")
        .select(col("doc_id"), robotsUrl(col("doc_id")).as("url"))
        .groupBy(col("url")).agg(min(col("doc_id")).as("first_doc_id"))
      val admitted = graft.ext.Robots
        .allowed(urls, "url", rules, agent = "graftbot")
        .where(col("allowed")).drop("allowed")
      graft.ext.Robots
        .schedule(admitted, "url", delays, agent = "graftbot", defaultDelaySec = 1.0)
        .select(col("url"), col("first_doc_id"), col("fetch_offset_sec"))
        .orderBy(col("url"))
    }),

    // Sitemap ingest: per-site <urlset> XML assembled from the corpus
    // (CDATA-wrapped locs on id%5==0 — whose &amp; stays LITERAL, per
    // the XML spec — &amp; entities decoded in every other query
    // string, optional changefreq) and exploded back to entries — the
    // frontier's second input stream beside discovered links. Fully
    // oracled: every extracted field is a closed-form function of
    // doc_id, so DuckDB computes the expectation directly.
    "q120_sitemap_parse" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val id = col("doc_id")
      val locRaw = concat(lit("https://s"), pmod(id, lit(10)).cast("string"),
        lit(".example.com/p?a="), id.cast("string"), lit("&amp;b=1"))
      val loc = when(pmod(id, lit(5)) === 0,
          concat(lit("<![CDATA["), locRaw, lit("]]>"))).otherwise(locRaw)
      val entry = concat(
        lit("<url>\n  <loc>"), loc, lit("</loc>\n  <lastmod>2026-0"),
        (pmod(id, lit(9)) + 1).cast("string"), lit("-01</lastmod>"),
        when(pmod(id, lit(2)) === 0, lit("\n  <changefreq>daily</changefreq>"))
          .otherwise(lit("")),
        lit("\n  <priority>0."), pmod(id, lit(10)).cast("string"),
        lit("</priority>\n</url>"))
      val sitemaps = docs
        .groupBy(pmod(id, lit(10)).as("site"))
        .agg(concat(
          lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
          concat_ws("\n", collect_list(entry)),
          lit("\n</urlset>")).as("xml"))
      graft.ext.Sitemap.urlEntries(sitemaps, "xml")
        .select(
          regexp_extract(col("loc"), "a=([0-9]+)&", 1).cast("long").as("doc_id"),
          col("loc"), col("lastmod"), col("changefreq"), col("priority"))
        .orderBy(col("doc_id"))
    }),

    // The composed crawl frontier, end-to-end: sitemap ingest →
    // URL canonicalization (uppercase hosts + utm junk collapse) →
    // robots politeness gate (s0–s4 disallow /p0, crawl-delay 2) →
    // Bloom-prefiltered already-crawled dedup → per-host fetch
    // scheduling. Every stage is an already-oracled operator; this row
    // proves the COMPOSITION hash-exactly (the output offsets depend
    // on every stage having admitted exactly the right URL set).
    "q121_frontier_pipeline" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val id = col("doc_id")
      val rawLoc = concat(lit("https://S"), pmod(id, lit(10)).cast("string"),
        lit(".Example.com/p"), pmod(id, lit(4)).cast("string"),
        lit("?a="), id.cast("string"), lit("&amp;b=1&amp;utm_source=map"))
      val entry = concat(lit("<url><loc>"), rawLoc, lit("</loc></url>"))
      val sitemaps = docs.groupBy(pmod(id, lit(10)).as("site"))
        .agg(concat(lit("<urlset>\n"), concat_ws("\n", collect_list(entry)),
          lit("\n</urlset>")).as("xml"))
      val canon = graft.ext.Sitemap.urlEntries(sitemaps, "xml")
        .select(graft.ext.Urls.canonicalUrl(col("loc")).as("url"))
        .where(col("url").isNotNull).distinct()
      val robots = FrontierRobotsFixture.toSeq.toDF("host", "text")
      val rules = graft.ext.Robots.parseRules(robots, "host", "text").toDF()
      val delays = graft.ext.Robots.parseDelays(robots, "host", "text").toDF()
      val admitted = graft.ext.Robots
        .allowed(canon, "url", rules, agent = "graftbot")
        .where(col("allowed")).drop("allowed")
      // already-crawled set: the canonical URLs of every doc_id%3==0 row
      val seen = docs.where(id % 3 === 0)
        .select(graft.ext.Urls.canonicalUrl(
          regexp_replace(rawLoc, "&amp;", "&")).as("url"))
        .where(col("url").isNotNull).distinct()
      val fresh = graft.ext.BloomGate
        .bloomedAntiJoin(admitted, "url", seen, "url", fpp = 0.01)
      graft.ext.Robots
        .schedule(fresh, "url", delays, agent = "graftbot", defaultDelaySec = 1.0)
        .orderBy(col("url"))
    }),

    // Compression-ratio quality signal (Gopher-style): DEFLATE bytes /
    // UTF-8 bytes per document, with a repetition salt on id%7==0 rows
    // so the artifact shows the signal separating (salted rows compress
    // visibly better than their unsalted selves). Oracled since round
    // 16 as a bound-carrying row (DuckDB has no deflate): the hashed
    // columns are the SQL-derivable byte counts plus three booleans
    // the run measures for real — the zlib stored-block ceiling
    // (deflate can never exceed raw + 5 B/64 KiB block + header), the
    // positive-size floor, and the separation claim itself (a salted
    // row's ratio must beat the SAME text unsalted). Raw deflate sizes
    // and orderings stay pinned in DeflateSpec (zlib level 6 is
    // deterministic across JVMs).
    "q122_compression_signal" -> ((s, dir) => {
      val saltedFlag = pmod(col("doc_id"), lit(7)) === 0
      val salted = when(saltedFlag,
          concat(col("text"), lit(" the same phrase again and"),
            // 20 exact repeats: unambiguous compressibility
            concat_ws("", (1 to 20).map(_ => lit(" the same phrase again and")): _*)))
        .otherwise(col("text"))
      val deflate = org.apache.spark.sql.graft.DeflateSize(salted)
      val octets = octet_length(salted).cast("long")
      t(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          octets.as("octets"),
          saltedFlag.as("salted"),
          (deflate <= octets + ceil(octets / lit(65535.0)) * 5 + lit(11L))
            .as("within_stored_bound"),
          (deflate > 0).as("deflate_positive"),
          when(saltedFlag,
            TextAnalysis.compressionRatio(salted) <
              TextAnalysis.compressionRatio(col("text")))
            .as("salt_improves_ratio"))
        .orderBy(col("doc_id"))
    }),

    // Sitemap DISCOVERY, the full nesting: robots `Sitemap:` directive
    // → <sitemapindex> → child <urlset> → entries. Only EVEN sites
    // advertise their index in robots.txt, so the admitted doc set is
    // exactly the even-site half — un-advertised maps exist but are
    // never reached (the thing discovery semantics have to get right).
    // Fully oracled: site/chunk/loc are closed-form in doc_id.
    "q123_sitemap_discovery" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val id = col("doc_id")
      val site = pmod(id, lit(10))
      val chunk = pmod(floor(id / lit(10)), lit(3))
      val entry = concat(lit("<url><loc>https://s"), site.cast("string"),
        lit(".example.com/p?a="), id.cast("string"), lit("</loc></url>"))
      // one child sitemap per (site, chunk)
      val children = docs
        .groupBy(site.as("site"), chunk.as("chunk"))
        .agg(concat(lit("<urlset>\n"), concat_ws("\n", collect_list(entry)),
          lit("\n</urlset>")).as("xml"))
        .withColumn("child_url", concat(lit("https://s"), col("site").cast("string"),
          lit(".example.com/maps/c"), col("chunk").cast("string"), lit(".xml")))
      // one <sitemapindex> per site, pointing at its children
      val index = children
        .groupBy(col("site"))
        .agg(concat(lit("<sitemapindex>\n"),
          concat_ws("\n", sort_array(collect_list(
            concat(lit("<sitemap><loc>"), col("child_url"), lit("</loc></sitemap>"))))),
          lit("\n</sitemapindex>")).as("xml"))
        .withColumn("index_url", concat(lit("https://s"), col("site").cast("string"),
          lit(".example.com/sitemap_index.xml")))
      // robots.txt advertises the index — even sites only; mixed-case
      // field name + comment line exercise the directive scan
      val robots = index.where(pmod(col("site"), lit(2)) === 0)
        .select(concat(lit("s"), col("site").cast("string"), lit(".example.com")).as("host"),
          concat(lit("User-agent: *\nDisallow: /private/\n# discovery\nSiteMap: "),
            col("index_url")).as("text"))
      val advertised = graft.ext.Robots.sitemapDirectives(robots, "host", "text")
      val discoveredIdx = index.join(broadcast(advertised),
        index("index_url") === advertised("sitemap_url"), "left_semi")
      val childPtrs = graft.ext.Sitemap.indexEntries(
        discoveredIdx.select(col("xml")), "xml")
      val discoveredChildren = children.join(
        broadcast(childPtrs.select(col("loc").as("__ptr"))),
        col("child_url") === col("__ptr"), "left_semi")
      graft.ext.Sitemap.urlEntries(
          discoveredChildren.select(col("site"), col("chunk"), col("xml")), "xml")
        .select(
          regexp_extract(col("loc"), "a=([0-9]+)$", 1).cast("long").as("doc_id"),
          col("site").cast("long").as("site"),
          col("chunk").cast("long").as("chunk"),
          col("loc"))
        .orderBy(col("doc_id"))
    }),

    // q121's frontier with DISCOVERY as the map source: only hosts
    // whose robots.txt advertises a sitemap contribute URLs (s0–s4
    // here — s5–s9 publish no robots, so their maps are never fetched),
    // then the same canonicalize → robots gate → Bloom dedup →
    // schedule chain. Oracled end-to-end like q121; the admitted set
    // differs from q121 exactly by the un-discovered half.
    "q124_frontier_discovered" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val id = col("doc_id")
      val rawLoc = concat(lit("https://S"), pmod(id, lit(10)).cast("string"),
        lit(".Example.com/p"), pmod(id, lit(4)).cast("string"),
        lit("?a="), id.cast("string"), lit("&amp;b=1&amp;utm_source=map"))
      val entry = concat(lit("<url><loc>"), rawLoc, lit("</loc></url>"))
      val sitemaps = docs.groupBy(pmod(id, lit(10)).as("site"))
        .agg(concat(lit("<urlset>\n"), concat_ws("\n", collect_list(entry)),
          lit("\n</urlset>")).as("xml"))
        .withColumn("map_url", concat(lit("https://s"), col("site").cast("string"),
          lit(".example.com/sitemap.xml")))
      val robots = FrontierRobotsDiscoveryFixture.toSeq.toDF("host", "text")
      val advertised = graft.ext.Robots.sitemapDirectives(robots, "host", "text")
      val discovered = sitemaps.join(broadcast(advertised),
        sitemaps("map_url") === advertised("sitemap_url"), "left_semi")
      val canon = graft.ext.Sitemap.urlEntries(discovered, "xml")
        .select(graft.ext.Urls.canonicalUrl(col("loc")).as("url"))
        .where(col("url").isNotNull).distinct()
      val rules = graft.ext.Robots.parseRules(robots, "host", "text").toDF()
      val delays = graft.ext.Robots.parseDelays(robots, "host", "text").toDF()
      val admitted = graft.ext.Robots
        .allowed(canon, "url", rules, agent = "graftbot")
        .where(col("allowed")).drop("allowed")
      val seen = docs.where(id % 3 === 0)
        .select(graft.ext.Urls.canonicalUrl(
          regexp_replace(rawLoc, "&amp;", "&")).as("url"))
        .where(col("url").isNotNull).distinct()
      val fresh = graft.ext.BloomGate
        .bloomedAntiJoin(admitted, "url", seen, "url", fpp = 0.01)
      graft.ext.Robots
        .schedule(fresh, "url", delays, agent = "graftbot", defaultDelaySec = 1.0)
        .orderBy(col("url"))
    }),

    // q121's frontier ADMISSION as a stream: sitemap XMLs arrive as
    // micro-batches (file source, AvailableNow, ≤3 files per trigger;
    // every sitemap is written TWICE with different file splits so the
    // same URL recurs across batches), each batch runs canonicalize →
    // robots gate → Bloom-prefiltered anti-join against crawled ∪
    // everything ADMITTED IN EARLIER BATCHES, and appends its survivors
    // to the admitted store. Scheduling runs once over the accumulated
    // frontier after replay. Streaming ≡ batch: the oracle is q121's
    // own closed form — the hash only matches if cross-batch dedup
    // admitted exactly the batch pipeline's URL set.
    "q125_frontier_streaming" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.Trigger
      val docs = t(s, dir, "documents")
      val id = col("doc_id")
      val rawLoc = concat(lit("https://S"), pmod(id, lit(10)).cast("string"),
        lit(".Example.com/p"), pmod(id, lit(4)).cast("string"),
        lit("?a="), id.cast("string"), lit("&amp;b=1&amp;utm_source=map"))
      val entry = concat(lit("<url><loc>"), rawLoc, lit("</loc></url>"))
      val sitemaps = docs.groupBy(pmod(id, lit(10)).as("site"))
        .agg(concat(lit("<urlset>\n"), concat_ws("\n", collect_list(entry)),
          lit("\n</urlset>")).as("xml"))
        .localCheckpoint() // written twice below; never recomputed
      val robots = FrontierRobotsFixture.toSeq.toDF("host", "text")
      val rules = graft.ext.Robots.parseRules(robots, "host", "text").toDF()
        .localCheckpoint() // consumed once per micro-batch
      val delays = graft.ext.Robots.parseDelays(robots, "host", "text").toDF()
      val seen = docs.where(id % 3 === 0)
        .select(graft.ext.Urls.canonicalUrl(
          regexp_replace(rawLoc, "&amp;", "&")).as("url"))
        .where(col("url").isNotNull).distinct()
        .localCheckpoint() // consumed once per micro-batch
      val base = java.nio.file.Files.createTempDirectory("graft-q125").toString
      try {
        // the SAME sitemap set twice, split across different file
        // counts: duplicate URLs land in different micro-batches
        sitemaps.select(col("xml")).repartition(5)
          .write.mode("append").text(s"$base/in")
        sitemaps.select(col("xml")).repartition(7)
          .write.mode("append").text(s"$base/in")
        val admittedDir = s"$base/admitted"
        val fs = new org.apache.hadoop.fs.Path(admittedDir)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val stream = s.readStream
          .option("wholetext", "true").option("maxFilesPerTrigger", "3")
          .text(s"$base/in")
        val q = stream.writeStream
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val canon = graft.ext.Sitemap.urlEntries(batch, "value")
              .select(graft.ext.Urls.canonicalUrl(col("loc")).as("url"))
              .where(col("url").isNotNull).distinct()
            val admitted = graft.ext.Robots
              .allowed(canon, "url", rules, agent = "graftbot")
              .where(col("allowed")).drop("allowed")
            val seenSoFar =
              if (fs.exists(new org.apache.hadoop.fs.Path(admittedDir)))
                seen.unionByName(ParquetRead.read(s, admittedDir))
              else seen
            val fresh = graft.ext.BloomGate
              .bloomedAntiJoin(admitted, "url", seenSoFar, "url", fpp = 0.01)
            if (!fresh.isEmpty)
              fresh.write.mode("append").parquet(admittedDir)
          }
          .start()
        if (!q.awaitTermination(600000L)) {
          q.stop()
          throw new IllegalStateException(
            "q125 streaming replay did not terminate within 600s")
        }
        graft.ext.Robots
          .schedule(ParquetRead.read(s, admittedDir), "url", delays,
            agent = "graftbot", defaultDelaySec = 1.0)
          .orderBy(col("url"))
          .localCheckpoint() // materialize before the temp dirs vanish
      } finally {
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true): Unit
      }
    }),

    // Persisted IVF-PQ (the on-disk billion-vector layout): codes
    // partitioned by coarse cell + codebooks/centroids in a meta
    // table, then the SAME query answered from disk and from memory.
    // The row is a round-trip IDENTITY check (the q83 pattern): same
    // neighbors, same ADC distances to the last bit — deterministic
    // constants of the frozen-model contract, so the whole row is
    // oracled closed-form (kmeans isn't SQL, but the identity claim
    // doesn't depend on what kmeans learned); PqSpec twins this on the
    // clustered fixture.
    "q126_ivfpq_index" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = pqModel(s, dir)
      val coarse = SimilaritySearch.learnCentroids(emb, "embedding", k = 16)
      val query = emb.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val rest = emb.where(col("vec_id") =!= 0)
      val path = java.nio.file.Files
        .createTempDirectory("graft_ivfpq_index").toString
      try {
        graft.ext.Pq.writeIvfPqIndex(rest, "vec_id", "embedding",
          coarse, model, path)
        val fromIndex = graft.ext.Pq
          .ivfPqTopKFromIndex(s, path, "vec_id", query, k = 10, nProbe = 4)
          .withColumnRenamed("adc_dist", "adc_disk")
        val inMem = graft.ext.Pq.ivfPqTopK(rest, "vec_id", "embedding",
          query, k = 10, coarseCentroids = coarse, model = model, nProbe = 4)
        fromIndex.join(inMem, Seq("vec_id"))
          .agg((count(lit(1)).cast("double") / 10.0).as("identity_at_10"),
            max(abs(col("adc_disk") - col("adc_dist"))).as("max_adc_dev"))
          .select(lit(model.m).as("m"), lit(model.k).as("k"),
            lit(16).as("coarse_cells"), lit(4).as("n_probe"),
            col("identity_at_10"), col("max_adc_dev"))
          .localCheckpoint() // materialize before the temp index vanishes
      } finally {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true): Unit
      }
    }),

    // Residual PQ (IVFADC, Jégou et al. §IV) vs direct PQ, side by
    // side against the exact L2 top-10 — the production construction:
    // codes spend their resolution on `x − c_cell` instead of x, with
    // a per-probed-cell query LUT. On this near-uniform corpus the two
    // paths land close; the clustered PqSpec fixture pins residual ≥
    // direct where the geometry separates. Oracled since round 16 via
    // the q114 pattern: config literals hashed, both recalls measured
    // into range/floor booleans (0.4 / 0.3 vs 0.2 / 0.1 pins).
    "q127_pq_residual_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = pqModel(s, dir)
      val coarse = SimilaritySearch.learnCentroids(emb, "embedding", k = 16)
      val rmodel = graft.ext.Pq.fitResidual(emb, "embedding", coarse,
        dim = 64, m = 8, k = 64)
      val query = emb.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val rest = emb.where(col("vec_id") =!= 0)
      val exact10 = rest
        .select(col("vec_id"),
          org.apache.spark.sql.graft.VectorOps
            .sqdist(col("embedding"), typedLit(query)).as("__d"))
        .orderBy(col("__d"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"))
        .localCheckpoint() // consumed by BOTH recall branches
      val direct10 = graft.ext.Pq.ivfPqTopK(rest, "vec_id", "embedding",
        query, k = 10, coarseCentroids = coarse, model = model, nProbe = 4)
        .select(col("vec_id"))
      val resid10 = graft.ext.Pq.ivfPqResidualTopK(rest, "vec_id", "embedding",
        query, k = 10, coarseCentroids = coarse, model = rmodel, nProbe = 4)
        .select(col("vec_id"))
      val d = direct10.join(exact10, Seq("vec_id"), "left_semi")
        .agg((count(lit(1)).cast("double") / 10.0).as("direct_recall_at_10"))
      val r = resid10.join(exact10, Seq("vec_id"), "left_semi")
        .agg((count(lit(1)).cast("double") / 10.0).as("residual_recall_at_10"))
      d.crossJoin(r)
        .select(lit(model.m).as("m"), lit(model.k).as("k"),
          lit(16).as("coarse_cells"), lit(4).as("n_probe"),
          (col("direct_recall_at_10") >= 0.0 &&
            col("direct_recall_at_10") <= 1.0 &&
            col("residual_recall_at_10") >= 0.0 &&
            col("residual_recall_at_10") <= 1.0).as("recalls_in_01"),
          (col("direct_recall_at_10") >= 0.2).as("direct_floor_met"),
          (col("residual_recall_at_10") >= 0.1).as("residual_floor_met"))
    }),

    // Decode-refusal accounting: a format zoo (one payload class per
    // doc_id%9 — six real decoders including progressive SOF2 JPEG,
    // an envelope-only MP4, and the deliberately-REFUSED MP3/H.264
    // stubs) audited through the same decoder chain q32 runs, then
    // counted per (kind, format, outcome). The refuse-path is
    // driver-visible and fully oracled: each slot's outcome is a
    // constant of the engine's honest-stub boundary, so DuckDB states
    // the expectation in closed form.
    "q128_decode_refusals" -> ((s, dir) => {
      import s.implicits._
      val zoo: Map[Int, (String, Array[Byte])] = Map(
        0 -> (("audio", MediaCodec.Fixtures.sineWav(440, 0.5))),
        1 -> (("image", MediaCodec.Fixtures.gradientBmp(16, 16))),
        2 -> (("image", MediaCodec.Fixtures.gradientPng(16, 10))),
        3 -> (("image", graft.ext.JpegCodec.Fixtures.gradientJpeg(24, 16, mode = "420"))),
        4 -> (("image", graft.ext.GifCodec.Fixtures.gradientGif(16, 10))),
        5 -> (("video", MediaCodec.Fixtures.minimalMp4(1000, 5000L))),
        6 -> (("audio", MediaCodec.Fixtures.mp3Frame())),
        7 -> (("video", MediaCodec.Fixtures.h264AnnexB())),
        8 -> (("image",
          graft.ext.JpegCodec.Fixtures.gradientJpegProgressive(24, 16, mode = "420"))))
      t(s, dir, "documents")
        .select(col("doc_id"), pmod(col("doc_id"), lit(9)).cast("int").as("__slot"))
        .as[(Long, Int)]
        .map { case (_, slot) =>
          val (kind, payload) = zoo(slot)
          val (format, outcome) = MediaCodec.decodeOutcome(payload)
          (kind, format, outcome)
        }
        .toDF("kind", "format", "outcome")
        .groupBy(col("kind"), col("format"), col("outcome"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("format"))
    }),

    // BM25 retrieval scoring (Okapi/Lucene idf) of the corpus against a
    // fixed bag-of-words query — the benchmark-decontamination /
    // lexical-search scorer. Query terms span the df spectrum plus one
    // absent term ("zebra": contributes nothing, pinning the
    // missing-term path). Fully oracled: DuckDB re-derives dl/avgdl/df
    // and the saturation formula; score rounded to 6dp on both sides.
    "q129_bm25" -> ((s, dir) => {
      TextAnalysis.bm25(t(s, dir, "documents"), "doc_id", "text",
          Seq("vector", "stream", "merge", "zebra"))
        .select(col("doc_id"), col("n_matched"), round(col("score"), 6).as("score"))
        .orderBy(col("doc_id"))
    }),

    // Exact unigram-Jaccard pairs at τ=0.8 via PREFIX FILTERING — the
    // scale path for EXACT set-similarity joins (q27's brute-force
    // inverted-index self-join is the oracle twin). Hash-matching q27's
    // closed form proves the rarest-first prefix index dropped no
    // qualifying pair while indexing only ~(1−τ)|d|+1 shingles per doc.
    "q130_prefix_jaccard" -> ((s, dir) => {
      Dedup.prefixJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 1, minJaccard = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // The prefix-filter join on a REALISTIC token profile (10k-word
    // Zipfian vocabulary, planted dup clusters) — the profile where
    // prefix filtering earns its keep: rare-first prefixes make posting
    // lists short, so candidates stay near-linear where the 50-word
    // documents fixture (q130) degenerates to all-pairs. Fully oracled
    // since round 17: the corpus persists to an oracle-visible parquet
    // fixture and DuckDB brute-forces exact unigram Jaccard on it —
    // hash-matching the brute force proves prefix filtering dropped no
    // qualifying pair on the realistic profile too. The jaccard sum is
    // hashed as per-pair micro-units summed in integers (each pair's
    // c/(na+nb−c) is one exact int division; floor ×1e6 then an exact
    // long sum has NO float-accumulation-order dependence, unlike
    // avg()).
    "q131_prefix_jaccard_realistic" -> ((s, dir) => {
      Dedup.prefixJaccardPairs(
          persistedRealistic(s, dir, "realistic_corpus.parquet"),
          "doc_id", "text", n = 1, minJaccard = 0.8)
        .agg(count(lit(1)).as("n_pairs"),
          sum(floor(col("jaccard") * lit(1e6) + lit(0.5))).as("sum_jaccard"),
          min(col("jaccard")).as("min_jaccard"))
    }),

    // Anchor-text aggregation: the link graph turned into per-target
    // labels. Salted pages cite each target twice under ALIASING
    // spellings (uppercase host + default :443 + tracking param vs the
    // plain form) with DIFFERENT anchor texts (nested <b>, &amp;
    // entity, a multiline anchor), plus a relative href that must not
    // aggregate. Canonicalization merges the spellings — n_anchors
    // counts both, top_anchor is the deterministic argmax. Fully
    // oracled (closed form in doc_id, q99/q128 pattern).
    "q132_anchor_agg" -> ((s, dir) => {
      val k = (col("doc_id") % 7).cast("string")
      val j = (col("doc_id") % 5).cast("string")
      val m = (col("doc_id") % 3).cast("string")
      val page = concat(
        lit("<p>pre</p><a href=\"https://T"), k,
        lit(".EXAMPLE.com:443/page?utm_source=x\">Visit "), m,
        lit("</a> <a href='https://t"), k,
        lit(".example.com/page'>Read <b>more</b> &amp; again "), m,
        lit("</a>\n<a href=\"https://m"), j,
        lit(".example.net/x\">line1\nline2 "), m,
        lit("</a> <a href=\"/about\">about</a>"))
      TextPipeline.anchorTextSummary(
          t(s, dir, "documents").select(col("doc_id"), page.as("__html")),
          "doc_id", "__html")
        .orderBy(col("target"))
    }),

    // HITS hubs/authorities on the q109 link fixture — the crawl
    // companion to PageRank (hubs seed crawls, authorities rank
    // content). Fully oracled: DuckDB unrolls all 10 power iterations
    // (both half-steps + L2 norms) and differences the last two
    // authority vectors for the residual, exactly like q109.
    "q133_hits" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      val edges = docs.select(
        (col("doc_id") % 20).as("src"),
        ((col("doc_id") * 7 + 3) % 25).as("dst"))
      val run = graft.ext.LinkGraph.hitsRun(edges, "src", "dst", iterations = 10)
      run.scores
        .select(col("node"), round(col("auth"), 6).as("auth"),
          round(col("hub"), 6).as("hub"),
          round(lit(run.l1Residual), 6).as("l1_residual"))
        .orderBy(col("node"))
    }),

    // Z-order (Morton) codes over a synthetic 2-D key — the
    // multi-dimensional data-skipping layout's bit math, oracled from
    // the SAME generation loop that builds the Spark expression
    // (Layout.mortonCodeSql — single source of truth). The file-level
    // skipping effect (tight per-file bounding boxes on BOTH columns)
    // is pinned in LayoutSpec.
    "q134_zorder" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          graft.plans.Layout.mortonCode(
            col("doc_id") % 256, (col("doc_id") * 31 + 7) % 256, 8).as("zval"))
        .orderBy(col("doc_id"))
    }),

    // The link-graph capstone: real HTML pages → anchor extraction →
    // canonicalized targets → host-level 0/1 adjacency → PageRank.
    // Each page links its host to two others, one under an ALIASING
    // spelling (uppercase + :443 + tracking param) that only counts
    // because canonicalization lands it on the same host key; a
    // relative href must not become an edge. Fully oracled: the edge
    // set is closed-form in doc_id and the shared unrolled-PageRank
    // oracle (q109's) replays all 10 iterations — extraction,
    // canonicalization, host keying, AND the iteration math are all on
    // the hash path.
    "q135_linkgraph_pipeline" -> ((s, dir) => {
      val id = col("doc_id")
      val page = concat(
        lit("<a href=\"https://h"), pmod(id * 3 + 1, lit(8)).cast("string"),
        lit(".example.org/x\">next</a> <a href='https://H"),
        pmod(id * 5 + 2, lit(8)).cast("string"),
        lit(".EXAMPLE.org:443/y?utm_source=z'>other</a> "),
        lit("<a href=\"/self\">self</a>"))
      val pages = t(s, dir, "documents").select(id.as("doc_id"), page.as("__html"))
      val edges = TextPipeline.anchorPairs(pages, "doc_id", "__html")
        .where(col("href").rlike("(?i)^https?://"))
        .select(
          concat(lit("h"), pmod(col("doc_id"), lit(8)).cast("string"),
            lit(".example.org")).as("src"),
          regexp_extract(graft.ext.Urls.canonicalUrl(col("href")),
            "^https://([^/]+)/", 1).as("dst"))
        .where(col("dst") =!= "")
        .distinct()
      val run = graft.ext.LinkGraph
        .pageRankRun(edges, "src", "dst", damping = 0.85, iterations = 10)
      run.ranks
        .select(col("node"), round(col("rank"), 6).as("pagerank"),
          round(lit(run.l1Residual), 6).as("l1_residual"))
        .orderBy(col("node"))
    }),

    // Count-min-sketch heavy hitters: the one-pass bounded-memory
    // counting form that survives 100 TB, where q51's exact top-k hash
    // aggregates the full vocabulary. The sketch (Spark's mergeable
    // count_min_sketch aggregate, fixed seed 42 — deterministic hash
    // family) is probed for q51's exact top-10 tokens. Bound-carrying
    // row: CMS error is ONE-SIDED, so `overcount_nonneg` must hold on
    // every row, and the overcount stays under 4×eps×N (Markov over
    // depth-5 rows puts a deterministic-data failure far outside the
    // fixture's regime). Hashed columns are the exact count + the two
    // booleans — the oracle reproduces the row closed-form; raw
    // estimate magnitudes stay on SketchSpec's one-sided/eps/merge
    // properties.
    "q136_cms_heavy_hitters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(
          explode(split(TextAnalysis.normalize(col("text")), " ")).as("token"))
        .where(col("token") =!= "")
      // sketch + total in ONE aggregation pass — a separate count()
      // re-ran the scan+tokenize solely for the 4·eps·N bound
      val aggRow = toks
        .agg(count_min_sketch(col("token"), lit(0.0001), lit(0.99), lit(42)),
          count(lit(1)))
        .head()
      val sketchBytes = aggRow.getAs[Array[Byte]](0)
      val nTokens = aggRow.getLong(1)
      val cms = org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(sketchBytes))
      import s.implicits._
      val top = TextAnalysis.topTokens(docs, "text", 10)
        .as[(String, Long)].collect()
      val bound = 4.0 * 0.0001 * nTokens
      top.map { case (tok, exact) =>
        val est = cms.estimateCount(tok)
        (tok, exact, est >= exact, (est - exact).toDouble <= bound)
      }.toSeq.toDF("token", "exact_cnt", "overcount_nonneg", "within_eps")
        .orderBy(col("exact_cnt").desc, col("token"))
    }),

    // Warm-start (incremental) PageRank: after an edge delta, ranks
    // re-converge from the previous fixed point in a fraction of the
    // cold-start iterations — the crawl-refresh shape (at 10^10 pages
    // you never re-run 50 iterations from uniform). Both 2-iteration
    // runs execute on the SAME post-delta graph; the warm one must land
    // closer to the fixed point (smaller L1 residual). Fully oracled
    // since round 16: DuckDB unrolls all THREE phases — the 12-
    // iteration pre-delta fixed point, the mass-renormalized warm init
    // (new nodes at 1/n), and both 2-iteration runs — so the warm-
    // start machinery itself (init fill, renormalization, residuals)
    // is on the hash path, not just the plain iteration (q109/q135).
    // Warm-start dominance across deltas stays in LinkGraphSpec.
    "q137_pagerank_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      // quadratic dst: in-degree is SKEWED (quadratic residues), so the
      // fixed point is far from uniform — q109's linear fixture is
      // doubly-stochastic (uniform fixed point), where a warm start
      // equals a cold one by construction
      val base = docs.select(
        (col("doc_id") % 20).as("src"),
        ((col("doc_id") * col("doc_id") + 3) % 25).as("dst"))
      val delta = docs.where(col("doc_id") % 67 === 0).select(
        (col("doc_id") % 25).as("src"),
        ((col("doc_id") * 13 + 5) % 30).as("dst"))
      val after = base.unionByName(delta)
      val prev = graft.ext.LinkGraph
        .pageRankRun(base, "src", "dst", iterations = 12)
      val warm = graft.ext.LinkGraph
        .pageRankWarmRun(after, "src", "dst", prev.ranks, iterations = 2)
      val cold = graft.ext.LinkGraph
        .pageRankRun(after, "src", "dst", iterations = 2)
      import s.implicits._
      Seq((warm.l1Residual, cold.l1Residual,
          warm.l1Residual < cold.l1Residual))
        .toDF("warm_l1_residual", "cold_l1_residual", "warm_beats_cold")
        .select(
          // micro-units hash (IEEE-pinned; see q87)
          floor(col("warm_l1_residual") * lit(1e6) + lit(0.5))
            .as("warm_l1_residual"),
          floor(col("cold_l1_residual") * lit(1e6) + lit(0.5))
            .as("cold_l1_residual"),
          col("warm_beats_cold"))
    }),

    // Frequency-domain audio features: per-frame radix-2 FFT over real
    // PCM bytes — dominant frequency, spectral centroid, and peak-bin
    // magnitude share per tone. Each media id carries a PURE TONE at a
    // known frequency, so `peak_hz` must land within one bin of the
    // generator's frequency and `peak_mag_rel` near 1 — the artifact
    // itself exposes whether the FFT resolves the planted tones.
    // Fully oracled since round 16: DuckDB regenerates the quantized
    // samples and evaluates the NAIVE O(n²) DFT per (frame, bin); the
    // radix-2 FFT and the direct DFT agree to ~1e-10 relative (both
    // sum the same exact-integer inputs), far inside the 2dp/4dp
    // rounding, so hash equality proves the FFT against an
    // independent spelling of the transform.
    "q138_audio_spectra" -> ((s, dir) => {
      import s.implicits._
      val media = s.range(40).as[Long].map(id => Multimodal.MediaRow(
        id, "audio",
        graft.ext.MediaCodec.Fixtures.sineWav(
          freq = 500 + 125 * (id % 8).toInt, amp = 0.5, seconds = 0.25)))
      Multimodal.audioSpectralFeatures(media, frameMs = 64).toDF()
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
          // hashed in centi-Hz / 1e-4 units (floor half-up on the RAW
          // aggregate — no round(), no decimal cast; IEEE-pinned, see
          // q87's micro-units note)
          floor(avg(col("peak_hz")) * lit(1e2) + lit(0.5)).as("__aph"),
          floor(avg(col("centroid_hz")) * lit(1e2) + lit(0.5)).as("__ach"),
          floor(min(col("peak_mag_rel")) * lit(1e4) + lit(0.5)).as("__mps"))
        .withColumn("tone_hz", lit(500) + lit(125) * (col("media_id") % 8))
        .select(col("media_id"), col("n_frames"),
          col("__aph").as("avg_peak_hz"),
          col("__ach").as("avg_centroid_hz"),
          col("__mps").as("min_peak_share"),
          col("tone_hz"),
          // one-bin tolerance in centi-Hz: 16000/1024 Hz = 1562.5
          (abs(col("__aph") - col("tone_hz") * 100) <= lit(1562.5))
            .as("peak_within_bin"))
        .orderBy(col("media_id"))
    }),

    // RFC 9309 wildcard robots matching (`*` any-sequence, trailing
    // `$` end anchor, specificity = rule-text length): a 2-host × 6-
    // path zoo where every verdict depends on a wildcard semantic —
    // $-anchored PDF block with a longer $-anchored Allow carve-out,
    // mid-pattern * vs a longer literal Allow, and an anchored /tmp$
    // that must NOT block /tmp/x. Fully oracled (verdicts closed-form
    // per (host, path) slot, q128 style).
    "q139_robots_wildcards" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val host = concat(lit("w"), pmod(id, lit(2)).cast("string"),
        lit(".example.com"))
      val path = element_at(
        array(lit("/a.pdf"), lit("/pub/x.pdf"), lit("/pub/x.pdfz"),
          lit("/private1/x"), lit("/private-pub/x"), lit("/tmp")),
        (pmod(shiftright(id, 1), lit(6)) + 1).cast("int"))
      val urls = t(s, dir, "documents")
        .select(concat(lit("https://"), host, path).as("url"))
      val robots = WildcardRobotsFixture.toSeq.toDF("host", "text")
      val rules = graft.ext.Robots.parseRules(robots, "host", "text").toDF()
      graft.ext.Robots.allowedWildcards(urls, "url", rules, "graftbot")
        .groupBy(col("url"), col("allowed"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("url"))
    }),

    // Freshness-driven recrawl scheduling: parsed sitemap entries with
    // per-slot changefreq (daily/weekly/monthly/never/absent) and
    // month-varying lastmod, scored as staleness = age/period against
    // a fixed as-of date — the prioritization pass between sitemap
    // ingest (q120) and the fetch schedule (q119). Fully oracled: the
    // entry fields are closed-form in doc_id and DuckDB re-derives the
    // period table and date arithmetic.
    "q140_recrawl_priority" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val id = col("doc_id")
      val freq = element_at(
        array(lit("daily"), lit("weekly"), lit("monthly"), lit("never"),
          lit(null).cast("string")), // slot 4 → null (absent)
        (pmod(id, lit(5)) + 1).cast("int"))
      val entry = concat(
        lit("<url><loc>https://s"), pmod(id, lit(10)).cast("string"),
        lit(".example.com/p"), id.cast("string"), lit("</loc><lastmod>2026-0"),
        (pmod(id, lit(8)) + 1).cast("string"), lit("-15</lastmod>"),
        when(freq.isNotNull,
          concat(lit("<changefreq>"), freq, lit("</changefreq>")))
          .otherwise(lit("")),
        lit("</url>"))
      val sitemaps = docs.groupBy(pmod(id, lit(10)).as("site"))
        .agg(concat(lit("<urlset>"), concat_ws("", collect_list(entry)),
          lit("</urlset>")).as("xml"))
      graft.ext.Sitemap
        .recrawlPriority(
          graft.ext.Sitemap.urlEntries(sitemaps, "xml"), asOf = "2026-08-14")
        .select(
          regexp_extract(col("loc"), "/p([0-9]+)$", 1).cast("long").as("doc_id"),
          col("loc"), col("changefreq"),
          // +0.0 collapses IEEE -0.0 (a future lastmod over an infinite
          // period) to +0.0 — the oracle does the same, else the driver's
          // bit-exact float hash splits on the sign of zero
          (round(col("staleness"), 6) + lit(0.0)).as("staleness"), col("due"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic epoch shuffle: the reproducible pseudo-random
    // permutation a training run lays its shards in. md5 coordinate →
    // engine-independent, so DuckDB re-derives the EXACT order — the
    // first 20 rows of epoch "e1" are hash-verified end-to-end.
    "q141_epoch_shuffle" -> ((s, dir) => {
      Sampling.epochShuffle(t(s, dir, "documents"), "doc_id", "e1")
        .select(col("doc_id"), col("__shuffle_key").as("shuffle_key"))
        .limit(20)
    }),

    // Interpolated Kneser–Ney bigram perplexity — the smoothed LM
    // quality signal (the CCNet-gate construction) upgrading q77's MLE
    // model with absolute discounting + continuation mass. Fully
    // oracled: DuckDB re-derives all four model tables from the same
    // token stream.
    "q142_kn_bigram" -> ((s, dir) =>
      TextAnalysis.knBigramXent(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Skew-salted join: half the corpus lands on one foreign key (the
    // hot-domain shape), the salt spreads it across 32 reducer buckets,
    // and the merge hint keeps the demonstration on the shuffled path a
    // broadcast would short-circuit. Fully oracled: the salted join's
    // output is EXACTLY the plain join's (salt-independence is the
    // operator's correctness contract), so DuckDB runs the plain join.
    "q143_salted_join" -> ((s, dir) => {
      val skewed = t(s, dir, "documents").select(
        col("doc_id"), col("n_chars"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit(7))
          .otherwise(pmod(col("doc_id"), lit(25))).cast("int").as("nkey"))
      val dim = t(s, dir, "nation")
        .select(col("n_nationkey").as("nkey"), col("n_name"))
      graft.operators.SkewJoin
        .saltedInnerJoin(skewed, dim, Seq("nkey"), salts = 32,
          forceShuffle = true)
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("n_name"))
    }),

    // Rendezvous (highest-random-weight) sharding: per-shard document
    // counts at S=8, plus how many of each shard's keys MOVE when the
    // ring grows to S=9 — HRW's minimal-churn contract (≈ 1/9 total)
    // made driver-visible. Fully oracled: DuckDB re-derives the argmax
    // from the same md5 probes.
    "q144_rendezvous_shard" -> ((s, dir) => {
      val id = col("doc_id")
      t(s, dir, "documents")
        .select(id,
          Sampling.rendezvousShard(id, 8).as("shard8"),
          Sampling.rendezvousShard(id, 9).as("shard9"))
        .groupBy(col("shard8"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("shard9") =!= col("shard8"), 1L).otherwise(0L))
            .as("moved"))
        .orderBy(col("shard8"))
    }),

    // Temperature-scaled language mix (T = 2): the exponent-smoothed
    // sampling weights a multilingual run would draw languages with,
    // over whitespace-token mass. Fully oracled: shares and the
    // normalizers re-derive from the same token counts.
    "q145_temperature_mix" -> ((s, dir) =>
      Sampling.temperatureWeights(t(s, dir, "documents"), "lang",
          TextAnalysis.tokenCount(col("text")), temperature = 2.0)
        .select(col("lang"), col("n_tokens"),
          // micro-units hash (exact pico-units long upstream inside
          // temperatureWeights). Historical note: this row was
          // hash-red r14-r18 NOT because of floats — every value
          // agreed — but because the oracle's bare sum() emitted
          // n_tokens as HUGEINT while Spark emits BIGINT; the driver
          // hash is type-sensitive. Fixed round 19 by casting the
          // oracle aggregate itself to BIGINT (q96 convention).
          floor(col("nat_share") * lit(1e6) + lit(0.5)).as("nat_share"),
          floor(col("temp_share") * lit(1e6) + lit(0.5)).as("temp_share"),
          floor(col("epoch_factor") * lit(1e6) + lit(0.5))
            .as("epoch_factor"))
        .orderBy(col("lang")))
,
    // Neyman-allocation stratified sample (40% budget, strata = lang,
    // variance of n_chars): the admitted set itself is the output —
    // rates AND per-row admissions re-derive in DuckDB from the same
    // stddev/md5 arithmetic, so the whole allocation chain is oracled.
    "q146_neyman_sample" -> ((s, dir) =>
      Sampling.neymanSample(t(s, dir, "documents"), "lang", "doc_id",
          col("n_chars"), budgetFrac = 0.4)
        .select(col("doc_id"), col("lang"), col("__rate").as("rate"))
        .orderBy(col("doc_id")))
,
    // Content-defined chunking (gear-hash CDC) + cross-document shared-
    // byte accounting — the shift-robust dedup granularity between
    // exact-doc (q17) and n-gram span (q60) dedup. Oracled since round
    // 16 as a bound-carrying row (the gear table has no SQL twin): the
    // hashed n_bytes column IS the coverage law — the chunks of every
    // document must partition its UTF-8 bytes exactly, and DuckDB
    // knows the byte count independently — plus the size-bound law
    // (every chunk in [minSize, maxSize] except a shorter tail) and
    // the frac range, measured per row. Shift-resync and reference
    // equality stay in CdcSpec.
    "q147_cdc_chunks" -> ((s, dir) =>
      graft.ext.Cdc.crossDocChunkStats(t(s, dir, "documents"),
          "doc_id", "text", minSize = 64, maskBits = 6, maxSize = 1024)
        .select(col("doc_id"), col("n_bytes"),
          (col("n_chunks") >= ceil(col("n_bytes") / lit(1024.0)).cast("long")
            && col("n_chunks") <= greatest(lit(1L),
              floor((col("n_bytes") - 1) / lit(64.0)).cast("long") + 1))
            .as("chunks_within_size_bounds"),
          (col("shared_byte_frac") >= 0.0 && col("shared_byte_frac") <= 1.0)
            .as("shared_frac_in_01"))
        .orderBy(col("doc_id")))
,
    // Platt-scaled calibration of the held-out classifier scores
    // (q91's model/eval split): the scorecard that says whether the
    // gate's probabilities can be thresholded by value. Oracled via
    // bound-carrying booleans (see output comment); parameter recovery,
    // closed forms, and ECE-improvement stay in CalibrationSpec.
    "q148_calibration" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val held = docs.where(pmod(col("doc_id"), lit(2)) === 1)
      val scored = TextAnalysis
        .scoreHashedNgrams(held, "doc_id", "text", evenIdModel(s, dir))
        .join(held.select(col("doc_id"), (col("lang") === "en").as("__y")),
          Seq("doc_id"))
        .localCheckpoint() // feeds the Newton passes + both scorecards
      val (a, b) = graft.ext.Calibration.plattFit(
        scored, col("score"), col("__y"))
      val raw = graft.ext.Calibration
        .calibrationScore(scored,
          graft.ext.Calibration.plattProb(col("score"), 1.0, 0.0), col("__y"))
        .select(col("n"), round(col("ece"), 6).as("ece_raw"),
          round(col("brier"), 6).as("brier_raw"))
      val cal = graft.ext.Calibration
        .calibrationScore(scored,
          graft.ext.Calibration.plattProb(col("score"), a, b), col("__y"))
        .select(round(col("ece"), 6).as("ece_platt"),
          round(col("brier"), 6).as("brier_platt"))
      // Bound-carrying output: n is closed-form (held = odd doc_ids),
      // and the calibration contract arrives as booleans the run
      // actually measures — Platt must improve both ECE and Brier over
      // the raw sigmoid, and the calibrated ECE must land under 0.05
      // (measured 0.0005; the MLE is deterministic on the data). Raw
      // coefficient/score magnitudes stay on CalibrationSpec.
      raw.crossJoin(cal)
        .select(col("n"),
          (col("ece_platt") <= col("ece_raw")).as("platt_improves_ece"),
          (col("brier_platt") <= col("brier_raw")).as("platt_improves_brier"),
          (col("ece_platt") <= lit(0.05)).as("ece_platt_small"))
    }),

    // CDC re-crawl delta: every document re-crawled with an injected
    // banner prefix (the shifted-content edit class). The row shows
    // CDC chunking recovering the unchanged tail while fixed windows
    // lose it — the shift-robustness contract as driver-visible data.
    // Oracled since round 16 as a bound-carrying row: new_bytes is the
    // coverage law (the new side's chunks must partition its
    // banner+text bytes, which DuckDB counts independently), and the
    // robustness claim rides as the measured per-row dominance boolean
    // (CDC's shared fraction is never below the fixed-window one on
    // this corpus — 451 strict wins, 49 ties at sf0.01). Re-sync and
    // reference equality stay in CdcSpec.
    "q149_cdc_delta" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          concat(lit("UPDATE v2 banner! "), col("text")).as("text2"))
      // chunk sizing matched to the corpus's ~300-byte documents
      // (expected chunk ≈ 24 + 2⁵ bytes): several chunks per doc, so
      // the banner costs the head chunk and the tail re-syncs
      graft.ext.Cdc.deltaStats(docs, "doc_id", "text", "text2",
          minSize = 24, maskBits = 5, maxSize = 256, fixedWidth = 56)
        .select(col("doc_id"), col("new_bytes"),
          (col("cdc_shared_frac") >= 0.0 && col("cdc_shared_frac") <= 1.0 &&
            col("fixed_shared_frac") >= 0.0 &&
            col("fixed_shared_frac") <= 1.0).as("fracs_in_01"),
          (col("cdc_shared_frac") >= col("fixed_shared_frac"))
            .as("cdc_not_worse_than_fixed"))
        .orderBy(col("doc_id"))
    }),

    // Poisson-bootstrap CI for mean document length per language —
    // distributed error bars in one scan. Fully oracled: the replica
    // weights are the same md5-uniform + generated inverse-CDF chain
    // in both engines, integer replica sums are exact, and the
    // quantile interpolation matches (the q40 percentile precedent).
    "q150_bootstrap_ci" -> ((s, dir) =>
      graft.ext.Bootstrap.poissonBootstrapCi(
          t(s, dir, "documents"), "doc_id", col("n_chars"), "lang",
          replicas = 64)
        .orderBy(col("lang")))
,
    // Bucketed interval-overlap join over event time windows (even vs
    // odd event ids, keyed by type): the equi-join-on-cells construction
    // that replaces the planner's BroadcastNestedLoopJoin for range
    // predicates. Fully oracled: DuckDB runs the plain theta join
    // (its IEJoin makes the quadratic form tractable at oracle scale).
    "q151_interval_join" -> ((s, dir) => {
      val iv = events(s, dir).select(
        col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("st"))
        .withColumn("en", col("st") + (pmod(col("event_id"), lit(7)) + 1) * 30)
      val joined = graft.operators.RangeJoin.overlapJoin(
        iv.where(pmod(col("event_id"), lit(2)) === 0),
        iv.where(pmod(col("event_id"), lit(2)) === 1),
        "st", "en", bucket = 128, keys = Seq("event_type"))
      joined.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(least(col("en"), col("r_en")) - greatest(col("st"), col("r_st")))
            .as("sum_overlap"))
        .orderBy(col("event_type"))
    }),

    // Manifest-log table time travel: commit the even half as v1,
    // append the odd half as v2, then read VERSION 1 back through the
    // manifest while the head count rides along from readLatest — the
    // snapshot-isolation round trip as an oracled identity (the q83/
    // q92 filesystem-round-trip pattern, applied to the table format).
    "q152_snapshot_read" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val base = java.nio.file.Files.createTempDirectory("graft-q152").toString
      try {
        graft.sink.ManifestTable.append(
          docs.where(pmod(col("doc_id"), lit(2)) === 0), base)
        graft.sink.ManifestTable.append(
          docs.where(pmod(col("doc_id"), lit(2)) === 1), base)
        val latestN = graft.sink.ManifestTable.readLatest(s, base)
          .agg(count(lit(1)).as("latest_n"))
        graft.sink.ManifestTable.readVersion(s, base, 1)
          .crossJoin(broadcast(latestN))
          .orderBy(col("doc_id"))
          .localCheckpoint() // materialize before deleting the table
      } finally {
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true): Unit
      }
    }),

    // Matryoshka truncation recall: cosine top-10 over the first
    // 8/16/32 of 64 embedding components vs the full-width exact
    // top-10 — the store-fewer-floats serving measurement. Fully
    // oracled: DuckDB slices the same lists and re-ranks.
    "q153_matryoshka_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilaritySearch.matryoshkaRecall(e, "vec_id", "embedding",
        queryVector(e, 0L), k = 10, dims = Seq(8, 16, 32),
        excludeId = Some(0L))
    }),

    // Exactly-once streaming append into the manifest table: the
    // corpus streams in 4 micro-batches through foreachBatch +
    // appendIdempotent, then the WHOLE stream replays from a fresh
    // checkpoint — every replayed commit must be skipped by the batch
    // ledger. Oracled identity: duplicates or lost batches both break
    // the hash, and n_versions pins the ledger (4, not 8).
    "q154_streaming_manifest" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val base = java.nio.file.Files.createTempDirectory("graft-q154").toString
      try {
        val in = s"$base/in"
        val table = s"$base/table"
        docs.repartitionByRange(4, col("doc_id")).write.parquet(in)
        def run(cp: String): Unit = {
          val q = s.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1).parquet(in)
            .writeStream
            .option("checkpointLocation", cp)
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (batch: DataFrame, id: Long) =>
              graft.sink.ManifestTable.appendIdempotent(batch, table, id): Unit
            }
            .start()
          if (!q.awaitTermination(600000L)) {
            q.stop()
            throw new IllegalStateException(
              "q154 streaming replay did not terminate within 600s")
          }
        }
        run(s"$base/cp1")
        run(s"$base/cp2") // fresh checkpoint: full replay, all skipped
        val nVersions = graft.sink.ManifestTable.versions(s, table).size
        graft.sink.ManifestTable.readLatest(s, table)
          .crossJoin(broadcast(s.range(1).select(lit(nVersions).as("n_versions"))))
          .orderBy(col("doc_id"))
          .localCheckpoint() // materialize before the temp dirs vanish
      } finally {
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true): Unit
      }
    }),

    // Compaction + retention on the manifest table: two appends, a
    // compact (head file set rewritten as ONE dir), then vacuum to one
    // kept version — contents must survive untouched while the
    // physical layout collapses. Oracled identity with the layout
    // facts (1 version, 1 data dir) pinned in the row.
    "q155_table_compaction" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val base = java.nio.file.Files.createTempDirectory("graft-q155").toString
      try {
        graft.sink.ManifestTable.append(
          docs.where(pmod(col("doc_id"), lit(2)) === 0), base)
        graft.sink.ManifestTable.append(
          docs.where(pmod(col("doc_id"), lit(2)) === 1), base)
        graft.sink.ManifestTable.compact(s, base)
        // graceMs=0: this table is private to the query — no writer
        // can be in flight, so immediate reclaim is safe here
        graft.sink.ManifestTable.vacuum(s, base, keepVersions = 1, graceMs = 0L)
        val nVersions = graft.sink.ManifestTable.versions(s, base).size
        val fsys = new org.apache.hadoop.fs.Path(base)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val nDirs = fsys
          .listStatus(new org.apache.hadoop.fs.Path(base, "data")).length
        graft.sink.ManifestTable.readLatest(s, base)
          .crossJoin(broadcast(s.range(1).select(
            lit(nVersions).as("versions_after"), lit(nDirs).as("data_dirs"))))
          .orderBy(col("doc_id"))
          .localCheckpoint() // materialize before the temp dirs vanish
      } finally {
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true): Unit
      }
    }),

    // Binary (sign-bit) embedding quantization: 64 floats → two packed
    // 32-bit words; Hamming top-10 and Hamming-shortlist-50 →
    // exact-cosine rerank, each scored as recall vs the exact top-10.
    // Fully oracled: the packing SQL is GENERATED from the same loop
    // and recalls are integer counts / 10.
    "q157_binary_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilaritySearch.hammingRerankRecall(e, "vec_id", "embedding",
        queryVector(e, 0L), k = 10, shortlist = 50, excludeId = Some(0L))
    }),

    // Incremental append-only read: v2's NEW rows read directly from
    // the dirs its manifest added — no diff shuffle. Oracled: the
    // added set is exactly the odd half.
    "q158_incremental_read" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val base = java.nio.file.Files.createTempDirectory("graft-q158").toString
      try {
        graft.sink.ManifestTable.append(
          docs.where(pmod(col("doc_id"), lit(2)) === 0), base)
        graft.sink.ManifestTable.append(
          docs.where(pmod(col("doc_id"), lit(2)) === 1), base)
        graft.sink.ManifestTable.readAppended(s, base, 1, 2)
          .orderBy(col("doc_id"))
          .localCheckpoint() // materialize before the temp dirs vanish
      } finally {
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true): Unit
      }
    }),

    // Column profiling scorecard over the documents table: nulls,
    // exact distincts, native-typed min/max per column. Fully oracled
    // (a UNION ALL of per-column aggregates in DuckDB).
    "q159_profile" -> ((s, dir) =>
      graft.ext.DataProfile.profile(t(s, dir, "documents"),
          Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy(col("col_name"))),

    // Collocation extraction: adjacent-pair PMI top-50 (min pair
    // count 5) over the corpus — the lexical-association op. Fully
    // oracled: counts, totals, and the rounded-before-ranking PMI all
    // re-derive in DuckDB.
    "q160_collocations" -> ((s, dir) =>
      TextAnalysis.collocations(t(s, dir, "documents"), "doc_id", "text",
        minCount = 5, k = 50)),

    // Per-node triangle counts over a deterministic 50-node graph
    // derived from doc ids — the local clustering signal (link-farm
    // density). Fully oracled: DuckDB enumerates the same a<b<c
    // triangles.
    "q161_triangles" -> ((s, dir) => {
      val id = col("doc_id")
      // ~60% of the 20-node pair grid survives the keep filter — a
      // triangle-rich but non-complete deterministic graph (the
      // one-edge-per-doc functional graph x→7x+3 has NO 3-cycles
      // mod 50 — checked — hence this two-coordinate form)
      val edges = t(s, dir, "documents").select(
        pmod(id, lit(20)).as("src"),
        pmod(floor(id / 20), lit(20)).cast("long").as("dst"))
        .where(pmod(col("src") * 3 + col("dst") * 7, lit(5)) < 3)
      graft.ext.LinkGraph.triangleCounts(edges, "src", "dst")
        .orderBy(col("node"))
    }),

    // Declarative stream-stream correlation: the q89 feed replayed
    // through a WATERMARKED INTERVAL JOIN (state bounded by the join
    // window, no keyed-state code), daily KPIs aggregated from the
    // appended matches. Oracled against the same batch daily rollup
    // the explicit-state path answers to (q04's event set).
    "q162_stream_stream_join" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val feed = q89Feed(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft-q162").toString
      try {
        val q = graft.streaming.TripStreamJob.startStreamJoin(
          s,
          startLines = s.readStream.text(s"$feed/starts"),
          endLines = s.readStream.text(s"$feed/ends"),
          outPath = s"$base/joined",
          checkpointDir = s"$base/ckpt",
          trigger = Trigger.AvailableNow())
        if (!q.awaitTermination(600000L)) {
          q.stop()
          throw new IllegalStateException(
            "q162 streaming replay did not terminate within 600s")
        }
        ParquetRead.read(s, s"$base/joined")
          .groupBy(to_date(col("dropoff_datetime")).as("date"))
          .agg(count(lit(1)).as("n_trips"),
            sum(col("fare_amount").cast("decimal(38,12)")).cast("double")
              .as("total_fare"))
          .orderBy(col("date"))
          .localCheckpoint() // materialize before the temp dirs vanish
      } finally {
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true): Unit
      }
    }),

    // Schema evolution on the manifest table: v2's append introduces a
    // `quality` column; the merged-schema head read surfaces it as
    // null for v1's rows. Oracled closed-form union.
    "q163_schema_evolution" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val base = java.nio.file.Files.createTempDirectory("graft-q163").toString
      try {
        graft.sink.ManifestTable.append(
          docs.where(pmod(col("doc_id"), lit(2)) === 0), base)
        graft.sink.ManifestTable.append(
          docs.where(pmod(col("doc_id"), lit(2)) === 1)
            .withColumn("quality", pmod(col("doc_id"), lit(7)).cast("long")),
          base)
        graft.sink.ManifestTable.readLatest(s, base, mergeSchema = true)
          .orderBy(col("doc_id"))
          .localCheckpoint() // materialize before the temp dirs vanish
      } finally {
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true): Unit
      }
    }),

    // Corpus-curation capstone (the LLM-data counterpart of the q121
    // crawl capstone): exact dedup keep-first → quality gate (q21's
    // score ≥ 0.5) → Kneser–Ney perplexity gate (≤ survivor median) →
    // per-language doc/token/pack rollup. Every stage is individually
    // oracled (q17/q21/q142/q40's percentile parity); the composed
    // hash depends on each stage keeping exactly the right set.
    "q164_curation_pipeline" -> ((s, dir) =>
      curatedSurvivors(s, dir)
        .select(col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("__t"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("n_tokens"),
          sum(ceil(col("__t").cast("double") / 512)).as("n_packs"))
        .orderBy(col("lang"))),

    // Hard-negative mining for contrastive training: for each of 10
    // query vectors, the 3 most-similar candidates with a DIFFERENT
    // label — the pairs that actually move an embedding model. The
    // q25 shape: bounded query set broadcast against one corpus scan,
    // per-query rank window. Fully oracled (q23's cosine parity).
    "q165_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = broadcast(e.where(col("vec_id") < 10).select(
        col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("__qv"),
        col("label").as("__ql")))
      val scored = e.crossJoin(queries)
        .where(col("label") =!= col("__ql"))
        .select(col("query_id"), col("vec_id"),
          SimilaritySearch.cosine(
            col("embedding").cast("array<double>"), col("__qv"))
            .as("cosine_sim"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cosine_sim").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("query_id"), col("rank"), col("vec_id"),
          round(col("cosine_sim"), 6).as("cosine_sim"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Streaming exact dedup through Spark's NATIVE
    // dropDuplicatesWithinWatermark (state evicted once the watermark
    // passes a key's event time — bounded state, unlike plain
    // dropDuplicates): the events table doubled (copies co-located
    // per key so batching cannot split them past the watermark),
    // replayed, deduped, rolled up daily. Oracled against the batch
    // distinct set.
    "q166_streaming_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val ev = events(s, dir).select(col("event_id"), col("ts"), col("value"))
      val base = java.nio.file.Files.createTempDirectory("graft-q166").toString
      try {
        ev.unionAll(ev).repartition(col("event_id"))
          .write.parquet(s"$base/in")
        val deduped = s.readStream
          .schema(ev.schema).parquet(s"$base/in")
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
        val q = deduped.writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        if (!q.awaitTermination(600000L)) {
          q.stop()
          throw new IllegalStateException(
            "q166 streaming replay did not terminate within 600s")
        }
        ParquetRead.read(s, s"$base/out")
          .groupBy(to_date(col("ts")).as("date"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(38,12)")).cast("double")
              .as("total_value"))
          .orderBy(col("date"))
          .localCheckpoint() // materialize before the temp dirs vanish
      } finally {
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true): Unit
      }
    }),

    // Curation audit: q164's pipeline re-run as per-document LINEAGE —
    // which stage dropped each doc ('dup' / 'quality' / 'unscored' /
    // 'ppl') or 'kept'. The provenance view an operator of the
    // pipeline actually debugs with. Oracled end-to-end from the same
    // stage chains; the first failing stage owns the verdict.
    "q167_curation_audit" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val kn = TextAnalysis.knBigramXent(docs, "doc_id", "text")
        .select(col("doc_id"), col("kn_ppl"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("text")).orderBy(col("doc_id"))
      val staged = docs
        .withColumn("__rn", row_number().over(w))
        .withColumn("__q", round(TextAnalysis.qualityScore(col("text")), 6))
        .join(kn, Seq("doc_id"), "left")
        .localCheckpoint() // median + verdict both read it
      val med = broadcast(staged
        .where(col("__rn") === 1 && col("__q") >= 0.5 &&
          col("kn_ppl").isNotNull)
        .agg(percentile(col("kn_ppl"), lit(0.5)).as("__med")))
      staged.crossJoin(med)
        .select(col("doc_id"),
          when(col("__rn") > 1, "dup")
            .when(col("__q") < 0.5, "quality")
            .when(col("kn_ppl").isNull, "unscored")
            .when(col("kn_ppl") > col("__med"), "ppl")
            .otherwise("kept").as("stage"))
        .orderBy(col("doc_id"))
    }),

    // DLQ accountability as a driver row (S4's corrupt-record side
    // output made directly visible): a JSON feed where every 10th
    // line is mangled and every 25th is a null-key tombstone — decode
    // and quarantine must partition the feed EXACTLY (no line lost,
    // none double-counted). Oracled closed-form in event_id.
    "q168_dlq_counts" -> ((s, dir) => {
      val ev = events(s, dir)
      val id = col("event_id")
      val wire = ev.select(id.as("__id"),
        when(pmod(id, lit(10)) === 3, concat(lit("{not json "), id.cast("string")))
          .when(pmod(id, lit(25)) === 7,
            concat(lit("{\"value\":"), col("value").cast("string"), lit("}")))
          .otherwise(concat(
            lit("{\"trip_id\":\""), id.cast("string"),
            lit("\",\"value\":"), col("value").cast("string"), lit("}")))
          .as("value"))
        .localCheckpoint() // decode + quarantine both read it
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("trip_id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      val ok = EventReader.decodeJson(wire, schema)
        .agg(count(lit(1)).as("n_decoded"))
      val dlq = EventReader.corruptRecords(wire, schema)
        .agg(count(lit(1)).as("n_quarantined"))
      val total = wire.agg(count(lit(1)).as("n_input"))
      broadcast(total).crossJoin(broadcast(ok)).crossJoin(broadcast(dlq))
        .select(col("n_input"), col("n_decoded"), col("n_quarantined"),
          (col("n_input") - col("n_decoded") - col("n_quarantined"))
            .as("n_lost"))
    }),

    // Source-format breadth: the documents table written to ORC and
    // read back through the manifest-free plain path — the round-trip
    // identity proves the ORC source/sink end to end. Oracled.
    "q169_orc_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val base = java.nio.file.Files.createTempDirectory("graft-q169").toString
      try {
        docs.write.orc(s"$base/t")
        s.read.orc(s"$base/t")
          .orderBy(col("doc_id"))
          .localCheckpoint() // materialize before the temp dir vanishes
      } finally {
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true): Unit
      }
    }),

    // Pure-SQL surface: the engine driven ENTIRELY through
    // spark.sql(...) text — temp views + the SQL-registered native
    // nfc_normalize expression — no DataFrame operators in the query
    // body. Oracled: DuckDB's independent nfc_normalize + md5 agree
    // (the q116 parity), so the fingerprint counts match exactly.
    "q170_sql_surface" -> ((s, dir) => {
      org.apache.spark.sql.graft.UnicodeNormalize.register(s)
      t(s, dir, "documents").createOrReplaceTempView("documents_v")
      s.sql("""
        SELECT lang, count(*) AS n_docs,
               count(DISTINCT md5(nfc_normalize(text))) AS n_distinct_nfc,
               CAST(min(length(nfc_normalize(text))) AS BIGINT) AS min_nfc_len
        FROM documents_v GROUP BY lang ORDER BY lang""")
    }),

    // Pivot (crosstab) surface: language × source document counts as
    // a wide table — `groupBy().pivot()` with explicit values so the
    // plan is a single pass (no distinct-values pre-query). Oracled
    // via conditional aggregation.
    "q171_pivot" -> ((s, dir) => {
      val srcs = Seq("src0", "src1", "src2", "src3", "src4")
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .pivot("source", srcs)
        .agg(count(lit(1)))
        .na.fill(0L, srcs)
        .orderBy(col("lang"))
    }),

    // Null-safe equality join (<=>): every third doc's key nulled on
    // BOTH sides — null<=>null matches (one bucket), null=null does
    // not. The row carries both counts so the semantic difference is
    // itself the artifact. Oracled (IS NOT DISTINCT FROM).
    "q172_nullsafe_join" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val key = when(pmod(col("doc_id"), lit(3)) === 0, lit(null))
        .otherwise(pmod(col("doc_id"), lit(7))).cast("long")
      val a = docs.select(col("doc_id").as("a_id"), key.as("k"))
      val b = docs.select(col("doc_id").as("b_id"), key.as("k2"))
      val nullSafe = a.join(b, col("k") <=> col("k2"))
        .agg(count(lit(1)).as("n_nullsafe"))
      val plain = a.join(b, col("k") === col("k2"))
        .agg(count(lit(1)).as("n_plain"))
      broadcast(nullSafe).crossJoin(broadcast(plain))
    }),

    // Sliding window frame: 7-row moving average of the daily event
    // count over the ordered date series (ROWS BETWEEN 6 PRECEDING).
    // Spelled as TWO running totals from the range-partitioned prefix
    // pass — ma7(rn) = (S(rn) − S(rn−7)) / min(rn, 7) — instead of an
    // unpartitioned sliding WindowExec (a one-task funnel over the
    // |dates| table; 30 rows here, years of dates at scale). n_events
    // is an exact long, so the subtraction form and the former
    // in-frame accumulation are the same exact integer sum followed by
    // one correctly-rounded divide. Oracled — identical frame
    // semantics in DuckDB.
    "q173_moving_avg" -> ((s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("date"))
        .agg(count(lit(1)).as("n_events"))
      val withS = graft.ext.Prefix.withRunningTotals(daily, Seq(col("date")),
        totals = Seq(col("n_events") -> "__S"), rowNumberCol = Some("__rn"))
      val lagged = withS
        .select((col("__rn") + 7L).as("__rn7"), col("__S").as("__S7"))
      withS.join(broadcast(lagged), col("__rn") === col("__rn7"), "left")
        .select(col("date"), col("n_events"),
          round((col("__S") - coalesce(col("__S7"), lit(0L))).cast("double")
            / least(col("__rn"), lit(7L)).cast("double"), 6).as("ma7"))
        .orderBy(col("date"))
    }),

    // Incremental connected components (the crawl-graph q137
    // analogue): labels from the old edge set warm-start the
    // propagation over the grown edge set — append-only growth only
    // merges components, so carried labels are sound lower bounds.
    // Fixture: per-decade chains 0-1-2-3, the new edges attach
    // offset 4. Oracled closed-form; the rounds saving is pinned in
    // DedupSpec.
    "q174_incremental_cc" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ids = docs.select(col("doc_id").as("id"))
      def chainPairs(maxOff: Int) = docs
        .where(pmod(col("doc_id"), lit(10)) < maxOff)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      val oldLabels = Dedup.connectedComponents(ids, chainPairs(3))
      val (warm, _) = Dedup.connectedComponentsFrom(
        ids, chainPairs(4), Some(oldLabels))
      warm.orderBy(col("id"))
    }),

    // Export capstone ("ship it"): the curated survivor set laid out
    // as training shards — md5-order concat-and-chunk packing (q65's
    // distributed prefix sum) into 512-token packs, 16 packs per
    // shard; per-shard doc/token/pack-range stats. Oracled END-TO-END:
    // the q164 survivor chain + the q65 packing CTE + the rollup, all
    // in one DuckDB query.
    "q175_export_shards" -> ((s, dir) => {
      val kept = curatedSurvivors(s, dir)
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
      Sampling.packSequences(kept, "doc_id", "n_tokens", 512L)
        .withColumn("shard", floor(col("pack_id") / 16).cast("long"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          min(col("pack_id")).as("first_pack"),
          max(col("pack_id")).as("last_pack"))
        .orderBy(col("shard"))
    }),

    // Drift detection (PSI): reference = even docs' quality scores,
    // current = odd docs' scores SHIFTED by a planted +0.08 on every
    // fourth doc (a visible-but-moderate drift), binned by the
    // reference deciles. Fully oracled — cuts, bins, smoothing, and
    // terms re-derived in DuckDB.
    "q176_drift_psi" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val q = round(TextAnalysis.qualityScore(col("text")), 6)
      val ref = docs.where(pmod(col("doc_id"), lit(2)) === 0)
        .select(q.as("m"))
      val cur = docs.where(pmod(col("doc_id"), lit(2)) === 1)
        .select(round(q + when(pmod(col("doc_id"), lit(4)) === 1, 0.08)
          .otherwise(0.0), 6).as("m"))
      graft.ext.DataProfile.psi(ref, cur, col("m"), bins = 10)
        .orderBy(col("bin"))
    }),

    // Length-bucketed batching: fixed batches of 16 docs padded to the
    // batch max — length-SORTED order vs shuffle order, padding waste
    // side by side (the dynamic-batching win, quantified: sorting by
    // length puts like with like, so the pad-to-max overhead
    // collapses; 0.025 vs 0.418 on this corpus). Fully oracled: both
    // orders and the waste arithmetic re-derive in DuckDB. The global
    // row_number comes from [[graft.ext.Prefix.withRunningTotals]] —
    // a range-partitioned two-pass prefix count, NOT an unpartitioned
    // WindowExec (which would funnel the whole corpus to one task;
    // r21's verdict flagged exactly that here).
    "q177_length_batching" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("__len"))
        .localCheckpoint() // both policies read it
      val b = 16
      def waste(order: Seq[org.apache.spark.sql.Column], policy: String) = {
        graft.ext.Prefix
          .withRunningTotals(docs, order, rowNumberCol = Some("__rn"),
            pinInput = false) // docs is already pinned above
          .withColumn("__batch",
            floor((col("__rn") - 1) / b).cast("long"))
          .groupBy(col("__batch"))
          .agg(count(lit(1)).as("__n"), max(col("__len")).as("__mx"),
            sum(col("__len")).as("__sum"))
          .agg(count(lit(1)).as("n_batches"),
            sum(col("__mx") * col("__n")).as("padded_tokens"),
            sum(col("__sum")).as("real_tokens"))
          .select(lit(policy).as("policy"), col("n_batches"),
            col("padded_tokens"), col("real_tokens"),
            round(lit(1.0) - col("real_tokens").cast("double")
              / col("padded_tokens"), 6).as("waste_frac"))
      }
      waste(Seq(col("__len"), col("doc_id")), "sorted")
        .unionByName(waste(
          Seq(md5(col("doc_id").cast("string")), col("doc_id")), "shuffled"))
        .orderBy(col("policy"))
    }),

    // Authority-weighted crawl budgets: q109's converged PageRank
    // turned into per-host fetch quotas (10,000-fetch budget split by
    // rank share) — the allocation pass between ranking (q109) and
    // scheduling (q119). Fully oracled through the shared unrolled-
    // PageRank generator, so the iteration math has ONE spelling.
    "q178_crawl_quota" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      val edges = docs.select(
        (col("doc_id") % 20).as("src"),
        ((col("doc_id") * 7 + 3) % 25).as("dst"))
      val ranks = graft.ext.LinkGraph
        .pageRankRun(edges, "src", "dst", damping = 0.85, iterations = 10)
        .ranks
        .select(col("node"), round(col("rank"), 6).as("pagerank"))
        .localCheckpoint() // total + quota both read it
      val tot = broadcast(ranks.agg(sum(col("pagerank")).as("__z")))
      ranks.crossJoin(tot)
        .select(col("node"), col("pagerank"),
          round(lit(10000) * col("pagerank") / col("__z"), 0)
            .cast("long").as("fetch_quota"))
        .orderBy(col("node"))
    }),

    // Table-as-a-stream: the manifest table consumed INCREMENTALLY by
    // Spark's native file source (readStream over data/*) — run 1
    // drains v1, a second append lands, run 2 on the SAME checkpoint
    // picks up ONLY the new files (the file source's seen-set is the
    // increment tracker; readAppended q158 is the manifest-exact
    // batch twin). Each run tags its rows, so which-run-consumed-what
    // is ON the oracled row. Oracled closed-form.
    "q179_table_stream" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val base = java.nio.file.Files.createTempDirectory("graft-q179").toString
      try {
        val table = s"$base/table"
        val outDir = s"$base/out"
        def drain(phase: Int): Unit = {
          val q = s.readStream.schema(docs.schema)
            .parquet(s"$table/data/*")
            .writeStream
            .option("checkpointLocation", s"$base/ckpt") // SHARED across runs
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (b: DataFrame, _: Long) =>
              if (!b.isEmpty)
                b.withColumn("phase", lit(phase))
                  .write.mode("append").parquet(outDir)
            }
            .start()
          if (!q.awaitTermination(600000L)) {
            q.stop()
            throw new IllegalStateException(
              s"q179 phase $phase did not terminate within 600s")
          }
        }
        graft.sink.ManifestTable.append(
          docs.where(pmod(col("doc_id"), lit(2)) === 0), table)
        drain(1)
        graft.sink.ManifestTable.append(
          docs.where(pmod(col("doc_id"), lit(2)) === 1), table)
        drain(2)
        ParquetRead.read(s, outDir)
          .orderBy(col("doc_id"))
          .localCheckpoint() // materialize before the temp dirs vanish
      } finally {
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true): Unit
      }
    }),

    // Ranked-retrieval evaluation (nDCG@10): 10 query docs, candidates
    // ranked by closest document length, graded relevance from
    // (lang, source) agreement — DCG against the per-query IDEAL
    // ordering over ALL candidates, not just the retrieved ten. The
    // metric row retrieval changes are judged by. Fully oracled.
    "q180_ndcg" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val queries = broadcast(docs.where(col("doc_id") < 10).select(
        col("doc_id").as("query_id"), col("lang").as("__ql"),
        col("source").as("__qs"), col("n_chars").as("__qn")))
      val cand = docs.crossJoin(queries)
        .where(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"),
          abs(col("n_chars") - col("__qn")).as("__dist"),
          when(col("lang") === col("__ql") && col("source") === col("__qs"), 3)
            .when(col("lang") === col("__ql"), 1).otherwise(0).as("__rel"))
        .localCheckpoint() // retrieved AND ideal rankings both read it
      def gain(rankCol: org.apache.spark.sql.Column) =
        (pow(lit(2.0), col("__rel")) - 1.0) / log2(rankCol + 1.0)
      val wR = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("__dist"), col("doc_id"))
      val wI = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("__rel").desc, col("doc_id"))
      val dcg = cand.withColumn("__r", row_number().over(wR))
        .where(col("__r") <= 10)
        .groupBy(col("query_id"))
        .agg(sum(gain(col("__r"))).as("__dcg"))
      val idcg = cand.withColumn("__r", row_number().over(wI))
        .where(col("__r") <= 10)
        .groupBy(col("query_id"))
        .agg(sum(gain(col("__r"))).as("__idcg"))
      dcg.join(idcg, Seq("query_id"))
        .select(col("query_id"), round(col("__dcg"), 6).as("dcg"),
          round(col("__idcg"), 6).as("idcg"),
          round(col("__dcg") / col("__idcg"), 6).as("ndcg"))
        .orderBy(col("query_id"))
    }),

    // Incremental persisted IVF-PQ (q126 + q158 composed): the index is
    // built from the even-id half, the odd-id half arrives later as an
    // APPEND — encoded with the index's frozen codebooks, base codes
    // untouched — and the composite index must answer the query
    // IDENTICALLY to the in-memory path over the full corpus (same
    // neighbors, bit-equal ADC distances). Fully oracled: the split
    // sizes are closed-form and the identity/deviation values are
    // deterministic constants of the frozen-model contract (the q126
    // argument); the append-only-delta property itself is pinned in
    // PqSpec on file counts.
    "q181_ivfpq_index_append" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = pqModel(s, dir)
      val coarse = SimilaritySearch.learnCentroids(emb, "embedding", k = 16)
      val query = emb.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val rest = emb.where(col("vec_id") =!= 0)
      val base = rest.where(pmod(col("vec_id"), lit(2)) === 0)
      val delta = rest.where(pmod(col("vec_id"), lit(2)) === 1)
      val path = java.nio.file.Files
        .createTempDirectory("graft_ivfpq_append").toString
      try {
        graft.ext.Pq.writeIvfPqIndex(base, "vec_id", "embedding",
          coarse, model, path)
        graft.ext.Pq.appendToIvfPqIndex(delta, "vec_id", "embedding", path,
          appendId = "odd-half")
        val fromIndex = graft.ext.Pq
          .ivfPqTopKFromIndex(s, path, "vec_id", query, k = 10, nProbe = 4)
          .withColumnRenamed("adc_dist", "adc_disk")
        val inMem = graft.ext.Pq.ivfPqTopK(rest, "vec_id", "embedding",
          query, k = 10, coarseCentroids = coarse, model = model, nProbe = 4)
        fromIndex.join(inMem, Seq("vec_id"))
          .agg((count(lit(1)).cast("double") / 10.0).as("identity_at_10"),
            max(abs(col("adc_disk") - col("adc_dist"))).as("max_adc_dev"))
          .crossJoin(base.agg(count(lit(1)).as("n_base")))
          .crossJoin(delta.agg(count(lit(1)).as("n_appended")))
          .select(col("n_base"), col("n_appended"),
            col("identity_at_10"), col("max_adc_dev"))
          .localCheckpoint() // materialize before the temp index vanishes
      } finally {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true): Unit
      }
    }),

    // Exact cross-document shared-substring spans (Lee et al. 2022's
    // exact-substring dedup criterion over 40-char windows): per doc,
    // how many of its sliding windows occur verbatim in another
    // document — the boilerplate/licence-block signal word-shingle
    // Jaccard dilutes away. Fully oracled: windows, doc frequencies,
    // and fractions all re-derive in closed form.
    "q182_char_span_dedup" -> ((s, dir) =>
      Dedup.sharedCharSpans(t(s, dir, "documents"), "doc_id", "text", k = 40)
        .orderBy(col("doc_id"))),

    // Exact-count stratified split (10% test / 10% val per language on
    // the md5 coordinate): where q38's hex-bound split is proportional
    // only in expectation, every stratum here lands EXACTLY
    // ceil-fraction rows in each side — the audit-grade eval-split
    // layout. Fully oracled: the assignment itself is reproduced.
    "q183_stratified_split" -> ((s, dir) =>
      Sampling.stratifiedSplit(t(s, dir, "documents"), "lang", "doc_id",
          testFrac = 0.1, valFrac = 0.1)
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy(col("doc_id"))),

    // Parquet bloom-filter layout, driver-visible: the events table
    // written with a bloom on event_id (the point-lookup skipping
    // structure for non-sorted, non-partition key columns — min/max
    // stats skip nothing when every row group spans the id range),
    // then audited at the FOOTER level: every row group must carry its
    // bloom, a present key must be might-contained somewhere, and the
    // two certainly-absent sentinels (min−1, max+1) must be
    // definitely-absent in every group. Bound-carrying oracle: the
    // exact row count hashes; the audit booleans are measured.
    "q190_bloom_layout" -> ((s, dir) => {
      val base = java.nio.file.Files
        .createTempDirectory("graft-q190").toString
      try {
        val ev = events(s, dir).select(col("event_id"), col("value"))
          .repartition(4)
        graft.plans.Layout.writeWithBloom(ev, s"$base/t", Seq("event_id"),
          expectedNdv = 1000000L)
        // O(1) driver probes (the width-probe collect class)
        val bounds = ev.agg(min(col("event_id")), max(col("event_id"))).head()
        val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
        val (groups, withBloom, might) = graft.plans.Layout.bloomAudit(
          s, s"$base/t", "event_id", Seq(lo, lo - 1, hi + 1))
        val absentEmpty = ParquetRead.read(s, s"$base/t")
          .where(col("event_id") === lo - 1).count() == 0L
        import s.implicits._
        Seq((groups.toLong, withBloom == groups && groups >= 1,
            might(lo) >= 1, might(lo - 1) == 0 && might(hi + 1) == 0,
            absentEmpty))
          .toDF("__g", "all_groups_have_bloom", "present_key_found",
            "absent_keys_excluded", "absent_lookup_empty")
          .crossJoin(ev.agg(count(lit(1)).as("n_events")))
          .select(col("n_events"), col("all_groups_have_bloom"),
            col("present_key_found"), col("absent_keys_excluded"),
            col("absent_lookup_empty"))
          .localCheckpoint() // materialize before the temp dir vanishes
      } finally {
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true): Unit
      }
    }),

    // Greedy MMR diversity re-ranking (Carbonell & Goldstein 1998)
    // over each query's top-20 ANN pool: select 5 at λ=0.7 — the
    // diverse-context / eval-set-construction move over an ANN
    // candidate list. Relevance and redundancy both leave the float
    // domain through ONE micro-unit quantization of the same codegen
    // cosine, so the greedy argmax chain is pure integer arithmetic
    // the oracle replays step by step (5 unrolled selection CTEs with
    // (score DESC, id) tie-breaks). Pool membership, the pair matrix,
    // every pick, and every score are all on the hash path.
    "q191_mmr_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilaritySearch.mmrRerank(
          e, "vec_id", "embedding",
          e.where(col("vec_id") < 5), "vec_id", "embedding",
          poolK = 20, selectK = 5, lambdaTenths = 7)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Mixture-diversity dashboard: per-source doc/token mass, exact
    // parts-per-million token shares (integer DIV — no floats), and
    // the corpus-level Simpson effective-source count, integer-exact
    // to its single micro-unit quantization gate.
    "q192_source_diversity" -> ((s, dir) =>
      TextAnalysis.sourceDiversity(t(s, dir, "documents"), "source", "text")
        .orderBy(col("source"))),

    // EXACT substring decontamination (Lee et al. 2022 criterion): flag
    // corpus docs sharing a verbatim ≥60-char run with any benchmark
    // doc, with the true maximal run length — anchored 31-char grams on
    // a stride-30 corpus grid (zero false negatives at ≥60 by
    // pigeonhole), each anchor extended to the full run by the codegen
    // common_prefix_chars walks and re-verified in content. The bench
    // set is a planted substring slice of every 50th doc, so
    // contamination is by construction and closed-form checkable; the
    // oracle replays the SAME strided grid + extension arithmetic.
    "q193_exact_decontamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.where(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("bench_id"),
          substring(col("text"), 8, 150).as("bench_text"))
      Dedup.exactSubstringContamination(docs, "doc_id", "text",
          bench, "bench_id", "bench_text", minLen = 60)
        .orderBy(col("doc_id"))
    }),

    // WebDataset TAR shard ingest: the corpus round-tripped through
    // real POSIX ustar bytes — 20 shards, each document as a
    // `<id>.txt` member plus a `<id>.json` sidecar (the webdataset
    // convention for multimodal training shards), parsed back by the
    // header walk (octal sizes, verified checksums, zero-block
    // termination). Fully oracled: member counts, byte sizes, and
    // both member md5s are closed-form in the documents table, so
    // header build + walk + byte-exact body recovery are all on the
    // hash path (the q101 WARC pattern, applied to the tar container).
    "q188_tar_ingest" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      val shards = graft.ext.Tar.shardFixture(docs, "doc_id", "text",
        numFiles = 20)
      graft.ext.Tar.parseMembers(shards, "file_id", "payload").toDF()
        .select(
          regexp_extract(col("name"), "^([0-9]+)\\.", 1).cast("long")
            .as("doc_id"),
          regexp_extract(col("name"), "\\.([a-z]+)$", 1).as("ext"),
          col("body"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_members"),
          max(when(col("ext") === "txt", octet_length(col("body"))))
            .cast("long").as("txt_octets"),
          max(when(col("ext") === "txt", md5(col("body")))).as("txt_md5"),
          max(when(col("ext") === "json", md5(col("body")))).as("json_md5"))
        .orderBy(col("doc_id"))
    }),

    // q188 in the shipping form: the same shards gzipped whole
    // (webdataset's .tar.gz), gunzipped through the shared multi-
    // member walk, then the identical header walk — so compression
    // round-trip + parse share q188's closed-form oracle verbatim.
    "q189_tar_gzip" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      val shards = graft.ext.Tar.shardFixtureGzip(docs, "doc_id", "text",
        numFiles = 20)
      graft.ext.Tar.parseMembersGzip(shards, "file_id", "payload").toDF()
        .select(
          regexp_extract(col("name"), "^([0-9]+)\\.", 1).cast("long")
            .as("doc_id"),
          regexp_extract(col("name"), "\\.([a-z]+)$", 1).as("ext"),
          col("body"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_members"),
          max(when(col("ext") === "txt", octet_length(col("body"))))
            .cast("long").as("txt_octets"),
          max(when(col("ext") === "txt", md5(col("body")))).as("txt_md5"),
          max(when(col("ext") === "json", md5(col("body")))).as("json_md5"))
        .orderBy(col("doc_id"))
    }),

    // The published Gopher heuristic gate (Rae et al. 2021, Appendix
    // A1.1) — the rule list MassiveText ran before model scoring, one
    // boolean per rule so the dashboard shows WHICH rule drops each
    // document (the fixture's 30-150-word docs mostly fail the 50-word
    // floor, which is the point: the gate is strict by design). Fully
    // oracled: every pattern is RE2-safe and DuckDB runs the identical
    // spellings per rule.
    "q187_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherQualityFlags(
          t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // UniMax token allocation (Chung et al. 2023) — the epoch-capped
    // water-filling mix that replaces temperature sampling's
    // low-resource oversampling (q145's T=2 row draws zh at 1.45
    // epochs; UniMax's cap makes over-epoching impossible). Budget =
    // 40% of corpus tokens, cap = 0.6 epochs: the four smaller
    // languages hit the cap and the surplus water-fills into en —
    // both regimes on the row. Fully oracled: counts, capacities,
    // the prefix-greedy cap test, and θ re-derive in DuckDB through
    // the same deterministic window order.
    "q186_unimax_mix" -> ((s, dir) =>
      Sampling.uniMaxAllocation(t(s, dir, "documents"), "lang",
          TextAnalysis.tokenCount(col("text")),
          budgetFrac = 0.4, maxEpochs = 0.6)
        .select(col("lang"), col("n_tokens"),
          // micro-units hash (caps/budget are exact micro-unit longs
          // upstream). Historical note: hash-red r16-r18 NOT from
          // floats — the oracle's bare sum() typed n_tokens HUGEINT
          // vs Spark's BIGINT and the driver hash is type-sensitive.
          // Fixed round 19: oracle aggregate cast to BIGINT outside
          // the sum (q96 convention).
          floor(col("allocation") * lit(1e6) + lit(0.5)).as("allocation"),
          floor(col("epochs") * lit(1e6) + lit(0.5)).as("epochs"),
          col("capped"))
        .orderBy(col("lang"))),

    // Streaming SESSION WINDOWS through Spark's NATIVE session_window
    // aggregation (merging event-time windows + watermark state
    // eviction — the streaming twin of q35's batch lag+cumsum
    // sessionization, which cannot run on a stream). The events table
    // replays as one micro-batch, then a far-future sentinel batch
    // advances the watermark past every real session's end so append
    // mode emits them all (the watermark-flush idiom an AvailableNow
    // replay needs; the sentinel's own session stays open and is
    // filtered). Fully oracled: DuckDB re-derives the merged sessions
    // under session_window's exact rule — windows [t, t+gap) merge
    // only when they OVERLAP, so a gap of exactly 30 min splits —
    // with bounds as flooring epochs and the q35 decimal value sum.
    "q185_streaming_sessions" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val ev = events(s, dir).select(col("user_id"), col("ts"), col("value"))
      val base = java.nio.file.Files
        .createTempDirectory("graft-q185").toString
      try {
        ev.coalesce(1).write.parquet(s"$base/in/b0")
        val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
        s.range(1).select(lit(-1L).as("user_id"),
            lit(new java.sql.Timestamp(maxTs.getTime + 90L * 86400 * 1000))
              .as("ts"),
            lit(0.0).as("value"))
          .coalesce(1).write.parquet(s"$base/in/b1")
        val sessions = s.readStream
          .schema(ev.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$base/in/*")
          .withWatermark("ts", "40 days")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(38,12)")).cast("double")
              .as("session_value"))
        val q = sessions.writeStream
          .outputMode("append")
          .format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        if (!q.awaitTermination(600000L)) {
          q.stop()
          throw new IllegalStateException(
            "q185 streaming replay did not terminate within 600s")
        }
        ParquetRead.read(s, s"$base/out")
          .where(col("user_id") >= 0)
          .select(col("user_id"),
            unix_timestamp(col("session_window.start")).as("session_start"),
            unix_timestamp(col("session_window.end")).as("session_end"),
            col("n_events"), col("session_value"))
          .orderBy(col("user_id"), col("session_start"))
          .localCheckpoint() // materialize before the temp dirs vanish
      } finally {
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true): Unit
      }
    }),

    // The hybrid splitter on a DELIBERATELY skewed layout: 70% of the
    // corpus lands in one 'major' stratum (above the 100-row exact
    // threshold → per-row hex bounds, NO sort) while ~97 'minor'
    // strata stay small (→ audit-grade exact window counts). Fully
    // oracled: DuckDB replays the count, the regime switch, and BOTH
    // assignment rules; `regime` rides the row so the switch itself is
    // on the hash path. This closes the q183 scaladoc's documented
    // 100 TB gap (a dominant language's stratum would sort on one
    // task) with an operator instead of advice.
    "q184_auto_split" -> ((s, dir) => {
      val strata = when(pmod(col("doc_id"), lit(10)) < 7, lit("major"))
        .otherwise(concat(lit("minor"),
          pmod(col("doc_id"), lit(97)).cast("string")))
      Sampling.autoSplit(
          t(s, dir, "documents")
            .select(col("doc_id"), strata.as("stratum")),
          "stratum", "doc_id", testFrac = 0.1, valFrac = 0.1,
          exactThreshold = 100L)
        .select(col("doc_id"), col("stratum"), col("split"), col("regime"))
        .orderBy(col("doc_id"))
    }),

    // Version-to-version CDC on the manifest table: v1 = docs with a
    // stale flag, v2 = overwrite where every third doc's flag flipped
    // — the diff must emit exactly the flipped docs, each as one
    // removed + one added row. Oracled closed-form.
    "q156_table_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val v1 = docs.withColumn("flag", lit(0))
      val v2 = docs.withColumn("flag",
        when(pmod(col("doc_id"), lit(3)) === 0, 1).otherwise(0))
      val base = java.nio.file.Files.createTempDirectory("graft-q156").toString
      try {
        graft.sink.ManifestTable.append(v1, base)
        graft.sink.ManifestTable.overwrite(v2, base)
        graft.sink.ManifestTable.diff(s, base, fromVersion = 1, toVersion = 2)
          .orderBy(col("doc_id"), col("change"))
          .localCheckpoint() // materialize before the temp dirs vanish
      } finally {
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true): Unit
      }
    })
  )

  /** q139's wildcard robots zoo (RFC 9309 §2.2.3 specials): w0 blocks
    * PDFs everywhere except under /pub (both rules `$`-anchored, the
    * Allow longer and therefore more specific); w1 blocks the
    * wildcarded private dirs ("/private" + star + slash) but allows
    * the longer literal /private-pub/, and `$`-anchors /tmp so /tmp/x
    * stays crawlable.
    */
  private val WildcardRobotsFixture: Map[String, String] = Map(
    "w0.example.com" ->
      "User-agent: *\nDisallow: /*.pdf$\nAllow: /pub/*.pdf$\n",
    "w1.example.com" ->
      "User-agent: *\nDisallow: /private*/\nAllow: /private-pub/\nDisallow: /tmp$\n")

  /** q124's robots zoo: s0–s4 each disallow `/p0`, declare a 2 s
    * crawl-delay AND advertise their sitemap (the discovery stream);
    * s5–s9 publish no robots at all, so their maps stay undiscovered.
    */
  private val FrontierRobotsDiscoveryFixture: Map[String, String] =
    (0 until 5).map(k =>
      s"s$k.example.com" ->
        s"User-agent: *\nDisallow: /p0\nCrawl-delay: 2\nSitemap: https://s$k.example.com/sitemap.xml\n").toMap

  /** q121's robots zoo: the first five sitemap hosts disallow `/p0`
    * and declare a 2 s crawl-delay; s5–s9 publish no robots at all.
    */
  private val FrontierRobotsFixture: Map[String, String] =
    (0 until 5).map(k =>
      s"s$k.example.com" -> "User-agent: *\nDisallow: /p0\nCrawl-delay: 2\n").toMap

  /** q118's per-host robots fixture (host → robots.txt body). h4 has
    * NO robots file — the absent-robots default is part of the zoo.
    */
  private val RobotsFixture: Map[String, String] = Map(
    "h0.example.com" ->
      "User-agent: *\nDisallow: /private/\nAllow: /private/public/\n",
    "h1.example.com" ->
      "User-agent: *\nDisallow: /\nUser-agent: graftbot\nDisallow: /secret/\n",
    "h2.example.com" ->
      "User-agent: alpha\nUser-agent: graftbot\nDisallow: /shared/\nCrawl-delay: 2\n",
    "h3.example.com" ->
      "User-agent: other\nDisallow: /\n")

  /** q118's URL zoo: host from doc_id%5 (h4 robots-less), path from
    * doc_id%6 — [[robotsUrlSql]] is the same table in DuckDB SQL.
    */
  private def robotsUrl(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("https://h"), pmod(id, lit(5)).cast("string"), lit(".example.com"),
      when(pmod(id, lit(6)) === 0, "/private/x")
        .when(pmod(id, lit(6)) === 1, "/private/public/y")
        .when(pmod(id, lit(6)) === 2, "/secret/z")
        .when(pmod(id, lit(6)) === 3, "/shared/w")
        .when(pmod(id, lit(6)) === 4, "/")
        .otherwise("/private"))

  private val robotsUrlSql: String =
    """'https://h' || (doc_id % 5)::VARCHAR || '.example.com' ||
       CASE doc_id % 6 WHEN 0 THEN '/private/x' WHEN 1 THEN '/private/public/y'
            WHEN 2 THEN '/secret/z' WHEN 3 THEN '/shared/w' WHEN 4 THEN '/'
            ELSE '/private' END"""

  /** q116's planted garble: NFD e+combining-acute, n+combining-tilde,
    * a+combining-grave, and a precomposed \u00E9 that NFC must leave
    * untouched. Spelled as escapes, never literals — the source
    * file's own (NFC) encoding would silently precompose a literal
    * and the fixture would stop exercising the fold.
    */
  private val q116Salt: String =
    " caf" + "e\u0301" + " man\u0303ana" + " d\u00E9ja\u0300"

  /** q111/q112's aliasing-URL zoo, one spelling class per doc_id %6
    * residue — [[frontierUrlSql]] is the same table in DuckDB SQL, so
    * the two can never drift apart.
    */
  private def frontierUrl(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(pmod(id, lit(6)) === 0, concat(lit("HTTP://Example"),
        pmod(id, lit(7)).cast("string"),
        lit(".COM:80/a/./b/../c?utm_source=news&b=2&a=1#frag")))
      .when(pmod(id, lit(6)) === 1, concat(lit("https://Sub.Example"),
        pmod(id, lit(5)).cast("string"),
        lit(".org:443//x//y/?z=9&y=5&fbclid=zzz")))
      .when(pmod(id, lit(6)) === 2, lit("https://example.net:8443/deep/a/b/../../p"))
      .when(pmod(id, lit(6)) === 3, concat(lit("http://u:pw@Host"),
        pmod(id, lit(3)).cast("string"),
        lit(".example.io./q/r/?gclid=1&c=2&a=10")))
      .when(pmod(id, lit(6)) === 4, lit("ftp://files.example.com/x"))
      .otherwise(concat(lit("https://example"),
        pmod(id, lit(4)).cast("string"), lit(".io")))

  private val frontierUrlSql: String =
    """CASE doc_id % 6
         WHEN 0 THEN 'HTTP://Example' || (doc_id % 7)::VARCHAR || '.COM:80/a/./b/../c?utm_source=news&b=2&a=1#frag'
         WHEN 1 THEN 'https://Sub.Example' || (doc_id % 5)::VARCHAR || '.org:443//x//y/?z=9&y=5&fbclid=zzz'
         WHEN 2 THEN 'https://example.net:8443/deep/a/b/../../p'
         WHEN 3 THEN 'http://u:pw@Host' || (doc_id % 3)::VARCHAR || '.example.io./q/r/?gclid=1&c=2&a=10'
         WHEN 4 THEN 'ftp://files.example.com/x'
         ELSE 'https://example' || (doc_id % 4)::VARCHAR || '.io' END"""

  /** q102's planted garble, built FROM [[TextPipeline.MojibakeTable]]
    * (mojibake spelled by lookup of its repaired char — retyping the
    * sequences here would let the fixture drift from the operator).
    * Ends with: C0 bell (stripped), C1 U+009C (stripped), a legit
    * precomposed é (must survive).
    */
  private lazy val q102Salt: String = {
    val moj = TextPipeline.MojibakeTable.map { case (m, r) => (r, m) }.toMap
    " caf" + moj("é") + " " + moj("“") + "well" + moj("”") +
      " " + moj("–") + " " + moj("€") + "9 " + moj("ü") + "ber" +
      "\u0007bell \u009Cc1 fine\u00E9"
  }

  /** q86/q88 shared packing bookkeeping over a `__n` (long token
    * count) frame: doc-isolated and concat-and-chunk pack counts plus
    * the isolated policy's padding fraction — one aggregation pass.
    */
  private def packingBaseStats(docs: DataFrame, seqLen: Long): DataFrame =
    docs.agg(
        count(lit(1)).as("n_docs"),
        sum(col("__n")).as("n_tokens"),
        sum(ceil(col("__n") / lit(seqLen.toDouble)).cast("long")).as("isolated_packs"))
      .select(col("n_docs"), col("n_tokens"), col("isolated_packs"),
        ceil(col("n_tokens") / lit(seqLen.toDouble)).cast("long").as("concat_packs"),
        round((col("isolated_packs") * seqLen - col("n_tokens")).cast("double")
          / (col("isolated_packs") * seqLen), 6).as("padding_fraction"))

  /** 20 whitespace tokens (2 exact 10-token spans) prepended to every
    * document by q71 — the planted cross-doc boilerplate.
    */
  private val SpanBoilerplate: String =
    "spark boiler plate header spark boiler plate header spark boiler " +
      "plate header spark boiler plate header spark boiler plate header"

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. q28/q29/q31/q32, q34, q39, q47, q55/q56
    * (corpus-size-derived plane count → no fixed hyperplane literals),
    * q75 (sampled-kmeans cells; bounded by oracled q74 + spec floor),
    * q87 (minhash cross-match; bounded by oracled exact q58 + the
    * planted-paraphrase spec),
    * and the generated-corpus rows q48/q49 are omitted deliberately:
    * xxhash64/LSH-seed/FNV/sampled-centroid arithmetic (and a
    * generator-produced input table) has no DuckDB twin (driver records the weaker rows-only
    * check); their quality is bounded by the oracled q44/q45/q46 twins
    * and the measured q47 row.
    */
  /** Shared by q46 (in-memory IVF probe) and q83 (persisted-index
    * probe): identical semantics, one twin.
    */
  /** One pinned Lloyd iteration as CTE text (the km-chain for q34's
    * fitted-quantizer oracle): distances rounded to 9 decimals before
    * the argmin (ties to the lower cell), new means rounded to 6,
    * empty cells carry the previous centroid — the exact spelling
    * `learnCentroidsDeterministic` runs on the driver.
    */
  private def kmIterSql(i: Int): String = {
    val p = s"km${i - 1}"
    s""",
       kmd$i AS MATERIALIZED (
         SELECT s.sid, c.cell,
                round(sum((s.x - c.v) * (s.x - c.v)), 9) AS d2
         FROM ksamp s JOIN $p c ON s.i = c.i
         GROUP BY s.sid, c.cell),
       kma$i AS MATERIALIZED (
         SELECT sid, cell FROM (
           SELECT sid, cell,
                  row_number() OVER (PARTITION BY sid
                                     ORDER BY d2, cell) AS rn
           FROM kmd$i) WHERE rn = 1),
       km$i AS MATERIALIZED (
         SELECT prev.cell, prev.i, coalesce(nm.m, prev.v) AS v
         FROM $p prev
         LEFT JOIN (
           SELECT a.cell, s.i, round(avg(s.x), 6) AS m
           FROM kma$i a JOIN ksamp s ON s.sid = a.sid
           GROUP BY a.cell, s.i) nm
           ON nm.cell = prev.cell AND nm.i = prev.i)"""
  }

  /** q34's oracle: the five pinned Lloyd iterations unrolled (km0 →
    * km5), then the IVF probe over the FITTED centroids — cell
    * assignment, 4-probe selection by query distance, in-cell cosine
    * top-10 — mirroring `ivfTopK`'s mechanics the way q46's oracle
    * does for fixed centroids.
    */
  private lazy val IvfFittedTopKOracleSql: String =
    """WITH samp AS (
         SELECT vec_id, embedding FROM embeddings
         WHERE embedding IS NOT NULL
         ORDER BY md5(vec_id::VARCHAR), vec_id::VARCHAR LIMIT 2000),
       ksamp AS MATERIALIZED (
         SELECT s.vec_id AS sid, g.i AS i, s.embedding[g.i]::DOUBLE AS x
         FROM samp s,
              unnest(generate_series(1, len(s.embedding))) AS g(i)),
       kinit AS (
         SELECT vec_id, rn - 1 AS cell FROM (
           SELECT vec_id, row_number() OVER (
             ORDER BY md5(vec_id::VARCHAR), vec_id::VARCHAR) AS rn
           FROM samp) WHERE rn <= 16),
       km0 AS MATERIALIZED (
         SELECT k.cell, s.i, s.x AS v
         FROM kinit k JOIN ksamp s ON s.sid = k.vec_id)""" +
      (1 to 5).map(kmIterSql).mkString +
      """,
       zc AS (SELECT e.vec_id, c.cell,
                     e.embedding[c.i]::DOUBLE AS x, c.v AS y
              FROM embeddings e JOIN km5 c ON c.i <= len(e.embedding)),
       d AS (SELECT vec_id, cell, sum((x - y) * (x - y)) AS d2
             FROM zc GROUP BY vec_id, cell),
       assign AS (SELECT vec_id, cell FROM (
           SELECT vec_id, cell,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, cell) AS rn
           FROM d) WHERE rn = 1),
       probes AS (SELECT cell FROM d WHERE vec_id = 0
                  ORDER BY d2, cell LIMIT 4),
       q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       ze AS (SELECT e.vec_id,
                     unnest(e.embedding)::DOUBLE AS x,
                     unnest(q.qe)::DOUBLE AS y
              FROM embeddings e, assign a, q
              WHERE e.vec_id = a.vec_id AND e.vec_id <> 0
                AND a.cell IN (SELECT cell FROM probes)),
       ce AS (SELECT vec_id,
                     sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS cosine_sim
              FROM ze GROUP BY vec_id)
       SELECT vec_id, cosine_sim FROM ce
       ORDER BY cosine_sim DESC, vec_id LIMIT 10"""

  /** One pinned Lloyd iteration for q113's PER-SUBSPACE PQ fit: the
    * km-chain generalized with the subspace index `j` riding every
    * key, so all eight 64-cell sub-fits unroll in ONE chain.
    */
  private def pqIterSql(n: Int): String = {
    val p = s"pm${n - 1}"
    s""",
       pmd$n AS MATERIALIZED (
         SELECT s.sid, s.j, c.cell,
                round(sum((s.x - c.v) * (s.x - c.v)), 9) AS d2
         FROM pksamp s JOIN $p c ON c.j = s.j AND c.i = s.i
         GROUP BY s.sid, s.j, c.cell),
       pma$n AS MATERIALIZED (
         SELECT sid, j, cell FROM (
           SELECT sid, j, cell,
                  row_number() OVER (PARTITION BY sid, j
                                     ORDER BY d2, cell) AS rn
           FROM pmd$n) WHERE rn = 1),
       pm$n AS MATERIALIZED (
         SELECT prev.cell, prev.j, prev.i, coalesce(nm.m, prev.v) AS v
         FROM $p prev
         LEFT JOIN (
           SELECT a.cell, a.j, s.i, round(avg(s.x), 6) AS m
           FROM pma$n a JOIN pksamp s ON s.sid = a.sid AND s.j = a.j
           GROUP BY a.cell, a.j, s.i) nm
           ON nm.cell = prev.cell AND nm.j = prev.j AND nm.i = prev.i)"""
  }

  /** q113's oracle: the eight per-subspace 64-cell codebook fits
    * unrolled (five pinned Lloyd iterations over one composite-key
    * chain), then every corpus vector encoded by raw per-subspace
    * argmin (ties to the lowest code — `Pq.encode`'s rule) and its
    * reconstruction norm re-derived from the chosen centroids.
    */
  private lazy val PqEncodeOracleSql: String =
    """WITH psamp AS (
         SELECT vec_id, embedding FROM embeddings
         WHERE embedding IS NOT NULL
         ORDER BY md5(vec_id::VARCHAR), vec_id::VARCHAR LIMIT 2000),
       pksamp AS MATERIALIZED (
         SELECT s.vec_id AS sid, ((g.i - 1) // 8)::INT AS j,
                (((g.i - 1) % 8) + 1)::INT AS i,
                s.embedding[g.i]::DOUBLE AS x
         FROM psamp s,
              unnest(generate_series(1, len(s.embedding))) AS g(i)),
       pkinit AS (
         SELECT vec_id, rn - 1 AS cell FROM (
           SELECT vec_id, row_number() OVER (
             ORDER BY md5(vec_id::VARCHAR), vec_id::VARCHAR) AS rn
           FROM psamp) WHERE rn <= 64),
       pm0 AS MATERIALIZED (
         SELECT k.cell, s.j, s.i, s.x AS v
         FROM pkinit k JOIN pksamp s ON s.sid = k.vec_id)""" +
      (1 to 5).map(pqIterSql).mkString +
      """,
       ez AS (SELECT e.vec_id, c.j, c.cell,
                     e.embedding[c.j * 8 + c.i]::DOUBLE AS x, c.v AS y
              FROM embeddings e
              JOIN pm5 c ON c.j * 8 + c.i <= len(e.embedding)),
       ed AS (SELECT vec_id, j, cell, sum((x - y) * (x - y)) AS d2
              FROM ez GROUP BY vec_id, j, cell),
       ea AS (SELECT vec_id, j, cell FROM (
           SELECT vec_id, j, cell,
                  row_number() OVER (PARTITION BY vec_id, j
                                     ORDER BY d2, cell) AS rn
           FROM ed) WHERE rn = 1),
       cds AS (SELECT vec_id,
                      string_agg(cell::VARCHAR, ',' ORDER BY j) AS codes
               FROM ea GROUP BY vec_id),
       rcn AS (SELECT a.vec_id, sum(c.v * c.v) AS r2
               FROM ea a JOIN pm5 c ON c.j = a.j AND c.cell = a.cell
               GROUP BY a.vec_id)
       SELECT c.vec_id, c.codes,
              CAST(floor(sqrt(r.r2) * 1e6 + 0.5) AS BIGINT) AS recon_norm
       FROM cds c JOIN rcn r USING (vec_id) ORDER BY c.vec_id"""

  private lazy val IvfRecallOracleSql: String =
    """WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16),
       zc AS (SELECT e.vec_id, c.cid,
                     unnest(e.embedding)::DOUBLE AS x, unnest(c.ce)::DOUBLE AS y
              FROM embeddings e, c),
       d AS (SELECT vec_id, cid, sum((x-y)*(x-y)) AS d2 FROM zc GROUP BY vec_id, cid),
       assign AS (SELECT vec_id, cid FROM (
           SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
           FROM d) WHERE rn = 1),
       probes AS (SELECT cid FROM d WHERE vec_id = 0 ORDER BY d2, cid LIMIT 4),
       q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       ze AS (SELECT e.vec_id, a.cid,
                     unnest(e.embedding)::DOUBLE AS x, unnest(q.qe)::DOUBLE AS y
              FROM embeddings e, assign a, q
              WHERE e.vec_id = a.vec_id AND e.vec_id <> 0),
       ce AS (SELECT vec_id, any_value(cid) AS cid,
                     sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS cs
              FROM ze GROUP BY vec_id),
       ex AS (SELECT vec_id FROM ce ORDER BY cs DESC, vec_id LIMIT 10),
       ivf AS (SELECT vec_id FROM ce WHERE cid IN (SELECT cid FROM probes)
               ORDER BY cs DESC, vec_id LIMIT 10)
       SELECT (SELECT count(*) FROM ivf JOIN ex USING (vec_id))::DOUBLE / 10.0
         AS recall_at_10"""

  /** Ten damping-0.85 PageRank iterations unrolled over an
    * `ew(src, dst, w)` edge base — shared by every PageRank oracle
    * (q109's synthetic fixture, q135's extracted host graph), so the
    * iteration math has ONE spelling. MATERIALIZED throughout: each
    * pr_i is referenced twice by level i+1 (and pr9 a third time by
    * the residual row) — inlined CTEs would expand the unrolled chain
    * EXPONENTIALLY (2^10 copies of the base scan; the residual
    * addition pushed DuckDB past its open-file budget exactly this
    * way).
    */
  private def unrolledPageRankSql(ewBodySql: String): String =
    unrolledPageRankCtes(ewBodySql) +
      """,
           res AS (SELECT sum(abs(a.r - b.r)) AS rr
                   FROM pr10 a JOIN pr9 b ON a.v = b.v)
           SELECT v AS node, round(r, 6) AS pagerank,
                  round(res.rr, 6) AS l1_residual
           FROM pr10, res ORDER BY node"""

  /** One damped power iteration as CTE text, parametrized for q137's
    * three-phase unroll (12 base + 2 warm + 2 cold): `prefix` names
    * the iterate family (`bp`, `wp`, `cp` — iterate i reads
    * `prefix{i-1}`), `g` the graph family whose `{g}shares` /
    * `{g}dang` / `{g}nodes` / `{g}nn` CTEs it runs over.
    */
  private def prIterSql(prefix: String, i: Int, g: String): String = {
    val p = s"$prefix${i - 1}"
    s""",
           ${prefix}dm$i AS MATERIALIZED (
             SELECT coalesce(sum(r), 0) AS m FROM $p
             WHERE v IN (SELECT v FROM ${g}dang)),
           ${prefix}ct$i AS MATERIALIZED (
             SELECT s.dst AS v, sum(p.r * s.share) AS c
             FROM $p p JOIN ${g}shares s ON p.v = s.src GROUP BY s.dst),
           $prefix$i AS MATERIALIZED (
             SELECT n.v,
                    (1 - 0.85) / ${g}nn.n
                      + 0.85 * (coalesce(${prefix}ct$i.c, 0)
                                + ${prefix}dm$i.m / ${g}nn.n) AS r
             FROM ${g}nodes n
             LEFT JOIN ${prefix}ct$i ON n.v = ${prefix}ct$i.v,
                  ${g}nn, ${prefix}dm$i)"""
  }

  /** The `{g}ew/{g}nodes/{g}nn/{g}shares/{g}dang` graph family for
    * [[prIterSql]], from a `(src, dst, w)` body.
    */
  private def prGraphSql(g: String, ewBodySql: String): String =
    s"""${g}ew AS ($ewBodySql),
           ${g}nodes AS (SELECT DISTINCT v FROM
             (SELECT src AS v FROM ${g}ew UNION SELECT dst FROM ${g}ew)),
           ${g}nn AS (SELECT count(*)::DOUBLE AS n FROM ${g}nodes),
           ${g}shares AS (SELECT src, dst,
                                 w / sum(w) OVER (PARTITION BY src) AS share
                          FROM ${g}ew),
           ${g}dang AS (SELECT v FROM ${g}nodes
                        WHERE v NOT IN (SELECT DISTINCT src FROM ${g}ew))"""

  /** The WITH-chain through `pr10` alone, for oracles that consume
    * the converged ranks differently (q178's quota allocation).
    */
  private def unrolledPageRankCtes(ewBodySql: String): String = {
    val base =
      s"""WITH ew AS ($ewBodySql),
           nodes AS (SELECT DISTINCT v
                     FROM (SELECT src AS v FROM ew UNION SELECT dst FROM ew)),
           nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
           shares AS (SELECT src, dst,
                             w / sum(w) OVER (PARTITION BY src) AS share
                      FROM ew),
           dang AS (SELECT v FROM nodes
                    WHERE v NOT IN (SELECT DISTINCT src FROM ew)),
           pr0 AS (SELECT v, 1.0 / nn.n AS r FROM nodes, nn)"""
    val iters = (1 to 10).map { i =>
      val p = s"pr${i - 1}"
      s""",
           dm$i AS MATERIALIZED (SELECT coalesce(sum(r), 0) AS m FROM $p
                    WHERE v IN (SELECT v FROM dang)),
           c$i AS MATERIALIZED (SELECT s.dst AS v, sum(p.r * s.share) AS c
                   FROM $p p JOIN shares s ON p.v = s.src GROUP BY s.dst),
           pr$i AS MATERIALIZED (SELECT nodes.v,
                           (1 - 0.85) / nn.n
                             + 0.85 * (coalesce(c$i.c, 0) + dm$i.m / nn.n) AS r
                    FROM nodes LEFT JOIN c$i ON nodes.v = c$i.v, nn, dm$i)"""
    }.mkString
    base + iters
  }

  /** The five-stage cleanCorpus pipeline (quality gate → lang filter →
    * exact dedup → Md5-lane MinHash/LSH near-dedup → content split) as
    * one DuckDB statement over `source` (a table name or read_parquet
    * call). Shared by q39 (documents) and q49 (the persisted realistic
    * fixture). The gate/exact-dedup/split stages are q44's oracle
    * verbatim; the near-dup stage is the q48 LSH machine at trigram
    * shingles with the j≥0.9 banding (bandsFor(64, 0.9) = 8 bands × 8
    * rows), and components run the q44 reach CTE over the estimated
    * pairs.
    */
  private def cleanCorpusMd5OracleSql(source: String): String =
    raw"""WITH RECURSIVE
         qx AS (
           SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS toks,
             regexp_split_to_array(trim(lower(text)), '\s+') AS ltoks,
             length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))::DOUBLE
               / length(text)::DOUBLE AS punct_ratio
           FROM $source),
         qy AS (
           SELECT doc_id,
             len(toks)::DOUBLE AS ntok,
             len(list_filter(ltoks, t -> list_contains(
               ['the','a','of','and','to','in','is','it','that','for'], t)))::DOUBLE
               / len(toks)::DOUBLE AS sw_ratio,
             list_sum(list_transform(toks, t -> length(t)))::DOUBLE
               / len(toks)::DOUBLE AS avg_len,
             punct_ratio
           FROM qx),
         qual AS (
           SELECT doc_id, round(
               least(ntok / 64.0, 1.0) * 0.3
             + least(sw_ratio * 4.0, 1.0) * 0.3
             + greatest(1.0 - punct_ratio * 4.0, 0.0) * 0.2
             + greatest(1.0 - abs(avg_len - 5.0) / 10.0, 0.0) * 0.2, 6) AS quality
           FROM qy),
         lx AS (
           SELECT doc_id, text AS txt,
                  regexp_split_to_array(trim(lower(text)), '\s+') AS toks
           FROM $source),
         ls AS (
           SELECT doc_id,
             len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS s_en,
             len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','los','se','del','las'], t))) AS s_es,
             len(list_filter(toks, t -> list_contains(['der','die','und','das','ist','nicht','ein','zu','den','mit'], t))) AS s_de,
             len(list_filter(toks, t -> list_contains(['le','la','les','de','et','un','une','est','que','pour'], t))) AS s_fr,
             len(list_filter(['的','是','在','了','我','有','和','人','这','不'],
                             w -> contains(txt, w))) AS s_zh
           FROM lx),
         lp AS (
           SELECT doc_id, CASE
             WHEN s_en IS NULL THEN 'und'
             WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
             WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
             WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
             WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
             WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
             ELSE 'zh' END AS lang_pred
           FROM ls),
         gated AS (
           SELECT d.doc_id, d.text
           FROM $source d
           JOIN qual ON d.doc_id = qual.doc_id
           JOIN lp ON d.doc_id = lp.doc_id
           WHERE qual.quality >= 0.2 AND lp.lang_pred = 'en'),
         ex AS (
           SELECT doc_id, text FROM (
             SELECT doc_id, text, row_number() OVER (
               PARTITION BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
               ORDER BY doc_id) AS rn
             FROM gated)
           WHERE rn = 1),
         tok AS (SELECT doc_id,
                   regexp_split_to_array(
                     trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                     ' ') AS tk
                 FROM ex),
         sh AS (SELECT DISTINCT doc_id, s FROM (
                  SELECT doc_id,
                    CASE WHEN len(tk) < 3 THEN array_to_string(tk, ' ')
                         ELSE tk[sg.i] || ' ' || tk[sg.i + 1] || ' '
                              || tk[sg.i + 2] END AS s
                  FROM tok, unnest(generate_series(
                    1, greatest(len(tk) - 2, 1))) AS sg(i))),
         g AS (SELECT doc_id,
                 ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS gm
               FROM sh),
         fam AS (SELECT f.i AS i,
                        ((2 * f.i + 1) * 2654435761) % 2147483647 AS a,
                        (f.i * 40503 + 1) % 2147483647 AS b
                 FROM unnest(generate_series(0, 63)) AS f(i)),
         sig AS (SELECT doc_id, i, min((gm * a + b) % 2147483647) AS h
                 FROM g, fam GROUP BY doc_id, i),
         arr AS (SELECT doc_id, list(h ORDER BY i) AS sg
                 FROM sig GROUP BY doc_id),
         bands AS (SELECT doc_id, bd.b AS band,
                          sg[bd.b * 8 + 1 : bd.b * 8 + 8] AS sl
                   FROM arr, unnest(generate_series(0, 7)) AS bd(b)),
         cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
                  FROM bands x JOIN bands y
                    ON x.band = y.band AND x.sl = y.sl
                   AND x.doc_id < y.doc_id),
         mt AS (SELECT c.id_a, c.id_b,
                       sum(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) AS m
                FROM cand c
                JOIN sig sa ON sa.doc_id = c.id_a
                JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
                GROUP BY c.id_a, c.id_b),
         p AS (SELECT id_a, id_b FROM mt WHERE m / 64.0 >= 0.9),
         e AS (SELECT id_a AS src, id_b AS dst FROM p
               UNION ALL SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM ex
           UNION
           SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
         comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
         SELECT ex.doc_id,
                CASE WHEN md5(ex.text) < '0d' THEN 'test'
                     WHEN md5(ex.text) < '1a' THEN 'val'
                     ELSE 'train' END AS split
         FROM ex JOIN comp ON ex.doc_id = comp.id
         WHERE comp.component = ex.doc_id
         ORDER BY ex.doc_id"""

  def oracleSql: Map[String, String] = Map(
    "q01_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
         l_extendedprice * (1 - l_discount) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_returnflag = 'A'
         ORDER BY l_orderkey, l_linenumber""",

    "q02_kpi_global" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(38,12))) AS DOUBLE) AS total_fare,
         count(*) AS count_trips,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(38,12))) AS DOUBLE)
           / count(l_extendedprice) AS average_fare,
         max(l_extendedprice) AS max_fare,
         min(l_extendedprice) AS min_fare FROM lineitem""",

    "q03_agg_grouped" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
           / count(l_discount) AS avg_disc,
         count(*) AS n
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q04_daily_kpis" ->
      """SELECT CAST(ts AS DATE) AS date,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS total_fare,
         count(*) AS count_trips,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
           / count(value) AS average_fare,
         max(value) AS max_fare, min(value) AS min_fare
         FROM events WHERE event_type <> 'error'
         GROUP BY CAST(ts AS DATE) ORDER BY date""",

    // The streaming replay must land on q04's batch answer exactly:
    // same oracle, verbatim
    "q89_streaming_daily_kpis" ->
      """SELECT CAST(ts AS DATE) AS date,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS total_fare,
         count(*) AS count_trips,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
           / count(value) AS average_fare,
         max(value) AS max_fare, min(value) AS min_fare
         FROM events WHERE event_type <> 'error'
         GROUP BY CAST(ts AS DATE) ORDER BY date""",

    "q05_kpi_single_date" ->
      """SELECT CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS total_fare,
         count(*) AS count_trips,
         CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
           / count(value) AS average_fare,
         max(value) AS max_fare,
         min(value) AS min_fare
         FROM events
         WHERE event_type <> 'error' AND CAST(ts AS DATE) = DATE '2024-01-15'""",

    "q06_join_inner" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q07_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
         ORDER BY c_custkey""",

    "q08_join_semi" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
         ORDER BY o_orderkey""",

    "q09_join_multi" ->
      """SELECT r_name, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM region
         JOIN nation ON r_regionkey = n_regionkey
         JOIN customer ON n_nationkey = c_nationkey
         JOIN orders ON c_custkey = o_custkey
         GROUP BY r_name ORDER BY r_name""",

    "q10_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",

    "q11_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rank
           FROM orders)
         WHERE rank <= 3 ORDER BY o_custkey, rank""",

    "q12_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_suppkey) AS n_supps
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q13_stats_summary" ->
      """WITH m AS (
           SELECT 'o_totalprice' AS col_name, count(o_totalprice) AS count,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))
                      * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s2,
             CAST(count(o_totalprice) AS DOUBLE) AS n,
             CAST(min(o_totalprice) AS DOUBLE) AS min,
             CAST(max(o_totalprice) AS DOUBLE) AS max FROM orders
           UNION ALL
           SELECT 'o_custkey', count(o_custkey),
             CAST(sum(CAST(o_custkey AS DECIMAL(18,2))) AS DOUBLE),
             CAST(sum(CAST(o_custkey AS DECIMAL(18,2))
                      * CAST(o_custkey AS DECIMAL(18,2))) AS DOUBLE),
             CAST(count(o_custkey) AS DOUBLE),
             CAST(min(o_custkey) AS DOUBLE),
             CAST(max(o_custkey) AS DOUBLE) FROM orders)
         SELECT col_name, count, s1 / n AS mean,
                CASE WHEN n > 1.0
                     THEN sqrt(greatest(s2 - s1 * s1 / n, 0.0) / (n - 1.0))
                     END AS stddev, min, max
         FROM m ORDER BY col_name""",

    "q14_set_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         ORDER BY o_custkey""",

    "q15_json_extract" ->
      """SELECT event_type,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q16_prev_day" ->
      """SELECT strftime(CAST(max(ts) AS DATE) - INTERVAL 1 DAY, '%Y-%m-%d') AS prev_day
         FROM events""",

    "q17_dedup_exact" ->
      """SELECT doc_id, n_chars FROM (
           SELECT doc_id, n_chars,
                  row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           FROM documents)
         WHERE rn = 1 ORDER BY doc_id""",

    "q18_dedup_groups" ->
      """SELECT lang, source, min(doc_id) AS representative, count(*) AS n_copies
         FROM documents GROUP BY lang, source ORDER BY lang, source""",

    "q19_fingerprint" ->
      """SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
         FROM documents ORDER BY doc_id""",

    "q20_token_counts" ->
      """SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpeish
         FROM documents ORDER BY doc_id""",

    "q21_quality_score" ->
      """WITH x AS (
           SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS toks,
             regexp_split_to_array(trim(lower(text)), '\s+') AS ltoks,
             length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))::DOUBLE
               / length(text)::DOUBLE AS punct_ratio
           FROM documents),
         y AS (
           SELECT doc_id,
             len(toks)::DOUBLE AS ntok,
             len(list_filter(ltoks, t -> list_contains(
               ['the','a','of','and','to','in','is','it','that','for'], t)))::DOUBLE
               / len(toks)::DOUBLE AS sw_ratio,
             list_sum(list_transform(toks, t -> length(t)))::DOUBLE
               / len(toks)::DOUBLE AS avg_len,
             punct_ratio
           FROM x)
         SELECT doc_id, round(
             least(ntok / 64.0, 1.0) * 0.3
           + least(sw_ratio * 4.0, 1.0) * 0.3
           + greatest(1.0 - punct_ratio * 4.0, 0.0) * 0.2
           + greatest(1.0 - abs(avg_len - 5.0) / 10.0, 0.0) * 0.2, 6) AS quality
         FROM y ORDER BY doc_id""",

    "q22_lang_id" ->
      """WITH x AS (
           SELECT text AS txt,
                  regexp_split_to_array(trim(lower(text)), '\s+') AS toks
           FROM documents),
         s AS (
           SELECT
             len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS s_en,
             len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','los','se','del','las'], t))) AS s_es,
             len(list_filter(toks, t -> list_contains(['der','die','und','das','ist','nicht','ein','zu','den','mit'], t))) AS s_de,
             len(list_filter(toks, t -> list_contains(['le','la','les','de','et','un','une','est','que','pour'], t))) AS s_fr,
             len(list_filter(['的','是','在','了','我','有','和','人','这','不'],
                             w -> contains(txt, w))) AS s_zh
           FROM x),
         p AS (
           SELECT CASE
             WHEN s_en IS NULL THEN 'und'
             WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
             WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
             WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
             WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
             WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
             ELSE 'zh' END AS lang_pred
           FROM s)
         SELECT lang_pred, count(*) AS n FROM p
         GROUP BY lang_pred ORDER BY lang_pred""",

    "q23_cosine_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         z AS (SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x,
                      unnest(q.qe)::DOUBLE AS y
               FROM embeddings e, q WHERE e.vec_id <> 0),
         c AS (SELECT vec_id,
                      sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS cosine_sim
               FROM z GROUP BY vec_id)
         SELECT vec_id, cosine_sim FROM c
         ORDER BY cosine_sim DESC, vec_id LIMIT 10""",

    "q24_embedding_neardup" ->
      """WITH z AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                      unnest(a.embedding)::DOUBLE AS x,
                      unnest(b.embedding)::DOUBLE AS y
               FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id),
         c AS (SELECT id_a, id_b,
                      sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS cosine_sim
               FROM z GROUP BY id_a, id_b)
         SELECT id_a, id_b, cosine_sim FROM c
         WHERE cosine_sim >= 0.4 ORDER BY id_a, id_b""",

    "q25_topk_join" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                    FROM embeddings WHERE vec_id < 5),
         z AS (SELECT q.query_id, e.vec_id AS id,
                      unnest(e.embedding)::DOUBLE AS x, unnest(q.qe)::DOUBLE AS y
               FROM embeddings e, q WHERE e.vec_id <> q.query_id),
         c AS (SELECT query_id, id,
                      sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS cosine_sim
               FROM z GROUP BY query_id, id),
         r AS (SELECT query_id, id, cosine_sim,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine_sim DESC, id) AS rank
               FROM c)
         SELECT query_id, id, cosine_sim, rank FROM r
         WHERE rank <= 5 ORDER BY query_id, rank""",

    "q26_envelope_meta" ->
      """SELECT doc_id AS media_id, 'image' AS kind,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         md5(text) AS content_md5
         FROM documents ORDER BY media_id""",

    "q41_asof_join" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
              c.value AS asof_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON p.user_id = c.user_id AND p.ts >= c.ts
         ORDER BY p.event_id""",

    "q42_nonequi_join" ->
      """SELECT o_orderpriority, count(*) AS n,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem JOIN orders
           ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q40_percentiles" ->
      """SELECT o_orderpriority,
         quantile_cont(o_totalprice, 0.5) AS p50,
         quantile_cont(o_totalprice, 0.9) AS p90
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // exact distinct closed-form; the sketch's accuracy claim arrives
    // as the deterministic within_bound boolean (TRUE iff HLL++ landed
    // inside 3×rsd of exact, which the Spark side actually computes)
    "q43_approx_distinct" ->
      """SELECT l_returnflag,
         count(DISTINCT l_partkey)::BIGINT AS exact_parts,
         TRUE AS within_bound
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // exact interpolated percentiles (q40's spelling) + GK-sketch
    // rank-window booleans the Spark side computes for real
    "q62_approx_percentiles" ->
      """SELECT o_orderpriority,
         quantile_cont(o_totalprice, 0.5) AS p50,
         quantile_cont(o_totalprice, 0.9) AS p90,
         TRUE AS p50_within,
         TRUE AS p90_within
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // exact unigram-Jaccard pair count (q27's spelling at j>=0.7);
    // LSH recall/precision floors arrive as measured booleans
    "q47_minhash_vs_exact" ->
      """WITH w AS (SELECT doc_id,
                      list_distinct(regexp_split_to_array(
                        trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                        ' ')) AS words
               FROM documents),
         p AS (SELECT len(list_intersect(a.words, b.words))::DOUBLE AS c,
                      len(a.words)::DOUBLE AS na, len(b.words)::DOUBLE AS nb
               FROM w a, w b WHERE a.doc_id < b.doc_id)
         SELECT count(*)::BIGINT AS n_exact,
                TRUE AS recall_floor_met, TRUE AS precision_floor_met
         FROM p WHERE c / (na + nb - c) >= 0.7""",

    // closed-form eval-set size; PCA's Rayleigh-optimality and captured-
    // variance floor arrive as booleans the Spark side measures
    "q107_pca_quality" ->
      """SELECT 64 AS dim, 8 AS r,
         (SELECT count(*) FROM embeddings)::BIGINT AS n_vectors,
         TRUE AS pca_beats_random, TRUE AS pca_fraction_floor_met""",

    // the centering re-derived exactly (per-dimension means + centered
    // distance); the projection arrives as the three measured booleans
    // (row-wise contraction, Parseval vs the top-8 eigenvalue mass,
    // captured-mass floor)
    "q106_pca_project" ->
      """WITH m AS (
           SELECT g.i AS i, avg(e.embedding[g.i]::DOUBLE) AS mu
           FROM embeddings e,
                unnest(generate_series(1, len(e.embedding))) AS g(i)
           GROUP BY g.i),
         c AS (
           SELECT e.vec_id,
                  sum((e.embedding[m.i]::DOUBLE - m.mu)
                      * (e.embedding[m.i]::DOUBLE - m.mu)) AS c2
           FROM embeddings e JOIN m ON m.i <= len(e.embedding)
           GROUP BY e.vec_id)
         SELECT vec_id,
                CAST(floor(sqrt(c2) * 1e6 + 0.5) AS BIGINT)
                  AS centered_norm,
                TRUE AS proj_contracts, TRUE AS parseval_consistent,
                TRUE AS mass_floor_met
         FROM c ORDER BY vec_id""",

    // closed-form held-out count (odd doc_ids with text); the
    // calibration contract arrives as measured booleans
    "q148_calibration" ->
      """SELECT count(*)::BIGINT AS n,
         TRUE AS platt_improves_ece, TRUE AS platt_improves_brier,
         TRUE AS ece_platt_small
         FROM documents WHERE doc_id % 2 = 1 AND text IS NOT NULL""",

    "q37_content_sample" ->
      """SELECT doc_id, n_chars FROM documents
         WHERE md5(text) < '20' ORDER BY doc_id""",

    "q38_content_split" ->
      """SELECT CASE WHEN md5(text) < '0d' THEN 'test'
                     WHEN md5(text) < '1a' THEN 'val'
                     ELSE 'train' END AS split, count(*) AS n
         FROM documents GROUP BY 1 ORDER BY split""",

    "q35_sessionize" ->
      """WITH x AS (
           SELECT user_id, ts, value,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
           FROM events),
         y AS (
           SELECT user_id, ts, value,
                  CASE WHEN prev IS NULL
                            OR date_diff('second', prev, ts) > 1800
                       THEN 1 ELSE 0 END AS new_session
           FROM x),
         z AS (
           SELECT user_id, value,
                  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                    AS session_seq
           FROM y)
         SELECT user_id, session_seq, count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS session_value
         FROM z GROUP BY user_id, session_seq
         ORDER BY user_id, session_seq""",

    "q36_rollup" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
              count(*) AS n
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",

    // q32: every stub row's fake envelope is REPLAYED EXACTLY — fnv1a-64
    // + the mix finalizer in mod-2^64 HUGEINT arithmetic over the same
    // UTF-8 payload bytes (the 128-bit-overflowing multiply split into
    // 32-bit halves), features through the same float32 cast and
    // micro-unit floor. Planted rows: WAV PCM stats RE-DECODED from the
    // persisted payload bytes (int16-LE byte math over hex(payload) —
    // every stat derives from exact integer sums, so the double
    // divide/sqrt on top is correctly rounded in both engines);
    // lossless image means re-derived from closed-form integer ramp /
    // palette sums (the 16-bit PNG's 257-scaled sums divide out
    // bit-identically). The 2^63 abs edge (math.abs(Long.MinValue))
    // is unreachable for any practical fixture (P ~ 2^-64 per value).
    // JPEG rows are lossy: NULL features + the tol_ok boolean, whose
    // 0.02 bound JpegSpec pins against the JDK's independent ImageIO
    // decode — expected TRUE.
    "q32_multimodal_features" ->
      s"""WITH fh AS (
  SELECT doc_id::BIGINT AS media_id,
         octet_length(encode(text))::BIGINT AS n_bytes,
         list_reduce(
           list_prepend(14695981039346656037::HUGEINT,
             list_transform(range(octet_length(encode(text))),
               i -> ('0x' || substr(hex(encode(text)), 2*i+1, 2))::INT::HUGEINT)),
           (h, b) -> (xor(h, b) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS h
  FROM documents),
m1 AS (SELECT *, (h + 1*11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS xx1, (h + 2*11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS xx2, (h + 4*11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS xx4, (h + 5*11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS xx5, (h + 6*11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS xx6, (h + 7*11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS xx7 FROM fh),
m2 AS (SELECT *, xor(xx1, xx1 >> 33) AS a1, xor(xx2, xx2 >> 33) AS a2, xor(xx4, xx4 >> 33) AS a4, xor(xx5, xx5 >> 33) AS a5, xor(xx6, xx6 >> 33) AS a6, xor(xx7, xx7 >> 33) AS a7 FROM m1),
m3 AS (SELECT *, ((a1 % 4294967296::HUGEINT) * 18397679294719823053::HUGEINT + ((a1 >> 32) * 18397679294719823053::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS b1, ((a2 % 4294967296::HUGEINT) * 18397679294719823053::HUGEINT + ((a2 >> 32) * 18397679294719823053::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS b2, ((a4 % 4294967296::HUGEINT) * 18397679294719823053::HUGEINT + ((a4 >> 32) * 18397679294719823053::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS b4, ((a5 % 4294967296::HUGEINT) * 18397679294719823053::HUGEINT + ((a5 >> 32) * 18397679294719823053::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS b5, ((a6 % 4294967296::HUGEINT) * 18397679294719823053::HUGEINT + ((a6 >> 32) * 18397679294719823053::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS b6, ((a7 % 4294967296::HUGEINT) * 18397679294719823053::HUGEINT + ((a7 >> 32) * 18397679294719823053::HUGEINT % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS b7 FROM m2),
m4 AS (SELECT *, xor(b1, b1 >> 33) AS x1, xor(b2, b2 >> 33) AS x2, xor(b4, b4 >> 33) AS x4, xor(b5, b5 >> 33) AS x5, xor(b6, b6 >> 33) AS x6, xor(b7, b7 >> 33) AS x7 FROM m3),
stub AS (
  SELECT media_id, 'image' AS kind, n_bytes,
         (64 + ((CASE WHEN x1 >= 9223372036854775808::HUGEINT THEN 18446744073709551616::HUGEINT - x1 ELSE x1 END) % 1920))::INT AS width,
         (64 + ((CASE WHEN x2 >= 9223372036854775808::HUGEINT THEN 18446744073709551616::HUGEINT - x2 ELSE x2 END) % 1080))::INT AS height,
         0::BIGINT AS duration_ms,
         CAST(floor(CAST(((CASE WHEN x4 >= 9223372036854775808::HUGEINT THEN ((x4) - 18446744073709551616::HUGEINT)::BIGINT ELSE (x4)::BIGINT END)::DOUBLE / 9223372036854775807::BIGINT::DOUBLE) AS FLOAT)::DOUBLE * 1e6 + 0.5) AS BIGINT) AS f0u, CAST(floor(CAST(((CASE WHEN x5 >= 9223372036854775808::HUGEINT THEN ((x5) - 18446744073709551616::HUGEINT)::BIGINT ELSE (x5)::BIGINT END)::DOUBLE / 9223372036854775807::BIGINT::DOUBLE) AS FLOAT)::DOUBLE * 1e6 + 0.5) AS BIGINT) AS f1u, CAST(floor(CAST(((CASE WHEN x6 >= 9223372036854775808::HUGEINT THEN ((x6) - 18446744073709551616::HUGEINT)::BIGINT ELSE (x6)::BIGINT END)::DOUBLE / 9223372036854775807::BIGINT::DOUBLE) AS FLOAT)::DOUBLE * 1e6 + 0.5) AS BIGINT) AS f2u, CAST(floor(CAST(((CASE WHEN x7 >= 9223372036854775808::HUGEINT THEN ((x7) - 18446744073709551616::HUGEINT)::BIGINT ELSE (x7)::BIGINT END)::DOUBLE / 9223372036854775807::BIGINT::DOUBLE) AS FLOAT)::DOUBLE * 1e6 + 0.5) AS BIGINT) AS f3u,
         TRUE AS tol_ok
  FROM m4),
pm AS (
  SELECT media_id, kind, payload,
         octet_length(payload)::BIGINT AS n_bytes,
         hex(payload) AS hp
  FROM read_parquet('$FixtureDir/planted_media-${plantedMediaRows.size}/*.parquet')),
wav0 AS (
  SELECT media_id, kind, n_bytes,
    list_transform(
      list_transform(range((octet_length(payload) - 44) // 2),
        s -> ('0x' || substr(hp, 2*(44 + 2*s) + 1, 2))::INT
           + 256 * ('0x' || substr(hp, 2*(45 + 2*s) + 1, 2))::INT),
      u -> CASE WHEN u >= 32768 THEN u - 65536 ELSE u END) AS vs
  FROM pm WHERE media_id IN (-1, -2)),
wav1 AS (
  SELECT media_id, kind, n_bytes, len(vs)::BIGINT AS n,
    list_sum(list_transform(vs, v -> v::BIGINT * v))::BIGINT AS sumsq,
    list_max(list_transform(vs, v -> abs(v)))::BIGINT AS peak,
    len(list_filter(vs, v -> abs(v) >= 32767))::BIGINT AS clipped,
    list_filter(list_transform(vs, v -> CASE WHEN v > 0 THEN 1
      WHEN v < 0 THEN -1 ELSE 0 END), sg -> sg != 0) AS sgns
  FROM wav0),
wav AS (
  SELECT media_id, kind, n_bytes, 0::INT AS width, 0::INT AS height,
    ((n_bytes - 44) * 1000) // 32000 AS duration_ms,
    CAST(floor(CAST((sqrt(sumsq::DOUBLE / n::DOUBLE) / 32768.0) AS FLOAT)::DOUBLE * 1e6 + 0.5) AS BIGINT) AS f0u,
    CAST(floor(CAST((peak::DOUBLE / 32768.0) AS FLOAT)::DOUBLE * 1e6 + 0.5) AS BIGINT) AS f1u,
    CAST(floor(CAST((clipped::DOUBLE / n::DOUBLE) AS FLOAT)::DOUBLE * 1e6 + 0.5) AS BIGINT) AS f2u,
    CAST(floor(CAST((coalesce(list_sum(list_transform(range(2, len(sgns)+1), i -> CASE WHEN sgns[i] != sgns[i-1] THEN 1 ELSE 0 END)), 0)::DOUBLE / (n - 1)::DOUBLE) AS FLOAT)::DOUBLE * 1e6 + 0.5) AS BIGINT) AS f3u,
    TRUE AS tol_ok
  FROM wav1),
rs AS (
  SELECT (SELECT sum(x*255//63) FROM range(64) t(x))::BIGINT AS r64,
         (SELECT sum(x*255//31) FROM range(32) t(x))::BIGINT AS r32,
         (SELECT sum(x*255//15) FROM range(16) t(x))::BIGINT AS r16,
         (SELECT sum(x*255//9)  FROM range(10) t(x))::BIGINT AS r10,
         (SELECT count(*) FROM range(19) a(x), range(11) b(y) WHERE (x+y)%4=0)::BIGINT AS c0,
         (SELECT count(*) FROM range(19) a(x), range(11) b(y) WHERE (x+y)%4=1)::BIGINT AS c1,
         (SELECT count(*) FROM range(19) a(x), range(11) b(y) WHERE (x+y)%4=2)::BIGINT AS c2,
         (SELECT count(*) FROM range(19) a(x), range(11) b(y) WHERE (x+y)%4=3)::BIGINT AS c3),
img0 AS (
  -- (media_id, width, height, fr, fg, fb) per lossless image fixture,
  -- channel means re-derived from the closed-form integer ramp sums
  SELECT * FROM (
    SELECT -3 AS media_id, 64 AS w, 32 AS h,
      (32*r64)::DOUBLE / (64*32*255) AS fr, (64*r32)::DOUBLE / (64*32*255) AS fg,
      (64*32*32)::DOUBLE / (64*32*255) AS fb FROM rs
    UNION ALL SELECT -4, 16, 16, (16*r16)::DOUBLE / (16*16*255),
      (16*r16)::DOUBLE / (16*16*255), (16*16*32)::DOUBLE / (16*16*255) FROM rs
    UNION ALL SELECT -5, 64, 32, (32*r64)::DOUBLE / (2048.0*255.0),
      (32*r64)::DOUBLE / (2048.0*255.0), (32*r64)::DOUBLE / (2048.0*255.0) FROM rs
    UNION ALL SELECT -6, 16, 16, (16*r16)::DOUBLE / (256.0*255.0),
      (16*r16)::DOUBLE / (256.0*255.0), (16*16*32)::DOUBLE / (256.0*255.0) FROM rs
    UNION ALL SELECT -7, 16, 10, (10*r16)::DOUBLE / (160*255),
      (16*r10)::DOUBLE / (160*255), (160*32)::DOUBLE / (160*255) FROM rs
    UNION ALL SELECT -8, 16, 10, (10*r16)::DOUBLE / (160*255),
      (16*r10)::DOUBLE / (160*255), (160*32)::DOUBLE / (160*255) FROM rs
    UNION ALL SELECT -12, 19, 11, (255*c0 + 96*c3)::DOUBLE / (209*255),
      (255*c1 + 96*c3)::DOUBLE / (209*255), (255*c2 + 96*c3)::DOUBLE / (209*255) FROM rs
    UNION ALL SELECT -13, 19, 11, (255*c0 + 96*c3)::DOUBLE / (209*255),
      (255*c1 + 96*c3)::DOUBLE / (209*255), (255*c2 + 96*c3)::DOUBLE / (209*255) FROM rs
    UNION ALL SELECT -14, 16, 10, (257*10*r16)::DOUBLE / (160*65535),
      (257*16*r10)::DOUBLE / (160*65535), (257*160*32)::DOUBLE / (160*65535) FROM rs)),
img AS (
  SELECT i.media_id, 'image' AS kind, p.n_bytes, i.w::INT AS width,
    i.h::INT AS height, 0::BIGINT AS duration_ms,
    CAST(floor(CAST((fr) AS FLOAT)::DOUBLE * 1e6 + 0.5) AS BIGINT) AS f0u, CAST(floor(CAST((fg) AS FLOAT)::DOUBLE * 1e6 + 0.5) AS BIGINT) AS f1u, CAST(floor(CAST((fb) AS FLOAT)::DOUBLE * 1e6 + 0.5) AS BIGINT) AS f2u,
    CAST(floor(CAST((0.299::DOUBLE * fr + 0.587::DOUBLE * fg + 0.114::DOUBLE * fb) AS FLOAT)::DOUBLE * 1e6 + 0.5) AS BIGINT) AS f3u,
    TRUE AS tol_ok
  FROM img0 i JOIN pm p USING (media_id)),
jpeg AS (
  SELECT media_id, 'image' AS kind, n_bytes, 24::INT AS width,
    16::INT AS height, 0::BIGINT AS duration_ms,
    NULL::BIGINT AS f0u, NULL::BIGINT AS f1u, NULL::BIGINT AS f2u,
    NULL::BIGINT AS f3u, TRUE AS tol_ok
  FROM pm WHERE media_id IN (-9, -10, -11))
SELECT * FROM stub
UNION ALL SELECT * FROM wav
UNION ALL SELECT * FROM img
UNION ALL SELECT * FROM jpeg
ORDER BY media_id""",

    "q33_tfidf" ->
      """WITH terms AS (
           SELECT doc_id,
             unnest(regexp_split_to_array(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
               ' ')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
         dfq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY term),
         n AS (SELECT count(*) AS nn FROM documents)
         SELECT doc_id, term, tf,
                tf::DOUBLE * (ln((nn + 1)::DOUBLE / (dfreq + 1)::DOUBLE) + 1.0) AS weight
         FROM tf JOIN dfq USING (term), n
         ORDER BY doc_id, term""",

    "q27_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id,
                      list_distinct(regexp_split_to_array(
                        trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                        ' ')) AS words
               FROM documents),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                      len(list_intersect(a.words, b.words))::DOUBLE AS c,
                      len(a.words)::DOUBLE AS na, len(b.words)::DOUBLE AS nb
               FROM w a, w b WHERE a.doc_id < b.doc_id)
         SELECT id_a, id_b, c / (na + nb - c) AS jaccard FROM p
         WHERE c / (na + nb - c) >= 0.8 ORDER BY id_a, id_b""",

    // The ENTIRE LSH machine re-derived: md5→mod-p shingle hashing,
    // the 64 Carter–Wegman lanes (same a/b scheme as Dedup.md5LaneA/B),
    // per-lane minima, 16×4 band collisions (exact slice equality — the
    // band hash is equality's proxy), and the match-count estimator.
    // est_jaccard = m/64.0 is a dyadic rational: exact in both engines,
    // no rounding needed.
    "q28_minhash_pairs" ->
      """WITH w AS (
           SELECT DISTINCT doc_id, s FROM (
             SELECT doc_id,
               unnest(regexp_split_to_array(
                 trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                 ' ')) AS s
             FROM documents WHERE text IS NOT NULL)),
         g AS (SELECT doc_id,
                 ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS gm
               FROM w),
         fam AS (SELECT f.i AS i,
                        ((2 * f.i + 1) * 2654435761) % 2147483647 AS a,
                        (f.i * 40503 + 1) % 2147483647 AS b
                 FROM unnest(generate_series(0, 63)) AS f(i)),
         sig AS (SELECT doc_id, i, min((gm * a + b) % 2147483647) AS h
                 FROM g, fam GROUP BY doc_id, i),
         arr AS (SELECT doc_id, list(h ORDER BY i) AS sg
                 FROM sig GROUP BY doc_id),
         bands AS (SELECT doc_id, bd.b AS band,
                          sg[bd.b * 4 + 1 : bd.b * 4 + 4] AS sl
                   FROM arr, unnest(generate_series(0, 15)) AS bd(b)),
         cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
                  FROM bands x JOIN bands y
                    ON x.band = y.band AND x.sl = y.sl
                   AND x.doc_id < y.doc_id),
         mt AS (SELECT c.id_a, c.id_b,
                       sum(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) AS m
                FROM cand c
                JOIN sig sa ON sa.doc_id = c.id_a
                JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
                GROUP BY c.id_a, c.id_b)
         SELECT id_a, id_b, m / 64.0 AS est_jaccard
         FROM mt WHERE m / 64.0 >= 0.7""",

    // q28's LSH machine verbatim, but over the persisted realistic-
    // corpus fixture the query itself wrote (Verify runs before the
    // oracle, so the file is always the corpus Spark just processed)
    "q48_minhash_realistic" ->
      raw"""WITH w AS (
           SELECT DISTINCT doc_id, s FROM (
             SELECT doc_id,
               unnest(regexp_split_to_array(
                 trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                 ' ')) AS s
             FROM read_parquet(
               '$FixtureDir/realistic_corpus.parquet-*/*.parquet')
             WHERE text IS NOT NULL)),
         g AS (SELECT doc_id,
                 ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS gm
               FROM w),
         fam AS (SELECT f.i AS i,
                        ((2 * f.i + 1) * 2654435761) % 2147483647 AS a,
                        (f.i * 40503 + 1) % 2147483647 AS b
                 FROM unnest(generate_series(0, 63)) AS f(i)),
         sig AS (SELECT doc_id, i, min((gm * a + b) % 2147483647) AS h
                 FROM g, fam GROUP BY doc_id, i),
         arr AS (SELECT doc_id, list(h ORDER BY i) AS sg
                 FROM sig GROUP BY doc_id),
         bands AS (SELECT doc_id, bd.b AS band,
                          sg[bd.b * 4 + 1 : bd.b * 4 + 4] AS sl
                   FROM arr, unnest(generate_series(0, 15)) AS bd(b)),
         cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
                  FROM bands x JOIN bands y
                    ON x.band = y.band AND x.sl = y.sl
                   AND x.doc_id < y.doc_id),
         mt AS (SELECT c.id_a, c.id_b,
                       sum(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) AS m
                FROM cand c
                JOIN sig sa ON sa.doc_id = c.id_a
                JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
                GROUP BY c.id_a, c.id_b)
         SELECT id_a, id_b, m / 64.0 AS est_jaccard
         FROM mt WHERE m / 64.0 >= 0.7""",

    // q28's LSH machine, cross-dataset: the paraphrased benchmark
    // rebuilt in SQL (every 5th token replaced), BOTH sides' 128-lane
    // signatures over 3-gram shingles (short docs shingle to their
    // whole text, the q66 rule), 64×2 band collisions corpus×bench,
    // and the per-doc contamination rollup
    "q87_fuzzy_decontamination" ->
      """WITH base AS (
           SELECT doc_id,
             regexp_split_to_array(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
               ' ') AS w
           FROM documents WHERE text IS NOT NULL),
         bench AS (
           SELECT b.doc_id AS id,
             list(CASE WHEN (g.i - 1) % 5 = 4 THEN 'qzparaphrase'
                       ELSE b.w[g.i] END ORDER BY g.i) AS w
           FROM base b, unnest(generate_series(1, len(b.w))) AS g(i)
           WHERE b.doc_id % 50 = 0 GROUP BY b.doc_id),
         u AS (SELECT 'c' AS side, doc_id AS id, w FROM base
               UNION ALL SELECT 'b', id, w FROM bench),
         sh AS (
           SELECT DISTINCT side, id,
             CASE WHEN len(w) < 3 THEN array_to_string(w, ' ')
                  ELSE w[g.i] || ' ' || w[g.i + 1] || ' ' || w[g.i + 2]
             END AS s
           FROM u, unnest(generate_series(1, greatest(len(w) - 2, 1)))
                AS g(i)),
         g2 AS (SELECT side, id,
                  ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS gm
                FROM sh),
         fam AS (SELECT f.i AS i,
                        ((2 * f.i + 1) * 2654435761) % 2147483647 AS a,
                        (f.i * 40503 + 1) % 2147483647 AS b
                 FROM unnest(generate_series(0, 127)) AS f(i)),
         sig AS (SELECT side, id, i, min((gm * a + b) % 2147483647) AS h
                 FROM g2, fam GROUP BY side, id, i),
         arr AS (SELECT side, id, list(h ORDER BY i) AS sg
                 FROM sig GROUP BY side, id),
         bnd AS (SELECT side, id, bd.b AS band,
                        sg[bd.b * 2 + 1 : bd.b * 2 + 2] AS sl
                 FROM arr, unnest(generate_series(0, 63)) AS bd(b)),
         cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
                  FROM bnd x JOIN bnd y
                    ON x.band = y.band AND x.sl = y.sl
                  WHERE x.side = 'c' AND y.side = 'b'),
         mt AS (SELECT c.id_a, c.id_b,
                       sum(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) AS m
                FROM cand c
                JOIN sig sa ON sa.side = 'c' AND sa.id = c.id_a
                JOIN sig sb ON sb.side = 'b' AND sb.id = c.id_b
                           AND sb.i = sa.i
                GROUP BY c.id_a, c.id_b)
         SELECT id_a AS doc_id, count(*)::BIGINT AS n_bench_matches,
                CAST(floor(max(m / 128.0) * 1e6 + 0.5) AS BIGINT)
                  AS max_est_jaccard
         FROM mt WHERE m / 128.0 >= 0.2
         GROUP BY id_a ORDER BY doc_id""",

    // The SimHash pigeonhole machine re-derived: 60 md5 bits per token
    // (multiset — occurrences count), per-bit strict-majority votes,
    // 16-bit chunk buckets, exact Hamming verify at <= 3
    "q29_simhash_pairs" ->
      """WITH toks AS (
           SELECT doc_id,
             unnest(regexp_split_to_array(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
               ' ')) AS t
           FROM documents WHERE text IS NOT NULL),
         h AS (SELECT doc_id,
                      ('0x' || substr(md5(t), 1, 15))::BIGINT AS hh
               FROM toks),
         bits AS (SELECT doc_id, b.b AS b,
                         sum(CASE WHEN (hh >> b.b) & 1 = 1
                                  THEN 1 ELSE 0 END) AS ones,
                         count(*) AS n
                  FROM h, unnest(generate_series(0, 59)) AS b(b)
                  GROUP BY doc_id, b.b),
         sk AS (SELECT doc_id,
                       sum(CASE WHEN ones * 2 > n
                                THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
                         AS sh
                FROM bits GROUP BY doc_id),
         ch AS (SELECT doc_id, sh, c.c AS chunk,
                       (sh >> (c.c * 16)) & 65535 AS key
                FROM sk, unnest(generate_series(0, 3)) AS c(c)),
         p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      bit_count(xor(a.sh, b.sh))::INT AS hamming
               FROM ch a JOIN ch b ON a.chunk = b.chunk AND a.key = b.key
               WHERE a.doc_id < b.doc_id)
         SELECT id_a, id_b, hamming FROM p
         WHERE hamming <= 3 ORDER BY id_a, id_b""",

    // q28's LSH machine at 128 lanes / 16×8 banding, restricted to
    // even-indexed × odd-new cross pairs — the admission slice the
    // persisted index emits (id_a = indexed even id, id_b = new odd id)
    "q92_minhash_index_admission" ->
      """WITH w AS (
           SELECT DISTINCT doc_id, s FROM (
             SELECT doc_id,
               unnest(regexp_split_to_array(
                 trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                 ' ')) AS s
             FROM documents WHERE text IS NOT NULL)),
         g AS (SELECT doc_id,
                 ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS gm
               FROM w),
         fam AS (SELECT f.i AS i,
                        ((2 * f.i + 1) * 2654435761) % 2147483647 AS a,
                        (f.i * 40503 + 1) % 2147483647 AS b
                 FROM unnest(generate_series(0, 127)) AS f(i)),
         sig AS (SELECT doc_id, i, min((gm * a + b) % 2147483647) AS h
                 FROM g, fam GROUP BY doc_id, i),
         arr AS (SELECT doc_id, list(h ORDER BY i) AS sg
                 FROM sig GROUP BY doc_id),
         bands AS (SELECT doc_id, bd.b AS band,
                          sg[bd.b * 8 + 1 : bd.b * 8 + 8] AS sl
                   FROM arr, unnest(generate_series(0, 15)) AS bd(b)),
         cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
                  FROM bands x JOIN bands y
                    ON x.band = y.band AND x.sl = y.sl
                  WHERE x.doc_id % 2 = 0 AND y.doc_id % 2 = 1),
         mt AS (SELECT c.id_a, c.id_b,
                       sum(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) AS m
                FROM cand c
                JOIN sig sa ON sa.doc_id = c.id_a
                JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
                GROUP BY c.id_a, c.id_b)
         SELECT id_a, id_b, m / 128.0 AS est_jaccard
         FROM mt WHERE m / 128.0 >= 0.8 ORDER BY id_a, id_b""",

    // The full pipeline with the REAL MinHash stage: q44's gate/exact-
    // dedup/split composed with the q48 Md5 LSH machine at trigram
    // shingles (8 bands × 8 rows for j≥0.9) — DuckDB replays all five
    // stages including the near-dup estimator itself.
    "q39_clean_corpus" -> cleanCorpusMd5OracleSql("documents"),

    // same statement over the persisted realistic fixture the query
    // itself wrote (Verify runs before the oracle, q48 convention)
    "q49_clean_corpus_realistic" -> cleanCorpusMd5OracleSql(
      raw"read_parquet('$FixtureDir/realistic_corpus.parquet-*/*.parquet')"),

    // The full pipeline in one statement: quality (q21 body) → lang
    // (q22 body) → exact dedup (q19 fingerprint) → unigram-Jaccard
    // components (q27/q30 bodies) → content split (q38 body).
    "q44_clean_corpus_exact" ->
      """WITH RECURSIVE
         qx AS (
           SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS toks,
             regexp_split_to_array(trim(lower(text)), '\s+') AS ltoks,
             length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))::DOUBLE
               / length(text)::DOUBLE AS punct_ratio
           FROM documents),
         qy AS (
           SELECT doc_id,
             len(toks)::DOUBLE AS ntok,
             len(list_filter(ltoks, t -> list_contains(
               ['the','a','of','and','to','in','is','it','that','for'], t)))::DOUBLE
               / len(toks)::DOUBLE AS sw_ratio,
             list_sum(list_transform(toks, t -> length(t)))::DOUBLE
               / len(toks)::DOUBLE AS avg_len,
             punct_ratio
           FROM qx),
         qual AS (
           SELECT doc_id, round(
               least(ntok / 64.0, 1.0) * 0.3
             + least(sw_ratio * 4.0, 1.0) * 0.3
             + greatest(1.0 - punct_ratio * 4.0, 0.0) * 0.2
             + greatest(1.0 - abs(avg_len - 5.0) / 10.0, 0.0) * 0.2, 6) AS quality
           FROM qy),
         lx AS (
           SELECT doc_id, text AS txt,
                  regexp_split_to_array(trim(lower(text)), '\s+') AS toks
           FROM documents),
         ls AS (
           SELECT doc_id,
             len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS s_en,
             len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','los','se','del','las'], t))) AS s_es,
             len(list_filter(toks, t -> list_contains(['der','die','und','das','ist','nicht','ein','zu','den','mit'], t))) AS s_de,
             len(list_filter(toks, t -> list_contains(['le','la','les','de','et','un','une','est','que','pour'], t))) AS s_fr,
             len(list_filter(['的','是','在','了','我','有','和','人','这','不'],
                             w -> contains(txt, w))) AS s_zh
           FROM lx),
         lp AS (
           SELECT doc_id, CASE
             WHEN s_en IS NULL THEN 'und'
             WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
             WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
             WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
             WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
             WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
             ELSE 'zh' END AS lang_pred
           FROM ls),
         gated AS (
           SELECT d.doc_id, d.text
           FROM documents d
           JOIN qual ON d.doc_id = qual.doc_id
           JOIN lp ON d.doc_id = lp.doc_id
           WHERE qual.quality >= 0.2 AND lp.lang_pred = 'en'),
         ex AS (
           SELECT doc_id, text FROM (
             SELECT doc_id, text, row_number() OVER (
               PARTITION BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
               ORDER BY doc_id) AS rn
             FROM gated)
           WHERE rn = 1),
         w AS (SELECT doc_id,
                 list_distinct(regexp_split_to_array(
                   trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                   ' ')) AS words
               FROM ex),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
               FROM w a, w b
               WHERE a.doc_id < b.doc_id
                 AND len(list_intersect(a.words, b.words))::DOUBLE
                     / (len(a.words) + len(b.words)
                        - len(list_intersect(a.words, b.words)))::DOUBLE >= 0.9),
         e AS (SELECT id_a AS src, id_b AS dst FROM p
               UNION ALL SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM ex
           UNION
           SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
         comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
         SELECT ex.doc_id,
                CASE WHEN md5(ex.text) < '0d' THEN 'test'
                     WHEN md5(ex.text) < '1a' THEN 'val'
                     ELSE 'train' END AS split
         FROM ex JOIN comp ON ex.doc_id = comp.id
         WHERE comp.component = ex.doc_id
         ORDER BY ex.doc_id""",

    "q30_components" ->
      """WITH RECURSIVE
         w AS (SELECT doc_id,
                 list_distinct(regexp_split_to_array(
                   trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                   ' ')) AS words
               FROM documents),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
               FROM w a, w b
               WHERE a.doc_id < b.doc_id
                 AND len(list_intersect(a.words, b.words))::DOUBLE
                     / (len(a.words) + len(b.words)
                        - len(list_intersect(a.words, b.words)))::DOUBLE >= 0.8),
         e AS (SELECT id_a AS src, id_b AS dst FROM p
               UNION ALL SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id)
         SELECT id, min(r) AS component FROM reach GROUP BY id ORDER BY id""",

    // q30's components + q38's hex-bound split, keyed on the CLUSTER
    // label: every near-dup cluster lands whole in one split
    "q93_cluster_split" ->
      """WITH RECURSIVE
         w AS (SELECT doc_id,
                 list_distinct(regexp_split_to_array(
                   trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                   ' ')) AS words
               FROM documents),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
               FROM w a, w b
               WHERE a.doc_id < b.doc_id
                 AND len(list_intersect(a.words, b.words))::DOUBLE
                     / (len(a.words) + len(b.words)
                        - len(list_intersect(a.words, b.words)))::DOUBLE >= 0.8),
         e AS (SELECT id_a AS src, id_b AS dst FROM p
               UNION ALL SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
         comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
         SELECT id AS doc_id,
                CASE WHEN md5(component::VARCHAR) < '0d' THEN 'test'
                     WHEN md5(component::VARCHAR) < '1a' THEN 'val'
                     ELSE 'train' END AS split
         FROM comp ORDER BY doc_id""",

    // Full LSH replication: same literal hyperplanes, same sign-bucket,
    // same Hamming-1 multi-probe set, same top-10-by-cosine — so the
    // recall numbers are independently recomputed end to end.
    // the q45 bucket/probe/cosine machinery emitting the ANSWER SET:
    // same plane literals, Hamming-1 probe IN-list, (cosine desc, id)
    "q31_ann_topk" ->
      s"""WITH b AS (
           SELECT vec_id, embedding,
               (CASE WHEN list_dot_product(embedding::DOUBLE[], ${annPlaneLits(0)}) >= 0 THEN 1 ELSE 0 END)
             + (CASE WHEN list_dot_product(embedding::DOUBLE[], ${annPlaneLits(1)}) >= 0 THEN 2 ELSE 0 END)
             + (CASE WHEN list_dot_product(embedding::DOUBLE[], ${annPlaneLits(2)}) >= 0 THEN 4 ELSE 0 END)
             + (CASE WHEN list_dot_product(embedding::DOUBLE[], ${annPlaneLits(3)}) >= 0 THEN 8 ELSE 0 END) AS bucket
           FROM embeddings),
         qb AS (SELECT bucket AS qbucket, embedding AS qe FROM b WHERE vec_id = 0),
         ze AS (SELECT e.vec_id, e.bucket, q.qbucket,
                       unnest(e.embedding)::DOUBLE AS x, unnest(q.qe)::DOUBLE AS y
                FROM b e, qb q WHERE e.vec_id <> 0),
         ce AS (SELECT vec_id, any_value(bucket) AS bucket,
                       any_value(qbucket) AS qbucket,
                       sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS cosine_sim
                FROM ze GROUP BY vec_id)
         SELECT vec_id, cosine_sim FROM ce
         WHERE bucket IN (qbucket, xor(qbucket, 1), xor(qbucket, 2),
                          xor(qbucket, 4), xor(qbucket, 8))
         ORDER BY cosine_sim DESC, vec_id LIMIT 10""",

    "q45_ann_recall" ->
      s"""WITH b AS (
           SELECT vec_id, embedding,
               (CASE WHEN list_dot_product(embedding::DOUBLE[], ${annPlaneLits(0)}) >= 0 THEN 1 ELSE 0 END)
             + (CASE WHEN list_dot_product(embedding::DOUBLE[], ${annPlaneLits(1)}) >= 0 THEN 2 ELSE 0 END)
             + (CASE WHEN list_dot_product(embedding::DOUBLE[], ${annPlaneLits(2)}) >= 0 THEN 4 ELSE 0 END)
             + (CASE WHEN list_dot_product(embedding::DOUBLE[], ${annPlaneLits(3)}) >= 0 THEN 8 ELSE 0 END) AS bucket
           FROM embeddings),
         qb AS (SELECT bucket AS qbucket, embedding AS qe FROM b WHERE vec_id = 0),
         ze AS (SELECT e.vec_id, e.bucket, q.qbucket,
                       unnest(e.embedding)::DOUBLE AS x, unnest(q.qe)::DOUBLE AS y
                FROM b e, qb q WHERE e.vec_id <> 0),
         ce AS (SELECT vec_id, any_value(bucket) AS bucket, any_value(qbucket) AS qbucket,
                       sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS cs
                FROM ze GROUP BY vec_id),
         ex AS (SELECT vec_id FROM ce ORDER BY cs DESC, vec_id LIMIT 10),
         ann AS (SELECT vec_id FROM ce WHERE bucket = qbucket
                 ORDER BY cs DESC, vec_id LIMIT 10),
         annmp AS (SELECT vec_id FROM ce
                   WHERE bucket IN (qbucket, xor(qbucket, 1), xor(qbucket, 2),
                                    xor(qbucket, 4), xor(qbucket, 8))
                   ORDER BY cs DESC, vec_id LIMIT 10)
         SELECT
           (SELECT count(*) FROM ann JOIN ex USING (vec_id))::DOUBLE / 10.0
             AS recall_at_10,
           (SELECT count(*) FROM annmp JOIN ex USING (vec_id))::DOUBLE / 10.0
             AS recall_mp_at_10""",

    // IVF probe mechanics replicated: fixed centroids (vec_id 0..15),
    // elementwise squared-distance argmin (ties to the lower cell),
    // 4 nearest cells probed, in-cell top-10 by cosine.
    "q46_ivf_recall" -> IvfRecallOracleSql,

    // the FITTED quantizer unrolled (five pinned Lloyd iterations)
    // plus the same probe mechanics as q46
    "q34_ivf_topk" -> IvfFittedTopKOracleSql,

    // the eight per-subspace codebook fits unrolled, then raw-argmin
    // encode + reconstruction norms
    "q113_pq_encode" -> PqEncodeOracleSql,

    // prefix-closed plane family as a 20-plane literal table, the
    // planesForCorpus loop re-derived as a min-over-candidates (the
    // probed fraction (p+2)/2^(p+1) is decreasing, so the loop's exit
    // is the first failing p), sign buckets over the first np planes,
    // hamming<=1 multi-probe, in-bucket cosine top-10
    "q55_ann_topk_auto" ->
      (s"""WITH pl AS (SELECT * FROM (VALUES $annPlane20Values)
                       AS t(pid, plane)),""" +
        """
         nn AS (SELECT count(*)::DOUBLE AS n FROM embeddings),
         np AS (SELECT coalesce(
                  (SELECT min(g.p)
                   FROM unnest(generate_series(1, 19)) AS g(p), nn
                   WHERE (g.p + 2.0) / power(2.0, g.p + 1) * nn.n < 640.0),
                  20) AS np),
         zb AS (SELECT e.vec_id, p.pid,
                       list_dot_product(e.embedding::DOUBLE[], p.plane) AS dp
                FROM embeddings e, pl p, np WHERE p.pid < np.np),
         b AS (SELECT vec_id,
                      sum(CASE WHEN dp >= 0
                               THEN power(2.0, pid)::BIGINT
                               ELSE 0 END)::BIGINT AS bucket
               FROM zb GROUP BY vec_id),
         qb AS (SELECT bucket AS qbucket FROM b WHERE vec_id = 0),
         cand AS (SELECT b.vec_id FROM b, qb
                  WHERE b.vec_id <> 0
                    AND (b.bucket = qb.qbucket
                         OR bit_count(xor(b.bucket, qb.qbucket)) = 1)),
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         ze AS (SELECT e.vec_id,
                       unnest(e.embedding)::DOUBLE AS x,
                       unnest(q.qe)::DOUBLE AS y
                FROM embeddings e, cand c, q WHERE e.vec_id = c.vec_id),
         ce AS (SELECT vec_id,
                       sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y)))
                         AS cosine_sim
                FROM ze GROUP BY vec_id)
         SELECT vec_id, cosine_sim FROM ce
         ORDER BY cosine_sim DESC, vec_id LIMIT 10"""),

    // q72's model CTEs + (weight desc, id) top-100 — the rounded
    // weights are hash-identical (q72), so the ordering is too
    "q85_dsir_select" ->
      """WITH toks AS (
           SELECT doc_id, lang = 'en' AS t,
                  unnest(regexp_split_to_array(
                    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                    ' ')) AS token
           FROM documents),
         tk AS (SELECT * FROM toks WHERE token <> ''),
         counts AS (
           SELECT token, sum(CASE WHEN t THEN 1 ELSE 0 END) AS ct,
                  count(*) AS cr
           FROM tk GROUP BY token),
         tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr, count(*) AS v FROM counts),
         model AS (
           SELECT token, (ct + 1)::DOUBLE / (nt + v) AS pt,
                  (cr + 1)::DOUBLE / (nr + v) AS pr
           FROM counts, tot),
         w AS (
           SELECT doc_id, count(*)::BIGINT AS n_tokens,
                  round(avg(ln(pt / pr)), 6) AS dsir_logratio
           FROM tk JOIN model USING (token)
           GROUP BY doc_id)
         SELECT doc_id, n_tokens, dsir_logratio FROM w
         ORDER BY dsir_logratio DESC, doc_id LIMIT 100""",

    "q86_packing_stats" ->
      """WITH x AS (
           SELECT len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n
           FROM documents),
         a AS (
           SELECT count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS n_tokens,
                  sum(ceil(n / 512.0)::BIGINT)::BIGINT AS isolated_packs
           FROM x)
         SELECT n_docs, n_tokens, isolated_packs,
                ceil(n_tokens / 512.0)::BIGINT AS concat_packs,
                round((isolated_packs * 512 - n_tokens)::DOUBLE
                      / (isolated_packs * 512), 6) AS padding_fraction
         FROM a""",

    // Fingerprint equality == normalized-text equality, so the twin
    // compares normalized texts directly (no md5 needed for the verdict)
    "q84_crawl_diff" ->
      """WITH o AS (
           SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt
           FROM documents),
         n0 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 10 = 0
               THEN text || ' edited rev' || doc_id::VARCHAR
               ELSE text END AS text
           FROM documents WHERE doc_id % 13 <> 0),
         n1 AS (
           SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt
           FROM n0
           UNION ALL
           SELECT r.x AS doc_id, 'fresh crawl document' AS nt
           FROM (SELECT unnest(generate_series(1000000, 1000049)) AS x) r)
         SELECT coalesce(o.doc_id, n1.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n1.doc_id IS NULL THEN 'removed'
                WHEN o.nt = n1.nt THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM o FULL OUTER JOIN n1 ON o.doc_id = n1.doc_id
         ORDER BY doc_id""",

    // q46's twin verbatim BY CONSTRUCTION (shared val): the index
    // round-trip must not change one neighbor, and sharing the string
    // means a future q46 twin fix cannot silently leave q83 stale
    "q83_ivf_index_recall" -> IvfRecallOracleSql,

    "q50_pii_redact" ->
      """WITH x AS (
           SELECT doc_id,
             text || ' contact u' || doc_id::VARCHAR
               || '@mail.example.com via https://ex.example/u/' || doc_id::VARCHAR
               || ' or +1555' || lpad(doc_id::VARCHAR, 7, '0')
               || ' from 10.0.' || (doc_id % 256)::VARCHAR
               || '.17 id 123-45-6789' AS t
           FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             t,
             'https?://[^\s]+', '<URL>', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
             '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<ID>', 'g'),
             '\+[0-9]{7,15}\b|\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PHONE>', 'g')
           AS redacted
         FROM x ORDER BY doc_id""",

    "q51_token_topk" ->
      """WITH toks AS (
           SELECT unnest(regexp_split_to_array(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
             ' ')) AS token
           FROM documents)
         SELECT token, count(*) AS cnt FROM toks
         WHERE token <> ''
         GROUP BY token
         ORDER BY cnt DESC, token
         LIMIT 50""",

    "q52_group_sample" ->
      """WITH r AS (
           SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
           FROM documents)
         SELECT source, doc_id FROM r WHERE rk <= 3
         ORDER BY source, doc_id""",

    // exact top-10 tokens (q51's spelling); the CMS claims arrive as
    // booleans the Spark side actually measures against the sketch
    "q136_cms_heavy_hitters" ->
      """WITH toks AS (
           SELECT unnest(regexp_split_to_array(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
             ' ')) AS token
           FROM documents)
         SELECT token, count(*)::BIGINT AS exact_cnt,
                TRUE AS overcount_nonneg, TRUE AS within_eps
         FROM toks
         WHERE token <> ''
         GROUP BY token
         ORDER BY exact_cnt DESC, token
         LIMIT 10""",

    "q53_langid_confusion" ->
      """WITH x AS (
           SELECT lang, text AS txt,
                  regexp_split_to_array(trim(lower(text)), '\s+') AS toks
           FROM documents),
         s AS (
           SELECT lang,
             len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS s_en,
             len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','los','se','del','las'], t))) AS s_es,
             len(list_filter(toks, t -> list_contains(['der','die','und','das','ist','nicht','ein','zu','den','mit'], t))) AS s_de,
             len(list_filter(toks, t -> list_contains(['le','la','les','de','et','un','une','est','que','pour'], t))) AS s_fr,
             len(list_filter(['的','是','在','了','我','有','和','人','这','不'],
                             w -> contains(txt, w))) AS s_zh
           FROM x),
         p AS (
           SELECT lang, CASE
             WHEN s_en IS NULL THEN 'und'
             WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
             WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
             WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
             WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
             WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
             ELSE 'zh' END AS lang_pred
           FROM s)
         SELECT lang, lang_pred, count(*) AS n FROM p
         GROUP BY lang, lang_pred ORDER BY lang, lang_pred""",

    // q53's stopword-argmax machine over the persisted lang-weighted
    // realistic fixture — the confusion matrix whose labels MEAN
    // something, now on the hash path (the fixture file is the rows
    // Spark just processed)
    "q54_langid_confusion_realistic" ->
      raw"""WITH x AS (
           SELECT lang, text AS txt,
                  regexp_split_to_array(trim(lower(text)), '\s+') AS toks
           FROM read_parquet(
             '$FixtureDir/realistic_langs.parquet-*/*.parquet')),
         s AS (
           SELECT lang,
             len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS s_en,
             len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','los','se','del','las'], t))) AS s_es,
             len(list_filter(toks, t -> list_contains(['der','die','und','das','ist','nicht','ein','zu','den','mit'], t))) AS s_de,
             len(list_filter(toks, t -> list_contains(['le','la','les','de','et','un','une','est','que','pour'], t))) AS s_fr,
             len(list_filter(['的','是','在','了','我','有','和','人','这','不'],
                             w -> contains(txt, w))) AS s_zh
           FROM x),
         p AS (
           SELECT lang, CASE
             WHEN s_en IS NULL THEN 'und'
             WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
             WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
             WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
             WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
             WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
             ELSE 'zh' END AS lang_pred
           FROM s)
         SELECT lang, lang_pred, count(*) AS n FROM p
         GROUP BY lang, lang_pred ORDER BY lang, lang_pred""",

    // Repetition signals: the same newline/normalized-word splits, the
    // same (doc, line) / (doc, bigram) aggregations; the <2-word
    // single-shingle edge is the CASE in the gram source
    "q57_repetition_scores" ->
      """WITH base AS (
           SELECT doc_id, text,
                  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
           FROM documents),
         scalars AS (
           SELECT doc_id,
             round(1.0 - len(list_distinct(string_split(text, chr(10))))::DOUBLE
                       / len(string_split(text, chr(10))), 6) AS dup_line_frac,
             round(1.0 - len(list_distinct(string_split(norm, ' ')))::DOUBLE
                       / len(string_split(norm, ' ')), 6) AS dup_word_frac,
             length(norm) AS nchars
           FROM base),
         lc AS (
           SELECT doc_id, l, count(*) AS cnt, length(l) AS llen
           FROM base, unnest(string_split(text, chr(10))) AS u(l)
           GROUP BY doc_id, l),
         linefrac AS (
           SELECT doc_id,
             round(CASE WHEN sum(llen * cnt) > 0
               THEN sum(CASE WHEN cnt > 1 THEN llen * cnt ELSE 0 END)::DOUBLE
                    / sum(llen * cnt)::DOUBLE
               ELSE 0.0 END, 6) AS dup_line_char_frac
           FROM lc GROUP BY doc_id),
         ws AS (SELECT doc_id, norm, string_split(norm, ' ') AS w FROM base),
         grams AS (
           SELECT doc_id,
                  CASE WHEN len(w) < 2 THEN norm
                       ELSE w[g.i] || ' ' || w[g.i + 1] END AS g
           FROM ws, unnest(generate_series(1, greatest(len(w) - 1, 1))) AS g(i)),
         topg AS (
           SELECT doc_id, max(length(g) * cnt) AS cov FROM (
             SELECT doc_id, g, count(*) AS cnt FROM grams GROUP BY doc_id, g)
           GROUP BY doc_id)
         SELECT s.doc_id, s.dup_line_frac, f.dup_line_char_frac,
                s.dup_word_frac,
                round(CASE WHEN s.nchars > 0
                  THEN t.cov::DOUBLE / s.nchars ELSE 0.0 END, 6)
                  AS top_bigram_char_frac
         FROM scalars s
         JOIN linefrac f USING (doc_id)
         JOIN topg t USING (doc_id)
         ORDER BY s.doc_id""",

    // Contamination: the same DISTINCT-5-gram construction on both
    // sides; n_overlapping = distinct corpus-doc grams present in the
    // benchmark gram set
    "q58_contamination" ->
      """WITH base AS (
           SELECT doc_id,
                  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
           FROM documents),
         ws AS (SELECT doc_id, norm, string_split(norm, ' ') AS w FROM base),
         grams AS (
           SELECT DISTINCT doc_id,
                  CASE WHEN len(w) < 5 THEN norm
                       ELSE w[g.i] || ' ' || w[g.i + 1] || ' ' || w[g.i + 2]
                            || ' ' || w[g.i + 3] || ' ' || w[g.i + 4] END AS g
           FROM ws, unnest(generate_series(1, greatest(len(w) - 4, 1))) AS g(i)),
         bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0)
         SELECT doc_id, count(*) AS n_overlapping
         FROM grams JOIN bench USING (g)
         GROUP BY doc_id ORDER BY doc_id""",

    // Int8 quantization: same per-row scale rule, same round/clamp;
    // the TINYINT cast is of an already-integral double on both sides
    "q63_quantize_int8" ->
      """WITH s AS (
           SELECT vec_id, embedding,
                  list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
                    / 127.0 AS qscale
           FROM embeddings)
         SELECT vec_id, qscale,
                array_to_string(CASE WHEN qscale = 0
                  THEN list_transform(embedding, x -> 0::TINYINT)
                  ELSE list_transform(embedding, x ->
                    least(greatest(round(x::DOUBLE / qscale), -127.0),
                          127.0)::TINYINT) END, ',') AS qvec
         FROM s ORDER BY vec_id""",

    // Quantized cosine top-k: re-derive the quantization, score by the
    // integer dot (scales cancel), same tie-break as q23
    "q64_quantized_topk" ->
      """WITH s AS (
           SELECT vec_id, embedding,
                  list_max(list_transform(embedding, x -> abs(x)))::DOUBLE
                    / 127.0 AS sc
           FROM embeddings),
         qv AS (
           SELECT vec_id,
                  CASE WHEN sc = 0
                    THEN list_transform(embedding, x -> 0.0)
                    ELSE list_transform(embedding, x ->
                      least(greatest(round(x::DOUBLE / sc), -127.0), 127.0))
                  END AS qe
           FROM s),
         q AS (SELECT qe AS qq FROM qv WHERE vec_id = 0),
         z AS (SELECT e.vec_id, unnest(e.qe)::DOUBLE AS x,
                      unnest(q.qq)::DOUBLE AS y
               FROM qv e, q WHERE e.vec_id <> 0),
         c AS (SELECT vec_id,
                      sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS cosine_sim
               FROM z GROUP BY vec_id)
         SELECT vec_id, cosine_sim FROM c
         ORDER BY cosine_sim DESC, vec_id LIMIT 10""",

    // Unigram cross-entropy: same normalized split, same
    // (doc,term)/(term) aggregations, ln on the identical double ratio
    "q59_unigram_xent" ->
      """WITH terms AS (
           SELECT doc_id,
             unnest(string_split(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
               ' ')) AS t
           FROM documents),
         model AS (SELECT t, count(*) AS c FROM terms GROUP BY t),
         n AS (SELECT count(*) AS nn FROM terms)
         SELECT doc_id,
                count(*)::BIGINT AS n_tokens,
                round((sum(ln(c::DOUBLE / nn::DOUBLE)) * -1.0)
                      / count(*), 6) AS xent_nats
         FROM terms JOIN model USING (t), n
         GROUP BY doc_id ORDER BY doc_id""",

    // Dataset card: exact counts + the q21 quality formula averaged
    "q60_source_stats" ->
      """WITH x AS (
           SELECT source, text AS txt,
             regexp_split_to_array(trim(text), '\s+') AS toks,
             regexp_split_to_array(trim(lower(text)), '\s+') AS ltoks,
             length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))::DOUBLE
               / length(text)::DOUBLE AS punct_ratio
           FROM documents),
         y AS (
           SELECT source, txt, ltoks,
             len(toks)::BIGINT AS ntok_i,
             len(toks)::DOUBLE AS ntok,
             len(list_filter(ltoks, t -> list_contains(
               ['the','a','of','and','to','in','is','it','that','for'], t)))::DOUBLE
               / len(toks)::DOUBLE AS sw_ratio,
             list_sum(list_transform(toks, t -> length(t)))::DOUBLE
               / len(toks)::DOUBLE AS avg_len,
             punct_ratio
           FROM x),
         q AS (
           SELECT source, ntok_i,
             round(
               least(ntok / 64.0, 1.0) * 0.3
             + least(sw_ratio * 4.0, 1.0) * 0.3
             + greatest(1.0 - punct_ratio * 4.0, 0.0) * 0.2
             + greatest(1.0 - abs(avg_len - 5.0) / 10.0, 0.0) * 0.2, 6) AS quality,
             len(list_filter(ltoks, t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS s_en,
             len(list_filter(ltoks, t -> list_contains(['el','la','de','que','y','en','los','se','del','las'], t))) AS s_es,
             len(list_filter(ltoks, t -> list_contains(['der','die','und','das','ist','nicht','ein','zu','den','mit'], t))) AS s_de,
             len(list_filter(ltoks, t -> list_contains(['le','la','les','de','et','un','une','est','que','pour'], t))) AS s_fr,
             len(list_filter(['的','是','在','了','我','有','和','人','这','不'],
                             w -> contains(txt, w))) AS s_zh
           FROM y)
         SELECT source,
                count(*)::BIGINT AS n_docs,
                sum(ntok_i)::BIGINT AS n_tokens,
                round(avg(quality), 6) AS avg_quality,
                sum(CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) > 0
                          AND s_en = greatest(s_en, s_es, s_de, s_fr, s_zh)
                    THEN 1 ELSE 0 END)::BIGINT AS n_pred_en
         FROM q GROUP BY source ORDER BY source""",

    // Token-budget mixing: same md5 ordering as q52, running sum of
    // tokens BEFORE each row must be under the source's budget
    "q61_token_budget_mix" ->
      """WITH x AS (
           SELECT doc_id, source,
                  len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens,
                  CASE source WHEN 'src0' THEN 500 WHEN 'src1' THEN 800
                              WHEN 'src2' THEN 100000 WHEN 'src3' THEN 1
                  END AS budget
           FROM documents),
         r AS (
           SELECT doc_id, source, n_tokens, budget,
                  coalesce(sum(n_tokens) OVER (
                    PARTITION BY source
                    ORDER BY md5(doc_id::VARCHAR), doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS before_toks
           FROM x WHERE budget IS NOT NULL)
         SELECT doc_id, source, n_tokens FROM r
         WHERE before_toks < budget ORDER BY doc_id""",

    // Sequence packing: the global running sum over md5 order IS the
    // shard-prefix-sum result (the shard key is a prefix of the order
    // key), so a plain window reproduces it exactly
    "q65_pack_sequences" ->
      """WITH x AS (
           SELECT doc_id,
                  len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens,
                  md5(doc_id::VARCHAR) AS k
           FROM documents),
         r AS (
           SELECT doc_id, n_tokens,
                  coalesce(sum(n_tokens) OVER (ORDER BY k, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                    AS s
           FROM x)
         SELECT doc_id, n_tokens,
                (s // 512)::BIGINT AS pack_id,
                (s % 512)::BIGINT AS pack_offset,
                ((s + greatest(n_tokens, 1) - 1) // 512 - s // 512 + 1)::BIGINT
                  AS n_packs
         FROM r ORDER BY doc_id""",

    // Cross-doc duplicate 3-grams: same normalization and short-doc
    // whole-text rule as q58; occurrences (no DISTINCT), gram weight =
    // its distinct-doc count
    "q66_cross_dup_ngrams" ->
      """WITH base AS (
           SELECT doc_id,
                  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
           FROM documents),
         ws AS (SELECT doc_id, norm, string_split(norm, ' ') AS w FROM base),
         grams AS (
           SELECT doc_id,
                  CASE WHEN len(w) < 3 THEN norm
                       ELSE w[g.i] || ' ' || w[g.i + 1] || ' ' || w[g.i + 2]
                  END AS g
           FROM ws, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS g(i)),
         nd AS (SELECT g, count(DISTINCT doc_id) AS ndocs FROM grams GROUP BY g)
         SELECT doc_id, count(*)::BIGINT AS n_grams,
                round(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)::DOUBLE
                      / count(*), 6) AS cross_dup_frac
         FROM grams JOIN nd USING (g)
         GROUP BY doc_id ORDER BY doc_id""",

    // Token-window chunking: same whitespace split, starts advance by
    // chunk - overlap = 25; list slice end is inclusive in DuckDB so
    // [s+1 : s+30] is the same 30-token window
    "q67_chunk_tokens" ->
      """WITH x AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents),
         c AS (
           SELECT doc_id, w, g.i AS s
           FROM x, unnest(generate_series(0, greatest(len(w) - 1, 0), 25)) AS g(i))
         SELECT doc_id, (s / 25)::BIGINT AS chunk_idx,
                least(30, len(w) - s)::BIGINT AS chunk_tokens,
                array_to_string(w[s + 1 : s + 30], ' ') AS chunk_text
         FROM c ORDER BY doc_id, chunk_idx""",

    // Per-source centroids: identical join, componentwise avg rounded
    // to 6, list rebuilt in position order
    "q68_group_centroids" ->
      """WITH e AS (
           SELECT d.source, g.i AS i, em.embedding[g.i]::DOUBLE AS x
           FROM embeddings em
           JOIN documents d ON em.vec_id = d.doc_id,
                unnest(generate_series(1, len(em.embedding))) AS g(i)),
         p AS (
           SELECT source, i, round(avg(x), 6) AS m, count(*) AS n
           FROM e GROUP BY source, i)
         SELECT source, max(n)::BIGINT AS n_vectors,
                -- + 0.0 folds DuckDB's round(-1e-9, 6) = -0.0 to 0.0;
                -- Spark's BigDecimal round never emits -0.0, and
                -- printf would otherwise render the sign
                string_agg(printf('%.6f', m + 0.0), ',' ORDER BY i) AS centroid
         FROM p GROUP BY source ORDER BY source""",

    // Keep-best per cluster: q30's component labeling + argmax by
    // (n_chars, id) — rank-1 row per component
    "q69_cluster_representatives" ->
      """WITH RECURSIVE
         w AS (SELECT doc_id,
                 list_distinct(regexp_split_to_array(
                   trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                   ' ')) AS words
               FROM documents),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
               FROM w a, w b
               WHERE a.doc_id < b.doc_id
                 AND len(list_intersect(a.words, b.words))::DOUBLE
                     / (len(a.words) + len(b.words)
                        - len(list_intersect(a.words, b.words)))::DOUBLE >= 0.8),
         e AS (SELECT id_a AS src, id_b AS dst FROM p
               UNION ALL SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
         lab AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         j AS (SELECT d.doc_id, lab.component, d.n_chars
               FROM documents d JOIN lab ON lab.id = d.doc_id),
         rk AS (SELECT doc_id, component, n_chars,
                       row_number() OVER (PARTITION BY component
                         ORDER BY n_chars DESC, doc_id) AS rn
                FROM j)
         SELECT doc_id, component, n_chars FROM rk
         WHERE rn = 1 ORDER BY doc_id""",

    // Centroid coherence: recompute q68's rounded centroids, then each
    // vector's cosine to its source centroid, rounded like every ratio
    "q70_centroid_outliers" ->
      """WITH e AS (
           SELECT em.vec_id, d.source, g.i AS i, em.embedding[g.i]::DOUBLE AS x
           FROM embeddings em
           JOIN documents d ON em.vec_id = d.doc_id,
                unnest(generate_series(1, len(em.embedding))) AS g(i)),
         p AS (
           SELECT source, i, round(avg(x), 6) AS m
           FROM e GROUP BY source, i),
         sc AS (
           SELECT e.vec_id, e.source,
                  sum(e.x * p.m) AS dp,
                  sqrt(sum(e.x * e.x)) AS nx,
                  sqrt(sum(p.m * p.m)) AS nm
           FROM e JOIN p ON e.source = p.source AND e.i = p.i
           GROUP BY e.vec_id, e.source)
         SELECT vec_id, source,
                round(dp / (nx * nm), 6) AS centroid_sim
         FROM sc ORDER BY vec_id""",

    // Same 20-token boilerplate literal as the query body; keep-first
    // = row_number over (doc_id, chunk_idx)
    "q71_span_dedup" ->
      ("""WITH x AS (
           SELECT doc_id, regexp_split_to_array(
             trim('""" + SpanBoilerplate + """ ' || text), '\s+') AS w
           FROM documents),
         c AS (
           SELECT doc_id, (g.i / 10)::BIGINT AS chunk_idx,
                  least(10, len(w) - g.i)::BIGINT AS chunk_tokens,
                  array_to_string(w[g.i + 1 : g.i + 10], ' ') AS chunk_text
           FROM x, unnest(generate_series(0, greatest(len(w) - 1, 0), 10)) AS g(i)),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY chunk_text
                       ORDER BY doc_id, chunk_idx) AS rn
           FROM c)
         SELECT doc_id, count(*)::BIGINT AS kept_spans,
                sum(chunk_tokens)::BIGINT AS kept_tokens,
                string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS new_text
         FROM r WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id"""),

    "q72_dsir_weights" ->
      """WITH toks AS (
           SELECT doc_id, lang = 'en' AS t,
                  unnest(regexp_split_to_array(
                    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                    ' ')) AS token
           FROM documents),
         tk AS (SELECT * FROM toks WHERE token <> ''),
         counts AS (
           SELECT token, sum(CASE WHEN t THEN 1 ELSE 0 END) AS ct,
                  count(*) AS cr
           FROM tk GROUP BY token),
         tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr, count(*) AS v FROM counts),
         model AS (
           SELECT token, (ct + 1)::DOUBLE / (nt + v) AS pt,
                  (cr + 1)::DOUBLE / (nr + v) AS pr
           FROM counts, tot)
         SELECT doc_id, count(*)::BIGINT AS n_tokens,
                round(avg(ln(pt / pr)), 6) AS dsir_logratio
         FROM tk JOIN model USING (token)
         GROUP BY doc_id ORDER BY doc_id""",

    "q73_url_domains" ->
      """WITH x AS (
           SELECT doc_id,
             text || ' see https://host' || (doc_id % 20)::VARCHAR
               || '.example.org/p/' || doc_id::VARCHAR
               || ' and http://cdn' || (doc_id % 3)::VARCHAR
               || '.example.net/x plus http://cdn' || (doc_id % 3)::VARCHAR
               || '.example.net/y' AS t
           FROM documents),
         u AS (SELECT doc_id,
                 unnest(regexp_extract_all(lower(t),
                   'https?://(?:[^/?#\s@]*@)?([\p{L}\p{N}_-]+(?:\.[\p{L}\p{N}_-]+)*)',
                   1)) AS domain
               FROM x)
         SELECT domain, count(DISTINCT doc_id)::BIGINT AS n_docs,
                count(*)::BIGINT AS n_urls
         FROM u GROUP BY domain ORDER BY domain""",

    // q46-style fixed centroids (vec_id 0..7); survivor = not
    // cosine-dominated (>= 0.4) by a lower id in its cell
    "q74_semantic_dedup" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
         zc AS (SELECT e.vec_id, c.cid,
                       unnest(e.embedding)::DOUBLE AS x, unnest(c.ce)::DOUBLE AS y
                FROM embeddings e, c),
         d AS (SELECT vec_id, cid, sum((x-y)*(x-y)) AS d2 FROM zc GROUP BY vec_id, cid),
         assign AS (SELECT vec_id, cid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
             FROM d) WHERE rn = 1),
         z AS (SELECT a.vec_id AS id_hi, l.vec_id AS id_lo,
                      unnest(ea.embedding)::DOUBLE AS x,
                      unnest(el.embedding)::DOUBLE AS y
               FROM assign a
               JOIN assign l ON a.cid = l.cid AND l.vec_id < a.vec_id
               JOIN embeddings ea ON ea.vec_id = a.vec_id
               JOIN embeddings el ON el.vec_id = l.vec_id),
         cs AS (SELECT id_hi, id_lo,
                       sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS cos
                FROM z GROUP BY id_hi, id_lo),
         dom AS (SELECT DISTINCT id_hi FROM cs WHERE cos >= 0.4)
         SELECT a.vec_id, a.cid::BIGINT AS cell FROM assign a
         WHERE a.vec_id NOT IN (SELECT id_hi FROM dom)
         ORDER BY a.vec_id""",

    "q76_domain_filter" ->
      """WITH x AS (
           SELECT doc_id,
             text || ' see https://host' || (doc_id % 20)::VARCHAR
               || '.example.org/p/' || doc_id::VARCHAR
               || ' and http://cdn' || (doc_id % 3)::VARCHAR
               || '.example.net/x' AS t
           FROM documents),
         u AS (SELECT doc_id,
                 unnest(regexp_extract_all(lower(t),
                   'https?://(?:[^/?#\s@]*@)?([\p{L}\p{N}_-]+(?:\.[\p{L}\p{N}_-]+)*)',
                   1)) AS domain
               FROM x)
         SELECT doc_id,
                len(regexp_extract_all(lower(t),
                  'https?://(?:[^/?#\s@]*@)?([\p{L}\p{N}_-]+(?:\.[\p{L}\p{N}_-]+)*)',
                  1))::BIGINT AS n_urls
         FROM x
         WHERE doc_id NOT IN (
           SELECT doc_id FROM u
           WHERE domain IN ('cdn0.example.net', 'host7.example.org'))
         ORDER BY doc_id""",

    "q77_bigram_xent" ->
      """WITH x AS (
           SELECT doc_id, regexp_split_to_array(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
             ' ') AS w
           FROM documents),
         d AS (SELECT * FROM x WHERE len(w) >= 2),
         b AS (SELECT doc_id, w[g.i] AS prev, w[g.i + 1] AS cur
               FROM d, unnest(generate_series(1, len(w) - 1)) AS g(i)),
         bc AS (SELECT prev, cur, count(*) AS cb FROM b GROUP BY prev, cur),
         uc AS (SELECT prev, count(*) AS cu
                FROM (SELECT unnest(w) AS prev FROM d) GROUP BY prev)
         SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                round(-avg(ln(cb::DOUBLE / cu)), 6) AS bixent_nats
         FROM b JOIN bc USING (prev, cur) JOIN uc USING (prev)
         GROUP BY doc_id ORDER BY doc_id""",

    // q69's recursive components, rolled up to a size histogram
    "q78_dup_cluster_stats" ->
      """WITH RECURSIVE
         w AS (SELECT doc_id,
                 list_distinct(regexp_split_to_array(
                   trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                   ' ')) AS words
               FROM documents),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
               FROM w a, w b
               WHERE a.doc_id < b.doc_id
                 AND len(list_intersect(a.words, b.words))::DOUBLE
                     / (len(a.words) + len(b.words)
                        - len(list_intersect(a.words, b.words)))::DOUBLE >= 0.8),
         e AS (SELECT id_a AS src, id_b AS dst FROM p
               UNION ALL SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
         lab AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         cs AS (SELECT component, count(*) AS cluster_size
                FROM lab GROUP BY component)
         SELECT cluster_size::BIGINT AS cluster_size,
                count(*)::BIGINT AS n_clusters,
                (cluster_size * count(*))::BIGINT AS n_docs
         FROM cs GROUP BY cluster_size ORDER BY cluster_size""",

    // q21's quality formula + fixed-threshold bins + q61's running-sum
    // budget draw
    "q79_quality_mix" ->
      """WITH x AS (
           SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS toks,
             regexp_split_to_array(trim(lower(text)), '\s+') AS ltoks,
             length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))::DOUBLE
               / length(text)::DOUBLE AS punct_ratio
           FROM documents),
         y AS (
           SELECT doc_id,
             len(toks)::BIGINT AS n_toks,
             len(toks)::DOUBLE AS ntok,
             len(list_filter(ltoks, t -> list_contains(
               ['the','a','of','and','to','in','is','it','that','for'], t)))::DOUBLE
               / len(toks)::DOUBLE AS sw_ratio,
             list_sum(list_transform(toks, t -> length(t)))::DOUBLE
               / len(toks)::DOUBLE AS avg_len,
             punct_ratio
           FROM x),
         z AS (SELECT doc_id, n_toks, round(
             least(ntok / 64.0, 1.0) * 0.3
           + least(sw_ratio * 4.0, 1.0) * 0.3
           + greatest(1.0 - punct_ratio * 4.0, 0.0) * 0.2
           + greatest(1.0 - abs(avg_len - 5.0) / 10.0, 0.0) * 0.2, 6) AS q
           FROM y),
         b AS (SELECT doc_id, n_toks,
                 CASE WHEN q >= 0.8 THEN 'hi' WHEN q >= 0.6 THEN 'mid'
                      ELSE 'low' END AS qbin,
                 CASE WHEN q >= 0.8 THEN 1500 WHEN q >= 0.6 THEN 8000
                      ELSE 1000 END AS budget
               FROM z),
         r AS (SELECT doc_id, qbin, n_toks, budget,
                 coalesce(sum(n_toks) OVER (
                   PARTITION BY qbin
                   ORDER BY md5(doc_id::VARCHAR), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS before_toks
               FROM b)
         SELECT doc_id, qbin, n_toks FROM r
         WHERE before_toks < budget ORDER BY doc_id"""
  ) ++ Map(
    "q80_random_projection" ->
      (s"""WITH p AS (SELECT * FROM (VALUES $rpPlaneValues) AS t(pid, plane)),""" +
        """
         z AS (SELECT e.vec_id, p.pid,
                      e.embedding[g.i]::DOUBLE * p.plane[g.i] AS prod
               FROM embeddings e, p,
                    unnest(generate_series(1, len(e.embedding))) AS g(i)),
         s AS (SELECT vec_id, pid, round(sum(prod), 6) AS c
               FROM z GROUP BY vec_id, pid)
         SELECT vec_id,
                -- + 0.0 folds round's -0.0 to 0.0 (Spark never emits it)
                string_agg(printf('%.6f', c + 0.0), ',' ORDER BY pid)
                  AS projection
         FROM s GROUP BY vec_id ORDER BY vec_id"""),

    // Hashed-n-gram classifier: DuckDB re-derives the md5 bucketing,
    // the smoothed log-odds weights, the doc-count prior, and the
    // decimal-summed scores — training and inference both oracled.
    // predicted compares the ROUNDED score in both engines.
    "q90_quality_classifier" ->
      """WITH base AS (
           SELECT doc_id, coalesce(lang = 'en', false) AS y,
                  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
                    AS norm
           FROM documents WHERE text IS NOT NULL),
         ws AS (SELECT doc_id, y, norm, string_split(norm, ' ') AS w FROM base),
         uni AS (SELECT doc_id, y, unnest(w) AS g FROM ws),
         bi AS (SELECT doc_id, y,
                       CASE WHEN len(w) < 2 THEN norm
                            ELSE w[t.i] || ' ' || w[t.i + 1] END AS g
                FROM ws,
                     unnest(generate_series(1, greatest(len(w) - 1, 1))) AS t(i)),
         bk AS (SELECT doc_id, y, substring(md5(g), 1, 3) AS b
                FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
                WHERE g <> ''),
         cnt AS (SELECT b,
                        count(*) FILTER (WHERE y)::BIGINT AS pos,
                        count(*) FILTER (WHERE NOT y)::BIGINT AS neg
                 FROM bk GROUP BY b),
         tot AS (SELECT sum(pos) AS p, sum(neg) AS n FROM cnt),
         wt AS (SELECT b, ln((pos + 1)::DOUBLE / (p + 4096)) -
                         ln((neg + 1)::DOUBLE / (n + 4096)) AS w
                FROM cnt, tot),
         prior AS (SELECT ln((count(*) FILTER (WHERE y) + 1)::DOUBLE /
                             (count(*) FILTER (WHERE NOT y) + 1)) AS bias
                   FROM base),
         sc AS (SELECT doc_id, count(*)::BIGINT AS n_grams,
                       sum(CAST(w AS DECIMAL(38,12))) AS s
                FROM bk JOIN wt USING (b) GROUP BY doc_id)
         -- LEFT JOIN from base: a doc whose normalized text is empty
         -- has no gram rows and scores at the prior alone
         SELECT base.doc_id,
                coalesce(sc.n_grams, 0)::BIGINT AS n_grams,
                round(CAST(coalesce(sc.s, 0) AS DOUBLE) + bias, 6) AS score,
                CASE WHEN round(CAST(coalesce(sc.s, 0) AS DOUBLE) + bias, 6) > 0
                     THEN 1 ELSE 0 END AS predicted
         FROM base LEFT JOIN sc ON base.doc_id = sc.doc_id, prior
         ORDER BY base.doc_id""",

    // Held-out classifier: weights/prior/default from the even-id
    // half, scores over everyone; unseen buckets coalesce to the
    // zero-count smoothing weight w0 = ln((N+B)/(P+B))
    "q91_classifier_holdout" ->
      """WITH base AS (
           SELECT doc_id, coalesce(lang = 'en', false) AS y,
                  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
                    AS norm
           FROM documents WHERE text IS NOT NULL),
         ws AS (SELECT doc_id, y, norm, string_split(norm, ' ') AS w FROM base),
         uni AS (SELECT doc_id, y, unnest(w) AS g FROM ws),
         bi AS (SELECT doc_id, y,
                       CASE WHEN len(w) < 2 THEN norm
                            ELSE w[t.i] || ' ' || w[t.i + 1] END AS g
                FROM ws,
                     unnest(generate_series(1, greatest(len(w) - 1, 1))) AS t(i)),
         bk AS (SELECT doc_id, y, substring(md5(g), 1, 3) AS b
                FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
                WHERE g <> ''),
         cnt AS (SELECT b,
                        count(*) FILTER (WHERE y)::BIGINT AS pos,
                        count(*) FILTER (WHERE NOT y)::BIGINT AS neg
                 FROM bk WHERE doc_id % 2 = 0 GROUP BY b),
         tot AS (SELECT sum(pos) AS p, sum(neg) AS n FROM cnt),
         wt AS (SELECT b, ln((pos + 1)::DOUBLE / (p + 4096)) -
                         ln((neg + 1)::DOUBLE / (n + 4096)) AS w
                FROM cnt, tot),
         prior AS (SELECT ln((count(*) FILTER (WHERE y) + 1)::DOUBLE /
                             (count(*) FILTER (WHERE NOT y) + 1)) AS bias,
                          (SELECT ln(1.0 / (p + 4096)) - ln(1.0 / (n + 4096))
                           FROM tot) AS w0
                   FROM base WHERE doc_id % 2 = 0),
         sc AS (SELECT bk.doc_id, count(*)::BIGINT AS n_grams,
                       sum(CAST(coalesce(wt.w, prior.w0) AS DECIMAL(38,12)))
                         AS s
                FROM bk LEFT JOIN wt USING (b), prior
                GROUP BY bk.doc_id)
         -- LEFT JOIN from base: gram-less docs score at the prior alone
         SELECT base.doc_id,
                coalesce(sc.n_grams, 0)::BIGINT AS n_grams,
                round(CAST(coalesce(sc.s, 0) AS DOUBLE) + bias, 6) AS score,
                CASE WHEN round(CAST(coalesce(sc.s, 0) AS DOUBLE) + bias, 6) > 0
                     THEN 1 ELSE 0 END AS predicted
         FROM base LEFT JOIN sc ON base.doc_id = sc.doc_id, prior
         ORDER BY base.doc_id""",

    "q81_oov_rate" ->
      """WITH toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
             ' ')) AS token
           FROM documents),
         tk AS (SELECT * FROM toks WHERE token <> ''),
         v AS (SELECT token FROM (
                 SELECT token, count(*) AS c FROM tk GROUP BY token
                 ORDER BY c DESC, token LIMIT 100))
         SELECT doc_id, count(*)::BIGINT AS n_tokens,
                round(avg(CASE WHEN token IN (SELECT token FROM v)
                               THEN 0.0 ELSE 1.0 END), 6) AS oov_rate
         FROM tk GROUP BY doc_id ORDER BY doc_id""",

    "q82_zipf_slope" ->
      """WITH toks AS (
           SELECT unnest(regexp_split_to_array(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
             ' ')) AS token
           FROM documents),
         c AS (SELECT token, count(*) AS cnt FROM toks
               WHERE token <> '' GROUP BY token),
         r AS (SELECT ln(row_number() OVER (ORDER BY cnt DESC, token)::DOUBLE) AS x,
                      ln(cnt::DOUBLE) AS y
               FROM c)
         SELECT count(*)::BIGINT AS n_vocab,
                round((count(*) * sum(x*y) - sum(x) * sum(y))
                      / (count(*) * sum(x*x) - sum(x) * sum(x)), 6) AS zipf_slope
         FROM r""",

    // The SAME salted page template and the SAME RE2-safe regexp chain
    // as the Spark side (q50 convention): comments → script → style →
    // block-tags-to-newline, then per line: inline-tag strip, entity
    // decode (specific entities before &amp;), whitespace collapse,
    // and the minWords=3 / 0.34-links-per-word gate
    "q94_html_extract" ->
      """WITH s AS (
           SELECT doc_id,
             '<html><head><title>Doc ' || doc_id::VARCHAR
             || '</title><style>body { color: #fff; }</style><script>var x = 1 < 2;</script></head><body>'
             || '<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav>'
             || '<h1>Doc ' || doc_id::VARCHAR || '</h1><!-- build ' || doc_id::VARCHAR || ' --><p>'
             || text || ' &amp; more &lt;tags&gt; follow.</p>'
             || '<div class="share"><a href="/s">Share</a> <a href="/t">Tweet</a></div>'
             || '<footer>Copyright Example Corp <a href="/p">Privacy</a> <a href="/t">Terms</a> <a href="/c">Contact</a></footer></body></html>'
               AS h
           FROM documents WHERE text IS NOT NULL),
         d AS (
           SELECT doc_id, regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(h, '(?s)<!--.*?-->', ' ', 'g'),
                 '(?is)<script[^>]*>.*?</script\s*>', ' ', 'g'),
               '(?is)<style[^>]*>.*?</style\s*>', ' ', 'g'),
             '(?i)</?(?:html|head|body|title|meta|link|p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|thead|tbody|section|article|header|footer|nav|aside|blockquote|pre|form|hr)\b[^>]*>',
             chr(10), 'g') AS h
           FROM s),
         l AS (SELECT doc_id, string_split(h, chr(10)) AS ls FROM d),
         x AS (SELECT doc_id, t.i AS p, ls[t.i] AS line
               FROM l, unnest(generate_series(1, len(ls))) AS t(i)),
         y AS (SELECT doc_id, p,
                 trim(regexp_replace(
                   replace(replace(replace(replace(replace(replace(replace(
                     regexp_replace(line, '<[^>]*>', ' ', 'g'),
                   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                   '&#39;', ''''), '&apos;', ''''), '&nbsp;', ' '),
                   '&amp;', '&'),
                   '\s+', ' ', 'g')) AS t,
                 len(regexp_extract_all(line, '(?i)<a[\s>]')) AS nl
               FROM x),
         z AS (SELECT doc_id, p, t, nl, len(string_split(t, ' ')) AS w
               FROM y WHERE t <> ''),
         k AS (SELECT doc_id, count(*)::BIGINT AS n_lines_kept,
                      string_agg(t, chr(10) ORDER BY p) AS extracted
               FROM z WHERE w >= 3 AND nl::DOUBLE <= w::DOUBLE * 0.34
               GROUP BY doc_id)
         SELECT d0.doc_id,
                coalesce(k.n_lines_kept, 0)::BIGINT AS n_lines_kept,
                coalesce(k.extracted, '') AS extracted
         FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d0
         LEFT JOIN k USING (doc_id)
         ORDER BY d0.doc_id""",

    // q91's training/scoring CTEs verbatim, then: confusion matrix at
    // the decision threshold + mid-rank Mann-Whitney AUC over the
    // held-out (odd-id) half. Midranks are exact half-integers, so the
    // rank-sum accumulates as DECIMAL(38,6) in both engines
    "q98_classifier_quality" ->
      """WITH base AS (
           SELECT doc_id, coalesce(lang = 'en', false) AS y,
                  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
                    AS norm
           FROM documents WHERE text IS NOT NULL),
         ws AS (SELECT doc_id, y, norm, string_split(norm, ' ') AS w FROM base),
         uni AS (SELECT doc_id, y, unnest(w) AS g FROM ws),
         bi AS (SELECT doc_id, y,
                       CASE WHEN len(w) < 2 THEN norm
                            ELSE w[t.i] || ' ' || w[t.i + 1] END AS g
                FROM ws,
                     unnest(generate_series(1, greatest(len(w) - 1, 1))) AS t(i)),
         bk AS (SELECT doc_id, y, substring(md5(g), 1, 3) AS b
                FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
                WHERE g <> ''),
         cnt AS (SELECT b,
                        count(*) FILTER (WHERE y)::BIGINT AS pos,
                        count(*) FILTER (WHERE NOT y)::BIGINT AS neg
                 FROM bk WHERE doc_id % 2 = 0 GROUP BY b),
         tot AS (SELECT sum(pos) AS p, sum(neg) AS n FROM cnt),
         wt AS (SELECT b, ln((pos + 1)::DOUBLE / (p + 4096)) -
                         ln((neg + 1)::DOUBLE / (n + 4096)) AS w
                FROM cnt, tot),
         prior AS (SELECT ln((count(*) FILTER (WHERE y) + 1)::DOUBLE /
                             (count(*) FILTER (WHERE NOT y) + 1)) AS bias,
                          (SELECT ln(1.0 / (p + 4096)) - ln(1.0 / (n + 4096))
                           FROM tot) AS w0
                   FROM base WHERE doc_id % 2 = 0),
         sc AS (SELECT bk.doc_id, count(*)::BIGINT AS n_grams,
                       sum(CAST(coalesce(wt.w, prior.w0) AS DECIMAL(38,12)))
                         AS s
                FROM bk LEFT JOIN wt USING (b), prior
                GROUP BY bk.doc_id),
         scored AS (
           SELECT base.doc_id, base.y,
                  round(CAST(coalesce(sc.s, 0) AS DOUBLE) + bias, 6) AS score,
                  CASE WHEN round(CAST(coalesce(sc.s, 0) AS DOUBLE) + bias, 6) > 0
                       THEN 1 ELSE 0 END AS predicted
           FROM base LEFT JOIN sc ON base.doc_id = sc.doc_id, prior),
         ho AS (SELECT * FROM scored WHERE doc_id % 2 = 1),
         cm AS (SELECT count(*)::BIGINT AS n,
                       count(*) FILTER (WHERE y AND predicted = 1)::BIGINT AS tp,
                       count(*) FILTER (WHERE NOT y AND predicted = 1)::BIGINT AS fp,
                       count(*) FILTER (WHERE y AND predicted = 0)::BIGINT AS fn,
                       count(*) FILTER (WHERE NOT y AND predicted = 0)::BIGINT AS tn
                FROM ho),
         bs AS (SELECT score, count(*)::BIGINT AS ns,
                       count(*) FILTER (WHERE y)::BIGINT AS ps
                FROM ho GROUP BY score),
         rk AS (SELECT ps, ns,
                       coalesce(sum(ns) OVER (ORDER BY score
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS cum
                FROM bs),
         au AS (SELECT sum(CAST(ps * (cum + (ns + 1) / 2.0) AS DECIMAL(38,6)))
                         AS srp,
                       sum(ps) AS p, sum(ns) AS nn
                FROM rk)
         SELECT n, tp, fp, fn, tn,
           round(CASE WHEN tp + fp > 0 THEN tp::DOUBLE / (tp + fp) END, 6)
             AS "precision",
           round(CASE WHEN tp + fn > 0 THEN tp::DOUBLE / (tp + fn) END, 6)
             AS recall,
           round(CASE WHEN tp * 2 + fp + fn > 0
                 THEN (tp * 2)::DOUBLE / (tp * 2 + fp + fn) END, 6) AS f1,
           round(CASE WHEN p > 0 AND nn > p
                 THEN (CAST(srp AS DOUBLE) - p::DOUBLE * (p + 1)::DOUBLE / 2.0)
                      / (p::DOUBLE * (nn - p)::DOUBLE) END, 6) AS auc
         FROM cm, au""",

    // Same salted page, same two RE2-safe extraction patterns: href
    // hosts (absolute http(s) hrefs only) vs running-text URL hosts
    "q99_html_links" ->
      """WITH s AS (
           SELECT doc_id,
             '<p>' || text || ' visit https://plain' || (doc_id % 5)::VARCHAR
             || '.example.io/home</p><a href="https://site' || (doc_id % 7)::VARCHAR
             || '.example.com/p">x</a> <a href=''http://cdn.example.net:8080/y''>y</a> '
             || '<a href="https://u:p@tracker.example.org/z">z</a> '
             || '<a href="//mirror.example.net/q">q</a> '
             || '<a href="/about">about</a>' AS h
           FROM documents WHERE text IS NOT NULL),
         hr AS (SELECT doc_id,
                  unnest(regexp_extract_all(lower(h),
                    'href\s*=\s*["''](?:https?:)?//(?:[^/?#"''\s@]*@)?([\p{L}\p{N}_-]+(?:\.[\p{L}\p{N}_-]+)*)',
                    1)) AS host
                FROM s),
         tx AS (SELECT doc_id,
                  unnest(regexp_extract_all(lower(h),
                    'https?://(?:[^/?#\s@]*@)?([\p{L}\p{N}_-]+(?:\.[\p{L}\p{N}_-]+)*)',
                    1)) AS host
                FROM s),
         a AS (SELECT host, count(*)::BIGINT AS n_links FROM hr GROUP BY host),
         b AS (SELECT host, count(*)::BIGINT AS n_text_urls FROM tx GROUP BY host)
         SELECT coalesce(a.host, b.host) AS host,
                coalesce(a.n_links, 0)::BIGINT AS n_links,
                coalesce(b.n_text_urls, 0)::BIGINT AS n_text_urls
         FROM a FULL OUTER JOIN b ON a.host = b.host
         ORDER BY host""",

    // q91's training/scoring CTEs verbatim, then the cumulative
    // threshold sweep over the held-out distinct-score table
    "q100_pr_curve" ->
      """WITH base AS (
           SELECT doc_id, coalesce(lang = 'en', false) AS y,
                  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
                    AS norm
           FROM documents WHERE text IS NOT NULL),
         ws AS (SELECT doc_id, y, norm, string_split(norm, ' ') AS w FROM base),
         uni AS (SELECT doc_id, y, unnest(w) AS g FROM ws),
         bi AS (SELECT doc_id, y,
                       CASE WHEN len(w) < 2 THEN norm
                            ELSE w[t.i] || ' ' || w[t.i + 1] END AS g
                FROM ws,
                     unnest(generate_series(1, greatest(len(w) - 1, 1))) AS t(i)),
         bk AS (SELECT doc_id, y, substring(md5(g), 1, 3) AS b
                FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
                WHERE g <> ''),
         cnt AS (SELECT b,
                        count(*) FILTER (WHERE y)::BIGINT AS pos,
                        count(*) FILTER (WHERE NOT y)::BIGINT AS neg
                 FROM bk WHERE doc_id % 2 = 0 GROUP BY b),
         tot AS (SELECT sum(pos) AS p, sum(neg) AS n FROM cnt),
         wt AS (SELECT b, ln((pos + 1)::DOUBLE / (p + 4096)) -
                         ln((neg + 1)::DOUBLE / (n + 4096)) AS w
                FROM cnt, tot),
         prior AS (SELECT ln((count(*) FILTER (WHERE y) + 1)::DOUBLE /
                             (count(*) FILTER (WHERE NOT y) + 1)) AS bias,
                          (SELECT ln(1.0 / (p + 4096)) - ln(1.0 / (n + 4096))
                           FROM tot) AS w0
                   FROM base WHERE doc_id % 2 = 0),
         sc AS (SELECT bk.doc_id, count(*)::BIGINT AS n_grams,
                       sum(CAST(coalesce(wt.w, prior.w0) AS DECIMAL(38,12)))
                         AS s
                FROM bk LEFT JOIN wt USING (b), prior
                GROUP BY bk.doc_id),
         scored AS (
           SELECT base.doc_id, base.y,
                  round(CAST(coalesce(sc.s, 0) AS DOUBLE) + bias, 6) AS score
           FROM base LEFT JOIN sc ON base.doc_id = sc.doc_id, prior),
         ho AS (SELECT * FROM scored WHERE doc_id % 2 = 1),
         bs AS (SELECT score, count(*)::BIGINT AS ns,
                       count(*) FILTER (WHERE y)::BIGINT AS ps
                FROM ho GROUP BY score),
         c AS (SELECT score AS threshold,
                      sum(ns) OVER (ORDER BY score DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
                      sum(ps) OVER (ORDER BY score DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
                      sum(ps) OVER () AS p
               FROM bs)
         SELECT threshold, cn::BIGINT AS n_predicted, cp::BIGINT AS tp,
                round(cp::DOUBLE / cn, 6) AS "precision",
                round(CASE WHEN p > 0 THEN cp::DOUBLE / p END, 6) AS recall
         FROM c ORDER BY threshold""",

    // The expected WARC records computed directly from documents: the
    // Spark side genuinely round-trips through ISO-28500 bytes (build
    // 20 files → length-driven record walk → HTTP split), so matching
    // this closed form hash-verifies the parser end-to-end (the q89
    // streaming-equals-batch pattern, applied to container ingest).
    "q101_warc_ingest" ->
      """SELECT doc_id,
                'https://crawl.example.org/doc/' || doc_id AS target_uri,
                200 AS http_status,
                'text/plain' AS http_content_type,
                2 AS n_http_headers,
                octet_length(encode(text || chr(10) || 'WARC/1.1 inner decoy'))::BIGINT
                  AS body_octets,
                md5(text || chr(10) || 'WARC/1.1 inner decoy') AS body_md5
         FROM documents WHERE text IS NOT NULL ORDER BY doc_id""",

    // The identical salt + 23-step replace chain + control strip,
    // generated from TextPipeline.MojibakeTable (single source of
    // truth — the operator and its oracle cannot drift apart)
    "q102_encoding_repair" -> {
      val chain = TextPipeline.MojibakeTable.foldLeft("salted") {
        case (acc, (m, r)) => s"replace($acc, '$m', '$r')"
      }
      val ctl = TextPipeline.ControlPattern
      s"""WITH s AS (SELECT doc_id, text || '$q102Salt' AS salted
                     FROM documents WHERE text IS NOT NULL),
         r AS (SELECT doc_id, salted, $chain AS rep FROM s)
         SELECT doc_id,
                len(regexp_extract_all(salted,
                  '${TextPipeline.MojibakePattern}'))::BIGINT AS n_mojibake,
                len(regexp_extract_all(rep, '$ctl'))::BIGINT AS n_controls,
                octet_length(encode(regexp_replace(rep, '$ctl', '', 'g')))::BIGINT
                  AS repaired_octets,
                md5(regexp_replace(rep, '$ctl', '', 'g')) AS repaired_md5
         FROM r ORDER BY doc_id"""
    },

    // Plain anti-join on content fingerprint: the Bloom prefilter is
    // pure shuffle avoidance, invisible in the result
    "q103_bloom_antijoin" ->
      """SELECT d.doc_id FROM documents d
         WHERE d.text IS NOT NULL AND NOT EXISTS (
           SELECT 1 FROM documents s
           WHERE s.doc_id % 3 = 0 AND s.text IS NOT NULL
             AND md5(s.text) = md5(d.text))
         ORDER BY d.doc_id""",

    // exact corpus/member split closed-form; the filter's guarantees
    // arrive as booleans the Spark side actually measures (no false
    // negatives, FPR under 2× configured fpp)
    "q104_bloom_stats" ->
      """WITH docs AS (
           SELECT doc_id, md5(text) AS fp FROM documents
           WHERE text IS NOT NULL),
         seen AS (
           SELECT DISTINCT md5(text) AS fp FROM documents
           WHERE text IS NOT NULL AND doc_id % 3 = 0)
         SELECT
           (SELECT count(*) FROM docs)::BIGINT AS n_docs,
           (SELECT count(*) FROM seen)::BIGINT AS n_seen_keys,
           (SELECT count(*) FROM docs JOIN seen USING (fp))::BIGINT
             AS n_true_members,
           0::BIGINT AS n_missed_members,
           TRUE AS no_false_negatives,
           TRUE AS fpr_within_bound""",

    // The identical exponential-key formula: u from the same 12-hex
    // md5 prefix (+0.5 / 16^12), key = -ln(u)/w, 50 smallest
    "q105_weighted_sample" ->
      """SELECT doc_id, n_chars FROM (
           SELECT doc_id, n_chars,
                  -ln((('0x' || substr(md5(text || 'ws'), 1, 12))::BIGINT + 0.5)
                      / 281474976710656.0) / greatest(n_chars, 1) AS key
           FROM documents WHERE text IS NOT NULL
           ORDER BY key LIMIT 50)
         ORDER BY doc_id""",

    // The burst-WAV fixture regenerated sample-exact from the media id
    // (same argument association 2π·f·i/sr, same round-to-int PCM16
    // quantization, silence gating on the 1600-sample burst grid), then
    // the frame walk re-derived: rms = sqrt(mean v²)/32768, peak =
    // max|v|/32768, zcr = sign changes over NONZERO samples / (m−1)
    // (zeros neither cross nor reset the previous sign — the lag() over
    // the v≠0 subsequence is exactly wavFrameFeatures' prevSign rule)
    "q108_audio_frames" ->
      """WITH clips AS (
           SELECT m.id AS media_id,
                  (200 + 10 * (m.id % 8))::DOUBLE AS freq,
                  0.2 + 0.1 * (m.id % 5) AS amp
           FROM unnest(generate_series(0, 39)) AS m(id)),
         samp AS (
           -- floor(x + 0.5), not round(x): Java's Math.round is
           -- half-toward-+inf, DuckDB's round is half-away-from-zero —
           -- they differ by one count at the sine's negative peaks
           SELECT media_id, g.i AS i, (g.i // 800)::INT AS frame,
                  CASE WHEN (g.i // 1600) % 2 = 0
                       THEN floor(amp * 32767.0 *
                              sin(2 * pi() * freq * g.i / 16000)
                              + 0.5)::BIGINT
                       ELSE 0 END AS v
           FROM clips, unnest(generate_series(0, 6399)) AS g(i)),
         fr AS (
           SELECT media_id, frame,
                  sqrt(sum(v * v)::DOUBLE / 800) / 32768.0 AS rms,
                  max(abs(v))::DOUBLE / 32768.0 AS peak
           FROM samp GROUP BY media_id, frame),
         sg AS (SELECT media_id, frame, i,
                       CASE WHEN v > 0 THEN 1 ELSE -1 END AS s
                FROM samp WHERE v <> 0),
         lg AS (SELECT media_id, frame, s,
                       lag(s) OVER (PARTITION BY media_id, frame
                                    ORDER BY i) AS ps
                FROM sg),
         zc AS (SELECT media_id, frame,
                       sum(CASE WHEN ps IS NOT NULL AND s <> ps
                                THEN 1 ELSE 0 END) AS c
                FROM lg GROUP BY media_id, frame),
         ff AS (SELECT f.media_id, f.frame, f.rms, f.peak,
                       coalesce(zc.c, 0)::DOUBLE / 799 AS zcr
                FROM fr f LEFT JOIN zc USING (media_id, frame))
         SELECT media_id, count(*)::BIGINT AS n_frames,
                sum(CASE WHEN rms > 0.05 THEN 1 ELSE 0 END)::BIGINT
                  AS n_voiced,
                CAST(floor(avg(rms) * 1e4 + 0.5) AS BIGINT) AS avg_rms,
                CAST(floor(max(peak) * 1e4 + 0.5) AS BIGINT) AS max_peak,
                CAST(floor(avg(zcr) * 1e4 + 0.5) AS BIGINT) AS avg_zcr,
                CAST(floor(sum(CASE WHEN rms > 0.05 THEN 1 ELSE 0 END)::DOUBLE
                      / count(*) * 1e4 + 0.5) AS BIGINT) AS voiced_fraction
         FROM ff GROUP BY media_id ORDER BY media_id""",

    // The sine-WAV fixture regenerated sample-exact, then the DIRECT
    // DFT evaluated per (frame, bin) — an independent spelling of the
    // transform the Spark side computes by radix-2 FFT. Frame windows
    // mirror wavSpectralFeatures: largest power of two ≤ the 1024-
    // sample frame (the 928-sample tail frame truncates to 512). Both
    // sides sum the same exact integers, so FFT vs DFT differ only by
    // ~1e-10 relative float noise — far inside the 2dp/4dp rounds.
    "q138_audio_spectra" ->
      """WITH clips AS (
           SELECT m.id AS media_id,
                  (500 + 125 * (m.id % 8))::DOUBLE AS freq
           FROM unnest(generate_series(0, 39)) AS m(id)),
         samp AS (
           -- floor(x + 0.5) = Java Math.round (see q108's note)
           SELECT media_id, g.i AS i,
                  floor(0.5 * 32767.0 *
                    sin(2 * pi() * freq * g.i / 16000) + 0.5)::BIGINT AS v
           FROM clips, unnest(generate_series(0, 3999)) AS g(i)),
         frames AS (
           SELECT * FROM (VALUES (0, 0, 1024), (1, 1024, 1024),
                                 (2, 2048, 1024), (3, 3072, 512))
                  AS t(frame, s0, len)),
         fs AS (
           SELECT s.media_id, f.frame, f.len, s.i - f.s0 AS k, s.v
           FROM samp s JOIN frames f
             ON s.i >= f.s0 AND s.i < f.s0 + f.len),
         dft AS (
           SELECT media_id, frame, len, b.bin,
                  sum(v * cos(2 * pi() * b.bin * k / len)) AS re,
                  sum(v * sin(2 * pi() * b.bin * k / len)) AS im
           FROM fs, unnest(generate_series(1, 512)) AS b(bin)
           WHERE b.bin <= len / 2
           GROUP BY media_id, frame, len, b.bin),
         rk AS (SELECT media_id, frame, len, bin,
                       sqrt(re * re + im * im) AS mag,
                       row_number() OVER (PARTITION BY media_id, frame
                         ORDER BY sqrt(re * re + im * im) DESC, bin) AS rn,
                       sum(sqrt(re * re + im * im))
                         OVER (PARTITION BY media_id, frame) AS magsum,
                       sum(sqrt(re * re + im * im) * bin)
                         OVER (PARTITION BY media_id, frame) AS centnum
                FROM dft),
         pf AS (SELECT media_id, frame,
                       bin * (16000.0 / len) AS peak_hz,
                       CASE WHEN magsum > 0
                            THEN centnum / magsum * (16000.0 / len)
                            ELSE 0 END AS centroid_hz,
                       CASE WHEN magsum > 0 THEN mag / magsum ELSE 0 END
                         AS peak_mag_rel
                FROM rk WHERE rn = 1),
         ag AS (SELECT media_id, count(*)::BIGINT AS n_frames,
                       CAST(floor(avg(peak_hz) * 1e2 + 0.5) AS BIGINT)
                         AS aph,
                       CAST(floor(avg(centroid_hz) * 1e2 + 0.5) AS BIGINT)
                         AS ach,
                       CAST(floor(min(peak_mag_rel) * 1e4 + 0.5) AS BIGINT)
                         AS mps,
                       500 + 125 * (media_id % 8) AS tone_hz
                FROM pf GROUP BY media_id)
         SELECT media_id, n_frames,
                aph AS avg_peak_hz,
                ach AS avg_centroid_hz,
                mps AS min_peak_share,
                tone_hz::BIGINT AS tone_hz,
                abs(aph - tone_hz * 100) <= 1562.5 AS peak_within_bin
         FROM ag ORDER BY media_id""",

    // The identical 10 power iterations, unrolled from one template
    // (recursive CTEs restrict aggregation in the recursive term, and
    // an unrolled chain is also closer to what the Spark loop runs)
    "q109_pagerank" -> unrolledPageRankSql(
      """SELECT doc_id % 20 AS src, (doc_id * 7 + 3) % 25 AS dst,
                count(*)::DOUBLE AS w
         FROM documents WHERE text IS NOT NULL GROUP BY 1, 2"""),

    // the coverage law (chunks partition the UTF-8 bytes) as the
    // hashed column; size bounds and frac range as expected-TRUE
    "q147_cdc_chunks" ->
      """SELECT doc_id, strlen(text)::BIGINT AS n_bytes,
                TRUE AS chunks_within_size_bounds,
                TRUE AS shared_frac_in_01
         FROM documents WHERE text IS NOT NULL AND strlen(text) > 0
         ORDER BY doc_id""",

    // coverage of the banner+text new side (18 ASCII banner bytes);
    // the shift-robustness dominance as expected-TRUE
    "q149_cdc_delta" ->
      """SELECT doc_id, (strlen(text) + 18)::BIGINT AS new_bytes,
                TRUE AS fracs_in_01, TRUE AS cdc_not_worse_than_fixed
         FROM documents WHERE text IS NOT NULL ORDER BY doc_id""",

    // q86's exact bookkeeping columns + the three FFD laws as
    // expected-TRUE
    "q88_packing_policies" ->
      """WITH x AS (
           SELECT len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n
           FROM documents),
         a AS (
           SELECT count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS n_tokens,
                  sum(ceil(n / 512.0)::BIGINT)::BIGINT AS isolated_packs
           FROM x)
         SELECT n_docs, n_tokens, isolated_packs,
                ceil(n_tokens / 512.0)::BIGINT AS concat_packs,
                CAST(floor((isolated_packs * 512 - n_tokens)::DOUBLE
                      / (isolated_packs * 512) * 1e6 + 0.5) AS BIGINT)
                  AS isolated_padding_fraction,
                TRUE AS ffd_at_least_optimal_floor,
                TRUE AS ffd_no_worse_than_isolated,
                TRUE AS ffd_within_dosa_bound
         FROM a""",

    // exact normalized word counts; the learned piece counts arrive
    // pinched between their per-word floor and per-char ceiling
    "q95_bpe_encode" ->
      """SELECT doc_id,
           len(list_filter(regexp_split_to_array(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
             ' '), t -> t <> ''))::BIGINT AS n_words,
           TRUE AS bpe_at_least_words,
           TRUE AS bpe_at_most_chars,
           TRUE AS merges_compress
         FROM documents WHERE text IS NOT NULL ORDER BY doc_id""",

    // the q20 count spellings aggregated exactly; learned-count laws
    // as expected-TRUE
    "q96_bpe_divergence" ->
      """SELECT source, count(*)::BIGINT AS n_docs,
           sum(len(regexp_split_to_array(trim(text), '\s+')))::BIGINT
             AS ws_tokens,
           sum(len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')))::BIGINT AS bpeish_tokens,
           TRUE AS bpe_at_least_words,
           TRUE AS bpe_at_most_chars
         FROM documents WHERE text IS NOT NULL
         GROUP BY source ORDER BY source""",

    // pack floor, chunk coverage, and budget as expected-TRUE over the
    // exact doc count
    "q97_bpe_packing" ->
      """SELECT count(*)::BIGINT AS n_docs,
           TRUE AS packs_at_least_capacity_floor,
           TRUE AS chunks_cover_all_pieces,
           TRUE AS chunk_overflow_bounded
         FROM documents WHERE text IS NOT NULL""",

    // closed-form byte counts (the 546-byte ASCII salt on id%7==0) and
    // expected-TRUE bounds; the deflate sizes themselves are measured
    // Spark-side and arrive folded into the booleans
    "q122_compression_signal" ->
      """SELECT doc_id,
           (strlen(text)
            + CASE WHEN doc_id % 7 = 0 THEN 546 ELSE 0 END)::BIGINT
             AS octets,
           doc_id % 7 = 0 AS salted,
           TRUE AS within_stored_bound,
           TRUE AS deflate_positive,
           CASE WHEN doc_id % 7 = 0 THEN
             CASE WHEN strlen(text) > 0 THEN TRUE END
           END AS salt_improves_ratio
         FROM documents WHERE text IS NOT NULL ORDER BY doc_id""",

    // all three phases unrolled: 12 iterations to the pre-delta fixed
    // point, the renormalized warm init, and both 2-iteration runs on
    // the post-delta graph
    "q137_pagerank_incremental" -> {
      val baseEdges =
        """SELECT doc_id % 20 AS src, (doc_id * doc_id + 3) % 25 AS dst,
                  count(*)::DOUBLE AS w
           FROM documents WHERE text IS NOT NULL GROUP BY 1, 2"""
      val afterEdges =
        """SELECT src, dst, count(*)::DOUBLE AS w FROM (
             SELECT doc_id % 20 AS src, (doc_id * doc_id + 3) % 25 AS dst
             FROM documents WHERE text IS NOT NULL
             UNION ALL
             SELECT doc_id % 25, (doc_id * 13 + 5) % 30
             FROM documents WHERE text IS NOT NULL AND doc_id % 67 = 0)
           GROUP BY 1, 2"""
      "WITH " + prGraphSql("b", baseEdges) + ",\n           " +
        prGraphSql("a", afterEdges) +
        """,
           bp0 AS (SELECT v, 1.0 / bnn.n AS r FROM bnodes, bnn)""" +
        (1 to 12).map(i => prIterSql("bp", i, "b")).mkString +
        """,
           wraw AS (SELECT an.v, coalesce(bp12.r, 1.0 / ann.n) AS r
                    FROM anodes an LEFT JOIN bp12 ON an.v = bp12.v, ann),
           wmass AS (SELECT sum(r) AS m FROM wraw),
           wp0 AS (SELECT v, r / wmass.m AS r FROM wraw, wmass)""" +
        (1 to 2).map(i => prIterSql("wp", i, "a")).mkString +
        """,
           cp0 AS (SELECT v, 1.0 / ann.n AS r FROM anodes, ann)""" +
        (1 to 2).map(i => prIterSql("cp", i, "a")).mkString +
        """,
           wres AS (SELECT sum(abs(x.r - y.r)) AS rr
                    FROM wp2 x JOIN wp1 y ON x.v = y.v),
           cres AS (SELECT sum(abs(x.r - y.r)) AS rr
                    FROM cp2 x JOIN cp1 y ON x.v = y.v)
           SELECT CAST(floor(wres.rr * 1e6 + 0.5) AS BIGINT)
                    AS warm_l1_residual,
                  CAST(floor(cres.rr * 1e6 + 0.5) AS BIGINT)
                    AS cold_l1_residual,
                  wres.rr < cres.rr AS warm_beats_cold
           FROM wres, cres"""
    },

    // Expected page text in closed form (round-trip identity + the
    // documented Tj/TJ salt); page numbering = ascending doc_id within
    // the id%20 file — the PDF layer must be byte-perfect for the md5
    // to land
    "q110_pdf_extract" ->
      """WITH d AS (SELECT doc_id, doc_id % 20 AS f,
                           'doc ' || doc_id || chr(10) || text AS pt
                    FROM documents WHERE text IS NOT NULL),
           x AS (SELECT doc_id, f,
                        pt || (CASE WHEN pt LIKE '%' || chr(10) THEN ''
                                    ELSE chr(10) END)
                           || '(pdf) (salt)' || chr(10) AS et
                 FROM d)
         SELECT doc_id,
                (count(*) OVER (PARTITION BY f))::INT AS n_pages,
                (row_number() OVER (PARTITION BY f ORDER BY doc_id))::INT AS page,
                strlen(et)::BIGINT AS text_octets,
                md5(et) AS text_md5
         FROM x ORDER BY doc_id""",

    // The DuckDB canonicalization chain is generated from the same
    // step table as the operator (Urls.canonicalUrlSql) — single
    // source of truth, the q102 pattern
    "q111_canonical_url" ->
      s"""SELECT doc_id, __url AS url,
            ${graft.ext.Urls.canonicalUrlSql("__url")} AS canonical_url
          FROM (SELECT doc_id, $frontierUrlSql AS __url FROM documents)
          ORDER BY doc_id""",

    // Plain anti-join on the canonical key: the Bloom prefilter is
    // shuffle avoidance, invisible in the result (the q103 contract)
    "q112_frontier_admission" ->
      s"""WITH f AS (
            SELECT doc_id, ${graft.ext.Urls.canonicalUrlSql("__url")} AS u
            FROM (SELECT doc_id, $frontierUrlSql AS __url FROM documents))
          SELECT doc_id FROM f
          WHERE u IS NOT NULL AND NOT EXISTS (
            SELECT 1 FROM f s WHERE s.doc_id % 3 = 0 AND s.u = f.u)
          ORDER BY doc_id""",

    // q101's oracle VERBATIM: the gzip container must decompress to
    // the identical byte stream, so the same expectation hash-checks
    // the member walk + record walk end-to-end
    "q115_warc_gzip" ->
      """SELECT doc_id,
                'https://crawl.example.org/doc/' || doc_id AS target_uri,
                200 AS http_status,
                'text/plain' AS http_content_type,
                2 AS n_http_headers,
                octet_length(encode(text || chr(10) || 'WARC/1.1 inner decoy'))::BIGINT
                  AS body_octets,
                md5(text || chr(10) || 'WARC/1.1 inner decoy') AS body_md5
         FROM documents WHERE text IS NOT NULL ORDER BY doc_id""",

    // DuckDB's nfc_normalize is an independent implementation of the
    // same Unicode normalization tables; the SQL literal embeds the
    // IDENTICAL q116Salt constant (raw NFD bytes ride through the
    // JSON artifact), so the two sides can never drift
    "q116_unicode_nfc" -> {
      val salt = q116Salt.replace("'", "''")
      s"""SELECT doc_id,
                 length(text || '$salt')::BIGINT AS raw_chars,
                 length(nfc_normalize(text || '$salt'))::BIGINT AS nfc_chars,
                 (length(text || '$salt') - length(nfc_normalize(text || '$salt')))::BIGINT
                   AS chars_folded,
                 md5(nfc_normalize(text || '$salt')) AS nfc_md5
          FROM documents WHERE text IS NOT NULL ORDER BY doc_id"""
    },

    // Independent REP evaluation: the raw rules (as parsed from the
    // fixture bodies) as a VALUES table, group resolution (exact-agent
    // replaces *) and longest-match-Allow-wins both re-derived in SQL
    "q118_robots_gate" ->
      s"""WITH u AS (SELECT doc_id, $robotsUrlSql AS url FROM documents),
           up AS (SELECT doc_id, url,
                    lower(regexp_extract(url, '^[a-z]+://(?:[^/?#]*@)?([^/?#:]*)', 1)) AS host,
                    CASE WHEN regexp_extract(url, '^[a-z]+://[^/?#]*([^?#]*)', 1) = ''
                         THEN '/' ELSE regexp_extract(url, '^[a-z]+://[^/?#]*([^?#]*)', 1)
                    END AS path
                  FROM u),
           r(host, agent, allow, prefix) AS (VALUES
             ('h0.example.com', '*', false, '/private/'),
             ('h0.example.com', '*', true,  '/private/public/'),
             ('h1.example.com', '*', false, '/'),
             ('h1.example.com', 'graftbot', false, '/secret/'),
             ('h2.example.com', 'alpha',    false, '/shared/'),
             ('h2.example.com', 'graftbot', false, '/shared/'),
             ('h3.example.com', 'other',    false, '/')),
           haz AS (SELECT DISTINCT host FROM r WHERE agent = 'graftbot'),
           app AS (SELECT host, allow, prefix FROM r
                   WHERE agent = 'graftbot'
                      OR (agent = '*' AND host NOT IN (SELECT host FROM haz))),
           m AS (SELECT up.doc_id, up.url, app.allow, strlen(app.prefix) AS l
                 FROM up LEFT JOIN app
                   ON up.host = app.host AND starts_with(up.path, app.prefix)),
           b AS (SELECT doc_id, url, allow,
                        row_number() OVER (PARTITION BY doc_id
                          ORDER BY l DESC NULLS LAST, allow DESC NULLS LAST) AS rn
                 FROM m)
         SELECT doc_id, url, coalesce(allow, true) AS allowed
         FROM b WHERE rn = 1 ORDER BY doc_id""",

    // q118's chain over the DEDUPED frontier, then one window: offsets
    // spaced by h2's declared 2 s crawl-delay, 1 s default elsewhere
    "q119_crawl_schedule" ->
      s"""WITH uu AS (SELECT $robotsUrlSql AS url, min(doc_id) AS first_doc_id
                      FROM documents GROUP BY 1),
           up AS (SELECT url, first_doc_id,
                    lower(regexp_extract(url, '^[a-z]+://(?:[^/?#]*@)?([^/?#:]*)', 1)) AS host,
                    CASE WHEN regexp_extract(url, '^[a-z]+://[^/?#]*([^?#]*)', 1) = ''
                         THEN '/' ELSE regexp_extract(url, '^[a-z]+://[^/?#]*([^?#]*)', 1)
                    END AS path
                  FROM uu),
           r(host, agent, allow, prefix) AS (VALUES
             ('h0.example.com', '*', false, '/private/'),
             ('h0.example.com', '*', true,  '/private/public/'),
             ('h1.example.com', '*', false, '/'),
             ('h1.example.com', 'graftbot', false, '/secret/'),
             ('h2.example.com', 'alpha',    false, '/shared/'),
             ('h2.example.com', 'graftbot', false, '/shared/'),
             ('h3.example.com', 'other',    false, '/')),
           haz AS (SELECT DISTINCT host FROM r WHERE agent = 'graftbot'),
           app AS (SELECT host, allow, prefix FROM r
                   WHERE agent = 'graftbot'
                      OR (agent = '*' AND host NOT IN (SELECT host FROM haz))),
           m AS (SELECT up.url, up.first_doc_id, up.host, app.allow,
                        strlen(app.prefix) AS l
                 FROM up LEFT JOIN app
                   ON up.host = app.host AND starts_with(up.path, app.prefix)),
           b AS (SELECT url, first_doc_id, host, allow,
                        row_number() OVER (PARTITION BY url
                          ORDER BY l DESC NULLS LAST, allow DESC NULLS LAST) AS rn
                 FROM m),
           ok AS (SELECT url, first_doc_id, host FROM b
                  WHERE rn = 1 AND coalesce(allow, true))
         SELECT url, first_doc_id,
                ((row_number() OVER (PARTITION BY host ORDER BY url) - 1)
                  * CASE WHEN host = 'h2.example.com' THEN 2.0 ELSE 1.0 END)::DOUBLE
                  AS fetch_offset_sec
         FROM ok ORDER BY url""",

    // every extracted field is a closed-form function of doc_id;
    // CDATA-wrapped locs (doc_id%5=0) keep their &amp; LITERAL (XML
    // spec: CDATA content is not entity-decoded), the rest decode
    "q120_sitemap_parse" ->
      """SELECT doc_id,
                'https://s' || (doc_id % 10)::VARCHAR || '.example.com/p?a='
                  || doc_id::VARCHAR
                  || CASE WHEN doc_id % 5 = 0 THEN '&amp;b=1' ELSE '&b=1' END AS loc,
                '2026-0' || (doc_id % 9 + 1)::VARCHAR || '-01' AS lastmod,
                CASE WHEN doc_id % 2 = 0 THEN 'daily' END AS changefreq,
                ('0.' || (doc_id % 10)::VARCHAR)::DOUBLE AS priority
         FROM documents ORDER BY doc_id""",

    // the composed frontier in closed form: canonical URL formula,
    // robots predicate, already-crawled anti-join, per-host window —
    // the offsets only match if every stage admitted exactly the
    // right URL set
    "q121_frontier_pipeline" ->
      """WITH c AS (SELECT doc_id,
                'https://s' || (doc_id % 10)::VARCHAR || '.example.com/p'
                  || (doc_id % 4)::VARCHAR || '?a=' || doc_id::VARCHAR || '&b=1' AS url,
                's' || (doc_id % 10)::VARCHAR || '.example.com' AS host
              FROM documents),
           adm AS (SELECT url, host FROM c
                   WHERE NOT (doc_id % 10 < 5 AND doc_id % 4 = 0)),
           fresh AS (SELECT url, host FROM adm a
                     WHERE NOT EXISTS (SELECT 1 FROM c s
                                       WHERE s.doc_id % 3 = 0 AND s.url = a.url))
         SELECT url,
                ((row_number() OVER (PARTITION BY host ORDER BY url) - 1)
                  * CASE WHEN host IN ('s0.example.com','s1.example.com',
                                       's2.example.com','s3.example.com',
                                       's4.example.com')
                         THEN 2.0 ELSE 1.0 END)::DOUBLE AS fetch_offset_sec
         FROM fresh ORDER BY url""",

    // discovery in closed form: even sites advertise → even doc_ids
    // admitted; site/chunk/loc are direct functions of doc_id
    "q123_sitemap_discovery" ->
      """SELECT doc_id,
                (doc_id % 10)::BIGINT AS site,
                ((doc_id // 10) % 3)::BIGINT AS chunk,
                'https://s' || (doc_id % 10)::VARCHAR || '.example.com/p?a='
                  || doc_id::VARCHAR AS loc
         FROM documents WHERE doc_id % 2 = 0 ORDER BY doc_id""",

    // q121's frontier restricted to the DISCOVERED half (s0–s4 are the
    // only hosts whose robots advertise a sitemap; they all declare
    // crawl-delay 2 and disallow /p0)
    "q124_frontier_discovered" ->
      """WITH c AS (SELECT doc_id,
                'https://s' || (doc_id % 10)::VARCHAR || '.example.com/p'
                  || (doc_id % 4)::VARCHAR || '?a=' || doc_id::VARCHAR || '&b=1' AS url,
                's' || (doc_id % 10)::VARCHAR || '.example.com' AS host
              FROM documents),
           adm AS (SELECT url, host FROM c
                   WHERE doc_id % 10 < 5 AND doc_id % 4 <> 0),
           fresh AS (SELECT url, host FROM adm a
                     WHERE NOT EXISTS (SELECT 1 FROM c s
                                       WHERE s.doc_id % 3 = 0 AND s.url = a.url))
         SELECT url,
                ((row_number() OVER (PARTITION BY host ORDER BY url) - 1)
                  * 2.0)::DOUBLE AS fetch_offset_sec
         FROM fresh ORDER BY url""",

    // streaming ≡ batch: the micro-batched admission must reproduce
    // q121's closed form exactly (same corpus, same stages)
    "q125_frontier_streaming" ->
      """WITH c AS (SELECT doc_id,
                'https://s' || (doc_id % 10)::VARCHAR || '.example.com/p'
                  || (doc_id % 4)::VARCHAR || '?a=' || doc_id::VARCHAR || '&b=1' AS url,
                's' || (doc_id % 10)::VARCHAR || '.example.com' AS host
              FROM documents),
           adm AS (SELECT url, host FROM c
                   WHERE NOT (doc_id % 10 < 5 AND doc_id % 4 = 0)),
           fresh AS (SELECT url, host FROM adm a
                     WHERE NOT EXISTS (SELECT 1 FROM c s
                                       WHERE s.doc_id % 3 = 0 AND s.url = a.url))
         SELECT url,
                ((row_number() OVER (PARTITION BY host ORDER BY url) - 1)
                  * CASE WHEN host IN ('s0.example.com','s1.example.com',
                                       's2.example.com','s3.example.com',
                                       's4.example.com')
                         THEN 2.0 ELSE 1.0 END)::DOUBLE AS fetch_offset_sec
         FROM fresh ORDER BY url""",

    // the honest-stub boundary in closed form: each doc_id%8 slot maps
    // to one payload class with a CONSTANT audited outcome — decoded
    // for the five real decoders, envelope_only for MP4 (header real,
    // samples codec-bound), refused for MP3/H.264
    "q128_decode_refusals" ->
      """WITH m AS (SELECT
           CASE doc_id % 9 WHEN 0 THEN 'audio' WHEN 1 THEN 'image'
                WHEN 2 THEN 'image' WHEN 3 THEN 'image' WHEN 4 THEN 'image'
                WHEN 5 THEN 'video' WHEN 6 THEN 'audio' WHEN 7 THEN 'video'
                ELSE 'image' END AS kind,
           CASE doc_id % 9 WHEN 0 THEN 'wav' WHEN 1 THEN 'bmp'
                WHEN 2 THEN 'png' WHEN 3 THEN 'jpeg' WHEN 4 THEN 'gif'
                WHEN 5 THEN 'mp4' WHEN 6 THEN 'mp3' WHEN 7 THEN 'h26x'
                ELSE 'jpeg_progressive' END AS format,
           CASE doc_id % 9 WHEN 5 THEN 'envelope_only'
                WHEN 6 THEN 'refused' WHEN 7 THEN 'refused'
                ELSE 'decoded' END AS outcome
         FROM documents)
         SELECT kind, format, outcome, count(*) AS n
         FROM m GROUP BY 1, 2, 3 ORDER BY format""",

    // independent BM25 derivation: dl from the same normalizer ('' → 0
    // tokens), avgdl over all non-null docs, Lucene idf, k1=1.2 b=0.75;
    // 'zebra' never matches so it must influence nothing
    "q129_bm25" ->
      """WITH d AS (
           SELECT doc_id,
             regexp_split_to_array(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
               ' ') AS toks,
             CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
                  THEN 0
                  ELSE len(regexp_split_to_array(
                    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '))
             END::DOUBLE AS dl
           FROM documents WHERE text IS NOT NULL),
         stats AS (SELECT count(*)::DOUBLE AS nn, avg(dl)::DOUBLE AS avgdl FROM d),
         q AS (SELECT unnest(['vector','stream','merge','zebra']) AS term),
         tf AS (
           SELECT doc_id, dl, term, count(*)::DOUBLE AS tf
           FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d) x
           JOIN q USING (term)
           GROUP BY doc_id, dl, term),
         dfq AS (SELECT term, count(*)::DOUBLE AS dfreq FROM tf GROUP BY term)
         SELECT doc_id, count(*) AS n_matched,
                round(sum(
                  ln(1.0 + (nn - dfreq + 0.5) / (dfreq + 0.5)) *
                  (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS score
         FROM tf JOIN dfq USING (term), stats
         GROUP BY doc_id ORDER BY doc_id""",

    // q27's brute-force oracle VERBATIM — the prefix-filter join must
    // reproduce the exact pair set and jaccard values
    "q130_prefix_jaccard" ->
      """WITH w AS (SELECT doc_id,
                      list_distinct(regexp_split_to_array(
                        trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                        ' ')) AS words
               FROM documents),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                      len(list_intersect(a.words, b.words))::DOUBLE AS c,
                      len(a.words)::DOUBLE AS na, len(b.words)::DOUBLE AS nb
               FROM w a, w b WHERE a.doc_id < b.doc_id)
         SELECT id_a, id_b, c / (na + nb - c) AS jaccard FROM p
         WHERE c / (na + nb - c) >= 0.8 ORDER BY id_a, id_b""",

    // brute-force exact unigram Jaccard over the persisted realistic
    // fixture — hash-matching it proves the prefix filter dropped no
    // qualifying pair on the realistic profile. sum_jaccard is per-
    // pair micro-units summed in integers (no float accumulation
    // order); min_jaccard is one exact int division, bit-portable.
    "q131_prefix_jaccard_realistic" ->
      raw"""WITH w AS (SELECT doc_id,
                      list_distinct(regexp_split_to_array(
                        trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                        ' ')) AS words
               FROM read_parquet(
                 '$FixtureDir/realistic_corpus.parquet-*/*.parquet')),
         p AS (SELECT len(list_intersect(a.words, b.words))::DOUBLE AS c,
                      len(a.words)::DOUBLE AS na, len(b.words)::DOUBLE AS nb
               FROM w a, w b WHERE a.doc_id < b.doc_id),
         j AS (SELECT c / (na + nb - c) AS jaccard FROM p
               WHERE c / (na + nb - c) >= 0.8)
         SELECT count(*)::BIGINT AS n_pairs,
                CAST(sum(CAST(floor(jaccard * 1e6 + 0.5) AS BIGINT))
                     AS BIGINT) AS sum_jaccard,
                min(jaccard) AS min_jaccard
         FROM j""",

    // the salted link zoo in closed form: each doc cites its t-target
    // twice (two spellings, one canonical URL, two anchor texts) and
    // its m-target once; the relative href never aggregates; top
    // anchor = highest count, ties to the lexicographically smallest
    "q132_anchor_agg" ->
      """WITH d AS (SELECT doc_id, doc_id % 7 AS k, doc_id % 5 AS j,
                           doc_id % 3 AS m
               FROM documents),
         a AS (
           SELECT doc_id,
                  'https://t' || k || '.example.com/page' AS target,
                  'Visit ' || m AS anchor FROM d
           UNION ALL
           SELECT doc_id, 'https://t' || k || '.example.com/page',
                  'Read more & again ' || m FROM d
           UNION ALL
           SELECT doc_id, 'https://m' || j || '.example.net/x',
                  'line1 line2 ' || m FROM d),
         tot AS (SELECT target, count(*) AS n_anchors,
                        count(DISTINCT doc_id) AS n_docs
                 FROM a GROUP BY target),
         cnt AS (SELECT target, anchor, count(*) AS c
                 FROM a GROUP BY target, anchor),
         top AS (SELECT target, anchor AS top_anchor
                 FROM (SELECT target, anchor,
                         row_number() OVER (PARTITION BY target
                           ORDER BY c DESC, anchor) AS rn
                       FROM cnt)
                 WHERE rn = 1)
         SELECT target, n_anchors, n_docs, top_anchor
         FROM tot JOIN top USING (target)
         ORDER BY target""",

    // all 10 HITS power iterations unrolled (a-half-step, L2 norm,
    // h-half-step, L2 norm — MATERIALIZED for the same
    // exponential-expansion reason as q109's chain), residual =
    // Σ|a10 − a9|
    "q133_hits" -> {
      val base =
        """WITH e AS (
             SELECT DISTINCT doc_id % 20 AS src, (doc_id * 7 + 3) % 25 AS dst
             FROM documents WHERE text IS NOT NULL),
           nodes AS (SELECT DISTINCT v
                     FROM (SELECT src AS v FROM e UNION SELECT dst FROM e)),
           h0 AS (SELECT v, 1.0 AS h FROM nodes)"""
      val iters = (1 to 10).map { i =>
        val hp = s"h${i - 1}"
        s""",
           ar$i AS MATERIALIZED (SELECT e.dst AS v, sum(h.h) AS a
                   FROM $hp h JOIN e ON h.v = e.src GROUP BY e.dst),
           af$i AS MATERIALIZED (SELECT nodes.v, coalesce(ar$i.a, 0) AS a
                   FROM nodes LEFT JOIN ar$i ON nodes.v = ar$i.v),
           an$i AS MATERIALIZED (SELECT sqrt(sum(a * a)) AS s FROM af$i),
           a$i AS MATERIALIZED (SELECT v, a / an$i.s AS a FROM af$i, an$i),
           hr$i AS MATERIALIZED (SELECT e.src AS v, sum(a.a) AS h
                   FROM a$i a JOIN e ON a.v = e.dst GROUP BY e.src),
           hf$i AS MATERIALIZED (SELECT nodes.v, coalesce(hr$i.h, 0) AS h
                   FROM nodes LEFT JOIN hr$i ON nodes.v = hr$i.v),
           hn$i AS MATERIALIZED (SELECT sqrt(sum(h * h)) AS s FROM hf$i),
           h$i AS MATERIALIZED (SELECT v, h / hn$i.s AS h FROM hf$i, hn$i)"""
      }.mkString
      base + iters +
        """,
           res AS (SELECT sum(abs(x.a - y.a)) AS rr
                   FROM a10 x JOIN a9 y ON x.v = y.v)
           SELECT a10.v AS node, round(a10.a, 6) AS auth,
                  round(h10.h, 6) AS hub, round(res.rr, 6) AS l1_residual
           FROM a10 JOIN h10 ON a10.v = h10.v, res ORDER BY node"""
    },

    // closed-form host edges (the aliased spelling must canonicalize
    // onto the same host; the relative href must vanish) through the
    // SAME unrolled-PageRank chain as q109
    "q135_linkgraph_pipeline" -> unrolledPageRankSql(
      """SELECT src, dst, 1.0::DOUBLE AS w FROM (
           SELECT DISTINCT 'h' || (doc_id % 8) || '.example.org' AS src,
                  'h' || ((doc_id * 3 + 1) % 8) || '.example.org' AS dst
           FROM documents
           UNION
           SELECT DISTINCT 'h' || (doc_id % 8) || '.example.org',
                  'h' || ((doc_id * 5 + 2) % 8) || '.example.org'
           FROM documents)"""),

    // the wildcard verdict table in closed form: host = w(doc_id%2),
    // path slot = (doc_id//2)%6; every (host, slot) verdict hand-
    // derived from the RFC rules (w0: only the bare .pdf outside /pub
    // blocks; w1: /private*/ blocks unless the longer literal allow
    // matches, /tmp$ blocks only the exact path)
    "q139_robots_wildcards" ->
      """WITH d AS (
           SELECT doc_id, doc_id % 2 AS h, (doc_id // 2) % 6 AS p
           FROM documents),
         m AS (SELECT
           'https://w' || h || '.example.com' ||
             CASE p WHEN 0 THEN '/a.pdf' WHEN 1 THEN '/pub/x.pdf'
                  WHEN 2 THEN '/pub/x.pdfz' WHEN 3 THEN '/private1/x'
                  WHEN 4 THEN '/private-pub/x' ELSE '/tmp' END AS url,
           CASE WHEN h = 0 AND p = 0 THEN FALSE
                WHEN h = 1 AND p = 3 THEN FALSE
                WHEN h = 1 AND p = 5 THEN FALSE
                ELSE TRUE END AS allowed
         FROM d)
         SELECT url, allowed, count(*) AS n
         FROM m GROUP BY url, allowed ORDER BY url""",

    // period table + date arithmetic re-derived; entry fields closed-
    // form in doc_id (slot 4 omits changefreq → monthly default; never
    // → infinite period → staleness 0, not due)
    "q140_recrawl_priority" ->
      """WITH d AS (
           SELECT doc_id,
             'https://s' || (doc_id % 10) || '.example.com/p' || doc_id AS loc,
             ('2026-0' || ((doc_id % 8) + 1) || '-15')::DATE AS lastmod,
             CASE doc_id % 5 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
                  WHEN 2 THEN 'monthly' WHEN 3 THEN 'never' ELSE NULL
             END AS changefreq
           FROM documents),
         s AS (SELECT doc_id, loc, changefreq,
                 date_diff('day', lastmod, DATE '2026-08-14')::DOUBLE /
                   CASE changefreq WHEN 'daily' THEN 1.0 WHEN 'weekly' THEN 7.0
                        WHEN 'monthly' THEN 30.0
                        WHEN 'never' THEN 'infinity'::DOUBLE
                        ELSE 30.0 END AS staleness
               FROM d)
         SELECT doc_id, loc, changefreq,
                round(staleness, 6) + 0.0 AS staleness,
                staleness >= 1.0 AS due
         FROM s ORDER BY doc_id""",

    // the permutation's first 20 rows, re-derived from the same md5
    // coordinate
    "q141_epoch_shuffle" ->
      """SELECT doc_id, md5(doc_id::VARCHAR || ':e1') AS shuffle_key
         FROM documents ORDER BY shuffle_key, doc_id LIMIT 20""",

    // bit-interleave formula GENERATED from the same loop as the Spark
    // expression
    "q134_zorder" ->
      s"""SELECT doc_id, (${graft.plans.Layout.mortonCodeSql(
        "doc_id % 256", "(doc_id * 31 + 7) % 256", 8)}) AS zval
         FROM documents ORDER BY doc_id""",

    // interpolated Kneser–Ney (D = 0.75): bigram counts, context
    // totals + follower fan-out, continuation fan-in, and the type
    // total all re-derived from the same normalize/split
    "q142_kn_bigram" ->
      """WITH x AS (
           SELECT doc_id, regexp_split_to_array(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
             ' ') AS w
           FROM documents),
         d AS (SELECT * FROM x WHERE len(w) >= 2),
         b AS (SELECT doc_id, w[g.i] AS prev, w[g.i + 1] AS cur
               FROM d, unnest(generate_series(1, len(w) - 1)) AS g(i)),
         bc AS (SELECT prev, cur, count(*) AS cb FROM b GROUP BY prev, cur),
         ctx AS (SELECT prev, sum(cb) AS ctot, count(*) AS nfollow
                 FROM bc GROUP BY prev),
         cont AS (SELECT cur, count(*) AS nprec FROM bc GROUP BY cur),
         tt AS (SELECT count(*) AS t FROM bc),
         s AS (SELECT doc_id,
                 greatest(cb - 0.75, 0) / ctot
                   + (0.75 * nfollow / ctot) * (nprec::DOUBLE / t) AS p
               FROM b JOIN bc USING (prev, cur) JOIN ctx USING (prev)
                    JOIN cont USING (cur) CROSS JOIN tt)
         SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                round(-avg(ln(p)), 6) AS kn_xent_nats,
                round(exp(-avg(ln(p))), 6) AS kn_ppl
         FROM s GROUP BY doc_id ORDER BY doc_id""",

    // the PLAIN join — salt-independence means the salted plan must
    // reproduce it exactly
    "q143_salted_join" ->
      """WITH d AS (
           SELECT doc_id, n_chars,
             CASE WHEN doc_id % 2 = 0 THEN 7 ELSE doc_id % 25 END AS nkey
           FROM documents)
         SELECT n.n_name AS n_name, count(*)::BIGINT AS n_docs,
                sum(d.n_chars)::BIGINT AS sum_chars
         FROM d JOIN nation n ON d.nkey = n.n_nationkey
         GROUP BY n.n_name ORDER BY n_name""",

    // arg_max over the same md5 probe strings; hex compare is
    // lexicographic in both engines
    "q144_rendezvous_shard" ->
      """WITH s8 AS (
           SELECT doc_id,
             arg_max(g.s, md5(doc_id::VARCHAR || ':' || g.s)) AS shard8
           FROM documents, unnest(generate_series(0, 7)) AS g(s)
           GROUP BY doc_id),
         s9 AS (
           SELECT doc_id,
             arg_max(g.s, md5(doc_id::VARCHAR || ':' || g.s)) AS shard9
           FROM documents, unnest(generate_series(0, 8)) AS g(s)
           GROUP BY doc_id)
         SELECT shard8::INT AS shard8, count(*)::BIGINT AS n_docs,
                sum(CASE WHEN shard9 <> shard8 THEN 1 ELSE 0 END)::BIGINT
                  AS moved
         FROM s8 JOIN s9 USING (doc_id)
         GROUP BY shard8 ORDER BY shard8""",

    // p^(1/2) reweighting over the same whitespace token counts. The
    // smoothed weight is pinned to an exact pico-units BIGINT —
    // floor(sqrt(p)·1e12 + 0.5), every op IEEE-correctly-rounded or
    // exact — and Z is the exact integer sum of those longs, so no
    // round(x, d) (engine-divergent decimal re-rounding) and no float
    // accumulation order is left anywhere in the hashed chain.
    "q145_temperature_mix" ->
      """WITH g AS (
           SELECT lang,
             sum(len(regexp_split_to_array(trim(text), '\s+')))::BIGINT
               AS n_tokens
           FROM documents GROUP BY lang),
         t AS (SELECT sum(n_tokens)::DOUBLE AS nn FROM g),
         s AS (SELECT lang, n_tokens, n_tokens / nn AS p,
                      CAST(floor(sqrt(n_tokens / nn) * 1e12 + 0.5)
                        AS BIGINT) AS ptq
               FROM g CROSS JOIN t),
         z AS (SELECT sum(ptq)::BIGINT AS zq FROM s)
         SELECT lang, n_tokens,
                CAST(floor(p * 1e6 + 0.5) AS BIGINT) AS nat_share,
                CAST(floor(ptq::DOUBLE / zq::DOUBLE * 1e6 + 0.5) AS BIGINT)
                  AS temp_share,
                CAST(floor(ptq::DOUBLE / zq::DOUBLE / p * 1e6 + 0.5)
                  AS BIGINT) AS epoch_factor
         FROM s CROSS JOIN z ORDER BY lang""",

    // same stddev/rate/md5-threshold chain; fixed-width lowercase hex
    // compares lexicographically = numerically in both engines
    "q146_neyman_sample" ->
      """WITH st AS (
           SELECT lang, count(*) AS nh,
                  coalesce(stddev_samp(n_chars), 0.0) AS sh
           FROM documents GROUP BY lang),
         tot AS (SELECT sum(nh)::DOUBLE AS n, sum(nh * sh) AS m FROM st),
         r AS (SELECT lang,
                 round(CASE WHEN m > 0
                       THEN least(1.0, 0.4 * n * sh / m)
                       ELSE 0.4 END, 6) AS rate
               FROM st CROSS JOIN tot)
         SELECT d.doc_id, d.lang, r.rate
         FROM documents d JOIN r USING (lang)
         WHERE r.rate >= 1.0
            OR substr(md5(d.doc_id::VARCHAR), 1, 12) <
               printf('%012x', floor(r.rate * 281474976710656)::BIGINT)
         ORDER BY d.doc_id""",

    // replica weights re-derived from the same md5 uniform + the CASE
    // chain GENERATED from the same Poisson CDF constants
    "q150_bootstrap_ci" ->
      s"""WITH b AS (
           SELECT lang, n_chars, g.r AS r,
             ('0x' || substr(md5(doc_id::VARCHAR || ':' || g.r), 1, 12))::BIGINT
               / 281474976710656.0 AS u
           FROM documents, unnest(generate_series(0, 63)) AS g(r)),
         w AS (SELECT lang, r, n_chars,
                 ${graft.ext.Bootstrap.poissonWeightSql("u")} AS w
               FROM b),
         m AS (SELECT lang, r, sum(w * n_chars)::DOUBLE / sum(w) AS mr
               FROM w GROUP BY lang, r),
         p AS (SELECT lang, quantile_cont(mr, 0.025) AS lo,
                      quantile_cont(mr, 0.975) AS hi
               FROM m GROUP BY lang),
         s AS (SELECT lang, count(*)::BIGINT AS n,
                      sum(n_chars)::DOUBLE / count(*) AS mean
               FROM documents GROUP BY lang)
         SELECT s.lang, s.n, round(s.mean, 6) AS mean,
                round(p.lo, 6) AS ci_lo, round(p.hi, 6) AS ci_hi
         FROM s JOIN p USING (lang) ORDER BY lang""",

    // the plain theta join the bucketed plan must reproduce exactly;
    // floor(epoch()) matches Spark's flooring unix_timestamp
    "q151_interval_join" ->
      """WITH iv AS (
           SELECT event_id, event_type,
                  floor(epoch(ts))::BIGINT AS st,
                  floor(epoch(ts))::BIGINT + (event_id % 7 + 1) * 30 AS en
           FROM events)
         SELECT l.event_type AS event_type, count(*)::BIGINT AS n_pairs,
                sum(least(l.en, r.en) - greatest(l.st, r.st))::BIGINT
                  AS sum_overlap
         FROM iv l JOIN iv r ON l.event_type = r.event_type
           AND l.event_id % 2 = 0 AND r.event_id % 2 = 1
           AND l.st <= r.en AND r.st <= l.en
         GROUP BY l.event_type ORDER BY event_type""",

    // version 1 = the even half; the head count (after the append)
    // covers the whole table — the round trip must be an identity
    "q152_snapshot_read" ->
      """SELECT d.doc_id, d.lang,
                (SELECT count(*) FROM documents)::BIGINT AS latest_n
         FROM documents d WHERE d.doc_id % 2 = 0 ORDER BY d.doc_id""",

    // the same slices, cosines, and (sim desc, id) tie-break re-ranked
    // in DuckDB; recall counts are integers / 10
    "q153_matryoshka_recall" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
                    WHERE vec_id = 0),
         c AS (SELECT e.vec_id, e.embedding::DOUBLE[] AS v
               FROM embeddings e, q WHERE e.vec_id <> 0),
         s AS (SELECT vec_id,
                 list_dot_product(v, qe)
                   / (sqrt(list_dot_product(v, v))
                      * sqrt(list_dot_product(qe, qe))) AS c64,
                 list_dot_product(v[1:8], qe[1:8])
                   / (sqrt(list_dot_product(v[1:8], v[1:8]))
                      * sqrt(list_dot_product(qe[1:8], qe[1:8]))) AS c8,
                 list_dot_product(v[1:16], qe[1:16])
                   / (sqrt(list_dot_product(v[1:16], v[1:16]))
                      * sqrt(list_dot_product(qe[1:16], qe[1:16]))) AS c16,
                 list_dot_product(v[1:32], qe[1:32])
                   / (sqrt(list_dot_product(v[1:32], v[1:32]))
                      * sqrt(list_dot_product(qe[1:32], qe[1:32]))) AS c32
               FROM c, q),
         t64 AS (SELECT vec_id FROM s ORDER BY c64 DESC, vec_id LIMIT 10),
         t8  AS (SELECT vec_id FROM s ORDER BY c8  DESC, vec_id LIMIT 10),
         t16 AS (SELECT vec_id FROM s ORDER BY c16 DESC, vec_id LIMIT 10),
         t32 AS (SELECT vec_id FROM s ORDER BY c32 DESC, vec_id LIMIT 10)
         SELECT 10 AS k,
           (SELECT count(*) FROM t8 JOIN t64 USING (vec_id))::DOUBLE / 10.0
             AS recall_d8,
           (SELECT count(*) FROM t16 JOIN t64 USING (vec_id))::DOUBLE / 10.0
             AS recall_d16,
           (SELECT count(*) FROM t32 JOIN t64 USING (vec_id))::DOUBLE / 10.0
             AS recall_d32""",

    // exactly-once: the table equals the corpus, and the ledger holds
    // 4 versions (one per first-run batch), not 8
    "q154_streaming_manifest" ->
      """SELECT doc_id, lang, 4 AS n_versions
         FROM documents ORDER BY doc_id""",

    // compact+vacuum preserve contents; layout facts pinned
    "q155_table_compaction" ->
      """SELECT doc_id, lang, 1 AS versions_after, 1 AS data_dirs
         FROM documents ORDER BY doc_id""",

    // packing CASE chains GENERATED from the same loop; Hamming =
    // bit_count(xor) on each word; ties (ham, id) / (cos, id)
    "q157_binary_ann" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS qe,
                  ${SimilaritySearch.signBitPackSql("embedding", 0, 32)} AS qb0,
                  ${SimilaritySearch.signBitPackSql("embedding", 32, 64)} AS qb1
           FROM embeddings WHERE vec_id = 0),
         c AS (SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
                  ${SimilaritySearch.signBitPackSql("e.embedding", 0, 32)} AS b0,
                  ${SimilaritySearch.signBitPackSql("e.embedding", 32, 64)} AS b1
               FROM embeddings e WHERE e.vec_id <> 0),
         h AS (SELECT c.vec_id, c.v,
                 bit_count(xor(c.b0::BIGINT, q.qb0::BIGINT))
                   + bit_count(xor(c.b1::BIGINT, q.qb1::BIGINT)) AS ham
               FROM c, q),
         cs AS (SELECT c.vec_id,
                  list_dot_product(c.v, q.qe)
                    / (sqrt(list_dot_product(c.v, c.v))
                       * sqrt(list_dot_product(q.qe, q.qe))) AS sim
                FROM c, q),
         exact AS (SELECT vec_id FROM cs ORDER BY sim DESC, vec_id LIMIT 10),
         hamtop AS (SELECT vec_id FROM h ORDER BY ham ASC, vec_id LIMIT 10),
         short AS (SELECT vec_id FROM h ORDER BY ham ASC, vec_id LIMIT 50),
         rr AS (SELECT cs.vec_id FROM cs JOIN short USING (vec_id)
                ORDER BY cs.sim DESC, cs.vec_id LIMIT 10)
         SELECT 10 AS k, 50 AS shortlist,
           (SELECT count(*) FROM hamtop JOIN exact USING (vec_id))::DOUBLE
             / 10.0 AS recall_hamming,
           (SELECT count(*) FROM rr JOIN exact USING (vec_id))::DOUBLE
             / 10.0 AS recall_rerank""",

    // the incremental read IS the odd half
    "q158_incremental_read" ->
      """SELECT doc_id, lang FROM documents
         WHERE doc_id % 2 = 1 ORDER BY doc_id""",

    // native-typed min/max rendered as strings, one UNION ALL branch
    // per column
    "q159_profile" ->
      """SELECT 'doc_id' AS col_name,
                sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
                count(DISTINCT doc_id)::BIGINT AS n_distinct,
                min(doc_id)::VARCHAR AS min_value, max(doc_id)::VARCHAR AS max_value
         FROM documents
         UNION ALL
         SELECT 'lang',
                sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT,
                count(DISTINCT lang)::BIGINT, min(lang), max(lang)
         FROM documents
         UNION ALL
         SELECT 'n_chars',
                sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)::BIGINT,
                count(DISTINCT n_chars)::BIGINT,
                min(n_chars)::VARCHAR, max(n_chars)::VARCHAR
         FROM documents
         UNION ALL
         SELECT 'source',
                sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)::BIGINT,
                count(DISTINCT source)::BIGINT, min(source), max(source)
         FROM documents
         UNION ALL
         SELECT 'text',
                sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT,
                count(DISTINCT text)::BIGINT, min(text), max(text)
         FROM documents
         ORDER BY col_name""",

    // same bigram/unigram totals; pmi rounded to 6 BEFORE the
    // (pmi desc, pair) ranking so the top-50 cut matches
    "q160_collocations" ->
      """WITH x AS (
           SELECT doc_id, regexp_split_to_array(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
             ' ') AS w
           FROM documents),
         d AS (SELECT * FROM x WHERE len(w) >= 2),
         b AS (SELECT w[g.i] AS prev, w[g.i + 1] AS cur
               FROM d, unnest(generate_series(1, len(w) - 1)) AS g(i)),
         bc AS (SELECT prev, cur, count(*) AS n_pair FROM b
                GROUP BY prev, cur HAVING count(*) >= 5),
         uc AS (SELECT t AS tok, count(*) AS cu
                FROM (SELECT unnest(w) AS t FROM d) GROUP BY t),
         tot AS (SELECT (SELECT count(*) FROM b)::DOUBLE AS bb,
                        (SELECT sum(cu) FROM uc)::DOUBLE AS uu)
         SELECT bc.prev, bc.cur, bc.n_pair::BIGINT AS n_pair,
                round(ln((bc.n_pair / tot.bb) /
                  ((up.cu / tot.uu) * (uc2.cu / tot.uu))), 6) AS pmi
         FROM bc
         JOIN uc up ON up.tok = bc.prev
         JOIN uc uc2 ON uc2.tok = bc.cur
         CROSS JOIN tot
         ORDER BY pmi DESC, bc.prev, bc.cur LIMIT 50""",

    // the same a<b<c enumeration, corners exploded to per-node counts
    "q161_triangles" ->
      """WITH g AS (
           SELECT doc_id % 20 AS src, (doc_id // 20) % 20 AS dst
           FROM documents),
         raw AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b
                 FROM g WHERE (src * 3 + dst * 7) % 5 < 3),
         e AS (SELECT DISTINCT a, b FROM raw WHERE a <> b),
         tri AS (SELECT e1.a, e1.b, e2.b AS c
                 FROM e e1
                 JOIN e e2 ON e2.a = e1.b
                 JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         corners AS (
           SELECT a AS node FROM tri
           UNION ALL SELECT b FROM tri
           UNION ALL SELECT c FROM tri)
         SELECT node, count(*)::BIGINT AS n_triangles
         FROM corners GROUP BY node ORDER BY node""",

    // the interval join's matches are exactly the non-error events
    // (end ts == start ts, inside the window by construction), so the
    // daily rollup is q04's event set under the q04 sum convention
    "q162_stream_stream_join" ->
      """SELECT CAST(ts AS DATE) AS date, count(*)::BIGINT AS n_trips,
                CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
                  AS total_fare
         FROM events WHERE event_type <> 'error'
         GROUP BY CAST(ts AS DATE) ORDER BY date""",

    // exact partition of the feed: mangled (id%10=3) + tombstone
    // (id%25=7, disjoint classes mod 50) quarantine, rest decode
    "q168_dlq_counts" ->
      """SELECT count(*)::BIGINT AS n_input,
                sum(CASE WHEN event_id % 10 <> 3 AND event_id % 25 <> 7
                         THEN 1 ELSE 0 END)::BIGINT AS n_decoded,
                sum(CASE WHEN event_id % 10 = 3 OR event_id % 25 = 7
                         THEN 1 ELSE 0 END)::BIGINT AS n_quarantined,
                0::BIGINT AS n_lost
         FROM events""",

    // round-trip identity through ORC
    "q169_orc_roundtrip" ->
      """SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id""",

    // same rankings (dist asc / rel desc, doc_id ties), same gains
    "q180_ndcg" ->
      """WITH q AS (SELECT doc_id AS query_id, lang AS ql, source AS qs,
                           n_chars AS qn
                    FROM documents WHERE doc_id < 10),
         cand AS (SELECT q.query_id, d.doc_id,
                    abs(d.n_chars - q.qn) AS dist,
                    CASE WHEN d.lang = q.ql AND d.source = q.qs THEN 3
                         WHEN d.lang = q.ql THEN 1 ELSE 0 END AS rel
                  FROM documents d, q WHERE d.doc_id <> q.query_id),
         rr AS (SELECT query_id, rel,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY dist, doc_id) AS r
                FROM cand),
         ii AS (SELECT query_id, rel,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, doc_id) AS r
                FROM cand),
         dcg AS (SELECT query_id,
                   sum((pow(2.0, rel) - 1) / log2(r + 1.0)) AS g
                 FROM rr WHERE r <= 10 GROUP BY query_id),
         idcg AS (SELECT query_id,
                    sum((pow(2.0, rel) - 1) / log2(r + 1.0)) AS g
                  FROM ii WHERE r <= 10 GROUP BY query_id)
         SELECT d.query_id, round(d.g, 6) AS dcg, round(i.g, 6) AS idcg,
                round(d.g / i.g, 6) AS ndcg
         FROM dcg d JOIN idcg i USING (query_id) ORDER BY query_id""",

    // closed-form exact-side count; the auto-tuner's recall floor is a
    // measured boolean
    "q56_ann_recall_auto" ->
      """SELECT least(10, (SELECT count(*) FROM embeddings
                           WHERE vec_id <> 0))::BIGINT AS n_exact,
         TRUE AS recall_floor_met""",

    // config literals + the measured two-stage floor and the
    // rerank-never-loses-to-ADC containment theorem
    "q114_pq_recall" ->
      """SELECT 8 AS m, 64 AS k, 64 AS dim,
         TRUE AS rerank_floor_met, TRUE AS rerank_ge_adc""",

    // config literals + the measured range/floor of the composed path
    "q117_ivfpq_recall" ->
      """SELECT 8 AS m, 64 AS k, 16 AS coarse_cells, 4 AS n_probe,
         TRUE AS recall_in_01, TRUE AS recall_floor_met""",

    // config literals + measured ranges/floors of both PQ variants
    "q127_pq_residual_recall" ->
      """SELECT 8 AS m, 64 AS k, 16 AS coarse_cells, 4 AS n_probe,
         TRUE AS recalls_in_01, TRUE AS direct_floor_met,
         TRUE AS residual_floor_met""",

    // the exact all-pairs domination rule re-run brute-force (one
    // cell, tau 0.4); learned-cell laws as expected-TRUE
    "q75_semantic_dedup_learned" ->
      """WITH z AS (SELECT a.vec_id AS id_hi, l.vec_id AS id_lo,
                      unnest(a.embedding)::DOUBLE AS x,
                      unnest(l.embedding)::DOUBLE AS y
               FROM embeddings a JOIN embeddings l ON l.vec_id < a.vec_id),
         cs AS (SELECT id_hi, id_lo,
                       sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS cos
                FROM z GROUP BY id_hi, id_lo),
         dom AS (SELECT DISTINCT id_hi FROM cs WHERE cos >= 0.4)
         SELECT ((SELECT count(*) FROM embeddings)
                 - (SELECT count(*) FROM dom))::BIGINT AS n_exact,
                TRUE AS learned_superset_of_exact,
                TRUE AS drop_recall_in_01,
                TRUE AS drop_recall_floor_met""",

    // the twins rebuilt (double-multiply-then-float-round on
    // coordinate 1, negative ids) + the exact rule at tau 0.9
    "q75b_semantic_dedup_tight" ->
      """WITH exp AS (
           SELECT e.vec_id AS id, g.i AS i, e.embedding[g.i]::DOUBLE AS x
           FROM embeddings e,
                unnest(generate_series(1, len(e.embedding))) AS g(i)
           UNION ALL
           SELECT -(e.vec_id + 1), g.i,
                  CASE WHEN g.i = 1
                       THEN ((e.embedding[1]::DOUBLE * 1.01::DOUBLE)
                             ::FLOAT)::DOUBLE
                       ELSE e.embedding[g.i]::DOUBLE END
           FROM embeddings e,
                unnest(generate_series(1, len(e.embedding))) AS g(i)
           WHERE e.vec_id % 10 = 0),
         z AS (SELECT a.id AS id_hi, b.id AS id_lo, a.x, b.x AS y
               FROM exp a JOIN exp b ON a.i = b.i AND b.id < a.id),
         cs AS (SELECT id_hi, id_lo,
                       sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS cos
                FROM z GROUP BY id_hi, id_lo),
         dom AS (SELECT DISTINCT id_hi FROM cs WHERE cos >= 0.9)
         SELECT ((SELECT count(DISTINCT id) FROM exp)
                 - (SELECT count(*) FROM dom))::BIGINT AS n_exact,
                TRUE AS learned_superset_of_exact,
                TRUE AS drop_recall_in_01,
                TRUE AS drop_recall_floor_met""",

    // identity/deviation are deterministic constants of the persisted
    // round trip (measured, not assumed, on the Spark side)
    "q126_ivfpq_index" ->
      """SELECT 8 AS m, 64 AS k, 16 AS coarse_cells, 4 AS n_probe,
         1.0::DOUBLE AS identity_at_10, 0.0::DOUBLE AS max_adc_dev""",

    // closed-form split sizes; identity/deviation are deterministic
    // constants of the frozen-model append contract (measured, not
    // assumed, on the Spark side)
    "q181_ivfpq_index_append" ->
      """SELECT
         (SELECT count(*) FROM embeddings
          WHERE vec_id <> 0 AND vec_id % 2 = 0)::BIGINT AS n_base,
         (SELECT count(*) FROM embeddings
          WHERE vec_id % 2 = 1)::BIGINT AS n_appended,
         1.0::DOUBLE AS identity_at_10,
         0.0::DOUBLE AS max_adc_dev""",

    // identical per-stratum md5 ordering and ceil arithmetic
    "q183_stratified_split" ->
      """WITH r AS (SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk,
             count(*) OVER (PARTITION BY lang) AS n
           FROM documents)
         SELECT doc_id, lang,
                CASE WHEN rk <= ceil(0.1 * n) THEN 'test'
                     WHEN rk <= ceil(0.1 * n) + ceil(0.1 * n) THEN 'val'
                     ELSE 'train' END AS split
         FROM r ORDER BY doc_id""",

    // exact event count; the footer-audit contract as expected-TRUE
    "q190_bloom_layout" ->
      """SELECT count(*)::BIGINT AS n_events,
           TRUE AS all_groups_have_bloom, TRUE AS present_key_found,
           TRUE AS absent_keys_excluded, TRUE AS absent_lookup_empty
         FROM events""",

    // Full greedy MMR replay: pool (top-20 by cosine, ties to the
    // smaller id), micro-unit quantization of both sim families
    // through the identical double spellings, then the five selection
    // steps unrolled — each an integer argmax with (score DESC, id)
    // tie-break over the not-yet-selected pool, redundancy = max
    // pair-sim against everything selected so far.
    "q191_mmr_rerank" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                    FROM embeddings WHERE vec_id < 5),
         zq AS (SELECT q.query_id, e.vec_id AS id,
                       unnest(e.embedding)::DOUBLE AS x,
                       unnest(q.qe)::DOUBLE AS y
                FROM embeddings e, q WHERE e.vec_id <> q.query_id),
         cq AS (SELECT query_id, id,
                       sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))) AS cos
                FROM zq GROUP BY query_id, id),
         cand AS (SELECT query_id, id,
                         CAST(floor(cos*1000000 + 0.5) AS BIGINT) AS rel_u
                  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, id) AS rn FROM cq)
                  WHERE rn <= 20),
         zp AS (SELECT a.query_id, a.id AS ia, b.id AS ib,
                       unnest(ea.embedding)::DOUBLE AS x,
                       unnest(eb.embedding)::DOUBLE AS y
                FROM cand a
                JOIN cand b ON b.query_id = a.query_id AND b.id <> a.id
                JOIN embeddings ea ON ea.vec_id = a.id
                JOIN embeddings eb ON eb.vec_id = b.id),
         pair AS (SELECT query_id, ia, ib,
                         CAST(floor(sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y)))
                              *1000000 + 0.5) AS BIGINT) AS sim_u
                  FROM zp GROUP BY query_id, ia, ib),
         s1 AS (SELECT query_id, id, rel_u, CAST(0 AS BIGINT) AS red_u,
                       CAST(7*rel_u AS BIGINT) AS score_u
                FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY 7*rel_u DESC, id) AS rn FROM cand)
                WHERE rn = 1),
         r2 AS (SELECT c.query_id, c.id, c.rel_u,
                       CAST(max(p.sim_u) AS BIGINT) AS red_u
                FROM cand c
                JOIN pair p ON p.query_id = c.query_id AND p.ia = c.id
                JOIN s1 s ON s.query_id = p.query_id AND s.id = p.ib
                WHERE NOT EXISTS (SELECT 1 FROM s1 x
                  WHERE x.query_id = c.query_id AND x.id = c.id)
                GROUP BY c.query_id, c.id, c.rel_u),
         s2 AS (SELECT query_id, id, rel_u, red_u,
                       CAST(7*rel_u - 3*red_u AS BIGINT) AS score_u
                FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY (7*rel_u - 3*red_u) DESC, id) AS rn
                      FROM r2) WHERE rn = 1),
         sel3 AS (SELECT query_id, id FROM s1
                  UNION ALL SELECT query_id, id FROM s2),
         r3 AS (SELECT c.query_id, c.id, c.rel_u,
                       CAST(max(p.sim_u) AS BIGINT) AS red_u
                FROM cand c
                JOIN pair p ON p.query_id = c.query_id AND p.ia = c.id
                JOIN sel3 s ON s.query_id = p.query_id AND s.id = p.ib
                WHERE NOT EXISTS (SELECT 1 FROM sel3 x
                  WHERE x.query_id = c.query_id AND x.id = c.id)
                GROUP BY c.query_id, c.id, c.rel_u),
         s3 AS (SELECT query_id, id, rel_u, red_u,
                       CAST(7*rel_u - 3*red_u AS BIGINT) AS score_u
                FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY (7*rel_u - 3*red_u) DESC, id) AS rn
                      FROM r3) WHERE rn = 1),
         sel4 AS (SELECT query_id, id FROM sel3
                  UNION ALL SELECT query_id, id FROM s3),
         r4 AS (SELECT c.query_id, c.id, c.rel_u,
                       CAST(max(p.sim_u) AS BIGINT) AS red_u
                FROM cand c
                JOIN pair p ON p.query_id = c.query_id AND p.ia = c.id
                JOIN sel4 s ON s.query_id = p.query_id AND s.id = p.ib
                WHERE NOT EXISTS (SELECT 1 FROM sel4 x
                  WHERE x.query_id = c.query_id AND x.id = c.id)
                GROUP BY c.query_id, c.id, c.rel_u),
         s4 AS (SELECT query_id, id, rel_u, red_u,
                       CAST(7*rel_u - 3*red_u AS BIGINT) AS score_u
                FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY (7*rel_u - 3*red_u) DESC, id) AS rn
                      FROM r4) WHERE rn = 1),
         sel5 AS (SELECT query_id, id FROM sel4
                  UNION ALL SELECT query_id, id FROM s4),
         r5 AS (SELECT c.query_id, c.id, c.rel_u,
                       CAST(max(p.sim_u) AS BIGINT) AS red_u
                FROM cand c
                JOIN pair p ON p.query_id = c.query_id AND p.ia = c.id
                JOIN sel5 s ON s.query_id = p.query_id AND s.id = p.ib
                WHERE NOT EXISTS (SELECT 1 FROM sel5 x
                  WHERE x.query_id = c.query_id AND x.id = c.id)
                GROUP BY c.query_id, c.id, c.rel_u),
         s5 AS (SELECT query_id, id, rel_u, red_u,
                       CAST(7*rel_u - 3*red_u AS BIGINT) AS score_u
                FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY (7*rel_u - 3*red_u) DESC, id) AS rn
                      FROM r5) WHERE rn = 1)
         SELECT query_id, CAST(1 AS BIGINT) AS rank, id AS doc_id,
                rel_u AS relevance_u, red_u AS redundancy_u,
                score_u AS mmr_score_u FROM s1
         UNION ALL SELECT query_id, CAST(2 AS BIGINT), id, rel_u, red_u,
                score_u FROM s2
         UNION ALL SELECT query_id, CAST(3 AS BIGINT), id, rel_u, red_u,
                score_u FROM s3
         UNION ALL SELECT query_id, CAST(4 AS BIGINT), id, rel_u, red_u,
                score_u FROM s4
         UNION ALL SELECT query_id, CAST(5 AS BIGINT), id, rel_u, red_u,
                score_u FROM s5
         ORDER BY query_id, rank""",

    // shares are exact integer division; the Simpson ratio's operands
    // are exact integer sums cast to double before one divide + one
    // quantization — no aggregate is hashed bare. The squared term and
    // the share numerator are HUGEINT (Spark: decimal(38,0)) so
    // per-source token masses past ~3e9 cannot wrap the exact lane.
    "q192_source_diversity" ->
      """WITH per AS (
           SELECT source, count(*)::BIGINT AS n_docs,
                  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))::BIGINT)
                       AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
         w AS (
           SELECT source, n_docs, n_tokens,
                  CAST(sum(n_tokens) OVER () AS BIGINT) AS tot,
                  CAST(sum(n_tokens::HUGEINT * n_tokens) OVER () AS HUGEINT) AS sq
           FROM per)
         SELECT source, n_docs, n_tokens,
                CAST((n_tokens::HUGEINT * 1000000) // tot AS BIGINT) AS share_ppm,
                CAST(floor(tot::DOUBLE * tot::DOUBLE / sq::DOUBLE
                     * 1000000 + 0.5) AS BIGINT) AS eff_sources_u
         FROM w ORDER BY source""",

    // replays the SAME strided-anchor algorithm the engine runs: grid
    // grams (stride 30, g=31) joined on content against all-position
    // bench grams, every anchor extended by the two common-prefix walks
    // (list_position scan — the SQL spelling of common_prefix_chars),
    // anchor re-verified (r >= g) and runs < 60 dropped, so the output
    // is stride-invariant and integer-exact end to end
    "q193_exact_decontamination" ->
      """WITH bench AS (
           SELECT doc_id AS bid, substr(text, 8, 150) AS bt
           FROM documents WHERE doc_id % 50 = 0 AND text IS NOT NULL),
         cg0 AS (
           SELECT doc_id AS cid, text AS ct,
                  unnest(range(1, length(text) - 29, 30)) AS cp
           FROM documents WHERE text IS NOT NULL AND length(text) >= 31),
         cg AS (SELECT cid, cp, substr(ct, CAST(cp AS INT), 31) AS gram FROM cg0),
         bg0 AS (
           SELECT bid, bt, unnest(range(1, length(bt) - 29, 1)) AS bp
           FROM bench WHERE length(bt) >= 31),
         bg AS (SELECT bid, bp, substr(bt, CAST(bp AS INT), 31) AS gram FROM bg0),
         anch AS (SELECT cid, cp, bid, bp FROM cg JOIN bg USING (gram)),
         wtxt AS (
           SELECT a.cid, a.cp, a.bid, a.bp, d.text AS ct, b.bt
           FROM anch a
           JOIN documents d ON d.doc_id = a.cid
           JOIN bench b ON b.bid = a.bid),
         ext0 AS (
           SELECT cid, bid,
             list_position(list_transform(
               range(1, least(length(ct) - cp + 1, length(bt) - bp + 1) + 1),
               i -> substr(ct, CAST(cp + i - 1 AS INT), 1)
                  = substr(bt, CAST(bp + i - 1 AS INT), 1)), false) AS rp,
             least(length(ct) - cp + 1, length(bt) - bp + 1) AS rmax,
             list_position(list_transform(
               range(1, least(cp - 1, bp - 1) + 1),
               i -> substr(ct, CAST(cp - i AS INT), 1)
                  = substr(bt, CAST(bp - i AS INT), 1)), false) AS lp,
             least(cp - 1, bp - 1) AS lmax
           FROM wtxt),
         ext AS (
           SELECT cid, bid,
             CASE WHEN rp IS NULL OR rp < 1 THEN rmax ELSE rp - 1 END AS r,
             CASE WHEN lp IS NULL OR lp < 1 THEN lmax ELSE lp - 1 END AS l
           FROM ext0),
         runs AS (
           SELECT cid, bid, l + r AS run FROM ext
           WHERE r >= 31 AND l + r >= 60)
         SELECT cid AS doc_id,
           CAST(count(DISTINCT bid) AS BIGINT) AS n_bench_matches,
           CAST(max(run) AS BIGINT) AS max_run_len
         FROM runs GROUP BY cid ORDER BY doc_id""",

    // expected members computed directly from documents — the walk
    // must recover every body byte-exactly for the md5s to land
    "q188_tar_ingest" ->
      """SELECT doc_id, 2::BIGINT AS n_members,
           strlen(text)::BIGINT AS txt_octets,
           md5(text) AS txt_md5,
           md5('{"doc_id":' || doc_id::VARCHAR || '}') AS json_md5
         FROM documents WHERE text IS NOT NULL ORDER BY doc_id""",

    // the gunzipped stream is byte-identical to q188's payload, so the
    // shipping form shares its oracle verbatim
    "q189_tar_gzip" ->
      """SELECT doc_id, 2::BIGINT AS n_members,
           strlen(text)::BIGINT AS txt_octets,
           md5(text) AS txt_md5,
           md5('{"doc_id":' || doc_id::VARCHAR || '}') AS json_md5
         FROM documents WHERE text IS NOT NULL ORDER BY doc_id""",

    // the identical RE2-safe rule spellings, rule by rule
    "q187_gopher_rules" ->
      """WITH x AS (
           SELECT doc_id, text,
             len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE AS words,
             length(regexp_replace(text, '\s', '', 'g'))::DOUBLE AS chars,
             len(regexp_extract_all(text, '#|\.\.\.|…'))::DOUBLE AS syms,
             len(regexp_extract_all(text,
               '[^\s]*[a-zA-Z][^\s]*'))::DOUBLE AS alphaw,
             regexp_split_to_array(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
               ' ') AS ntoks,
             len(string_split(text, chr(10)))::DOUBLE AS lines,
             len(regexp_extract_all(text,
               '(\.\.\.|…)[ \t]*(\n|$)'))::DOUBLE AS ell,
             len(regexp_extract_all(text,
               '(^|\n)[ \t]*[•‣▪\-\*]'))::DOUBLE AS bul
           FROM documents WHERE text IS NOT NULL),
         y AS (
           SELECT doc_id, words::BIGINT AS n_words,
             words >= 50 AND words <= 100000 AS word_count_ok,
             chars / words >= 3.0 AND chars / words <= 10.0
               AS mean_word_len_ok,
             syms / words <= 0.1 AS symbol_ratio_ok,
             alphaw / words >= 0.8 AS alpha_word_ok,
             (list_contains(ntoks, 'the')::INT
              + list_contains(ntoks, 'be')::INT
              + list_contains(ntoks, 'to')::INT
              + list_contains(ntoks, 'of')::INT
              + list_contains(ntoks, 'and')::INT
              + list_contains(ntoks, 'that')::INT
              + list_contains(ntoks, 'have')::INT
              + list_contains(ntoks, 'with')::INT) >= 2 AS stopwords_ok,
             ell / lines <= 0.3 AS ellipsis_ok,
             bul / lines <= 0.9 AS bullet_ok
           FROM x)
         SELECT doc_id, n_words, word_count_ok, mean_word_len_ok,
                symbol_ratio_ok, alpha_word_ok, stopwords_ok,
                ellipsis_ok, bullet_ok,
                word_count_ok AND mean_word_len_ok AND symbol_ratio_ok
                  AND alpha_word_ok AND stopwords_ok AND ellipsis_ok
                  AND bullet_ok AS kept
         FROM y ORDER BY doc_id""",

    // the same water-filling arithmetic in the same window order:
    // capacities ascending, prefix-greedy cap test, θ from the last
    // capped prefix. Capacities/budget are pinned to exact micro-unit
    // BIGINTs — floor(x·1e6 + 0.5), IEEE-exact per row — so the window
    // prefix sum is an INTEGER sum (a segment-tree windowed sum and a
    // linear fold agree bit-for-bit; float prefix sums do not) and the
    // cap test is exact integer arithmetic (HUGEINT here, decimal(38,0)
    // in Spark); θ and the hashed outputs derive from those integers
    // through correctly-rounded divides only.
    "q186_unimax_mix" ->
      """WITH g AS (
           SELECT lang,
             sum(len(regexp_split_to_array(trim(text), '\s+')))::BIGINT
               AS n_tokens
           FROM documents GROUP BY lang),
         t AS (SELECT sum(n_tokens)::DOUBLE AS tt, count(*)::BIGINT AS n
               FROM g),
         r AS (SELECT lang, n_tokens, n,
                 CAST(floor(tt * 0.4 * 1e6 + 0.5) AS BIGINT) AS bu,
                 CAST(floor(n_tokens::DOUBLE * 0.6 * 1e6 + 0.5) AS BIGINT)
                   AS capu,
                 row_number() OVER (
                   ORDER BY CAST(floor(n_tokens::DOUBLE * 0.6 * 1e6 + 0.5)
                     AS BIGINT), lang) AS rk,
                 sum(CAST(floor(n_tokens::DOUBLE * 0.6 * 1e6 + 0.5)
                     AS BIGINT)) OVER (
                   ORDER BY CAST(floor(n_tokens::DOUBLE * 0.6 * 1e6 + 0.5)
                     AS BIGINT), lang
                   ROWS UNBOUNDED PRECEDING)::BIGINT AS pfxu
               FROM g, t),
         c AS (SELECT *,
                 capu::HUGEINT * (n - rk + 1) <=
                   bu::HUGEINT - (pfxu - capu) AS capped FROM r),
         kk AS (SELECT coalesce(max(CASE WHEN capped THEN rk END), 0) AS k,
                       coalesce(max(CASE WHEN capped THEN pfxu END), 0)
                         ::BIGINT AS kpfxu
                FROM c)
         SELECT lang, n_tokens,
                CAST(floor((CASE WHEN capped THEN capu::DOUBLE
                      ELSE (bu - kpfxu)::DOUBLE / (n - k) END)
                      / 1e6 * 1e6 + 0.5) AS BIGINT)
                  AS allocation,
                CAST(floor((CASE WHEN capped THEN capu::DOUBLE
                       ELSE (bu - kpfxu)::DOUBLE / (n - k) END)
                      / 1e6 / n_tokens * 1e6 + 0.5) AS BIGINT) AS epochs,
                capped
         FROM c, kk ORDER BY lang""",

    // session_window's merge rule re-derived: [t, t+gap) windows merge
    // only when they overlap (a gap of EXACTLY 30 min splits — strict
    // >= on the break test), start = first event, end = last event +
    // gap, epochs floored like unix_timestamp, value summed through
    // the q35 decimal path
    "q185_streaming_sessions" ->
      """WITH x AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                       THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT user_id, ts, value,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid
               FROM x)
         SELECT user_id,
                floor(epoch(min(ts)))::BIGINT AS session_start,
                floor(epoch(max(ts)))::BIGINT + 1800 AS session_end,
                count(*)::BIGINT AS n_events,
                CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
                  AS session_value
         FROM s GROUP BY user_id, sid
         ORDER BY user_id, session_start""",

    // the regime switch replayed: per-stratum counts, q183's exact
    // ceil arithmetic below the threshold, q146's floor(frac*2^48)
    // 12-hex bound above it
    "q184_auto_split" ->
      """WITH d AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 10 < 7 THEN 'major'
                       ELSE 'minor' || (doc_id % 97) END AS stratum
           FROM documents),
         c AS (SELECT stratum, count(*) AS n FROM d GROUP BY stratum),
         r AS (SELECT d.doc_id, d.stratum, c.n,
                 row_number() OVER (PARTITION BY d.stratum
                   ORDER BY md5(d.doc_id::VARCHAR), d.doc_id) AS rk
               FROM d JOIN c USING (stratum))
         SELECT doc_id, stratum,
                CASE WHEN n <= 100 THEN
                  CASE WHEN rk <= ceil(0.1 * n) THEN 'test'
                       WHEN rk <= ceil(0.1 * n) + ceil(0.1 * n) THEN 'val'
                       ELSE 'train' END
                ELSE
                  CASE WHEN substr(md5(doc_id::VARCHAR), 1, 12) <
                         printf('%012x',
                           floor(0.1 * 281474976710656)::BIGINT) THEN 'test'
                       WHEN substr(md5(doc_id::VARCHAR), 1, 12) <
                         printf('%012x',
                           floor(0.2 * 281474976710656)::BIGINT) THEN 'val'
                       ELSE 'train' END
                END AS split,
                CASE WHEN n <= 100 THEN 'exact' ELSE 'bulk' END AS regime
         FROM r ORDER BY doc_id""",

    // identical 40-char windows, doc frequencies, and fractions
    "q182_char_span_dedup" ->
      """WITH d AS (SELECT doc_id, text FROM documents
                    WHERE text IS NOT NULL AND length(text) >= 40),
         g AS (SELECT doc_id, md5(substr(text, i, 40)) AS gh
               FROM d, unnest(generate_series(1, length(text) - 39)) AS t(i)),
         gd AS (SELECT DISTINCT doc_id, gh FROM g),
         cnt AS (SELECT gh, count(DISTINCT doc_id) AS nd FROM gd GROUP BY gh)
         SELECT doc_id, count(*)::BIGINT AS n_windows,
                sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
                round(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::DOUBLE
                      / count(*), 6) AS shared_frac
         FROM gd JOIN cnt USING (gh)
         GROUP BY doc_id ORDER BY doc_id""",

    // each half consumed by exactly one run
    "q179_table_stream" ->
      """SELECT doc_id, lang,
                CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS phase
         FROM documents ORDER BY doc_id""",

    // the shared unrolled chain; quota from the ROUNDED ranks so the
    // share division is bit-identical
    "q178_crawl_quota" -> (unrolledPageRankCtes(
      """SELECT doc_id % 20 AS src, (doc_id * 7 + 3) % 25 AS dst,
                count(*)::DOUBLE AS w
         FROM documents WHERE text IS NOT NULL GROUP BY 1, 2""") +
      """,
           ranks AS (SELECT v AS node, round(r, 6) AS pagerank FROM pr10),
           tot AS (SELECT sum(pagerank) AS z FROM ranks)
           SELECT node, pagerank,
                  round(10000 * pagerank / z, 0)::BIGINT AS fetch_quota
           FROM ranks, tot ORDER BY node"""),

    // both orders re-derived; final batch may be short (count * max)
    "q177_length_batching" ->
      """WITH d AS (
           SELECT doc_id,
                  len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS l
           FROM documents),
         srt AS (SELECT l, ((row_number() OVER (ORDER BY l, doc_id)) - 1) // 16
                   AS batch FROM d),
         shf AS (SELECT l, ((row_number() OVER (
                   ORDER BY md5(doc_id::VARCHAR), doc_id)) - 1) // 16
                   AS batch FROM d),
         s1 AS (SELECT count(*) AS n, max(l) AS mx, sum(l) AS s
                FROM srt GROUP BY batch),
         s2 AS (SELECT count(*) AS n, max(l) AS mx, sum(l) AS s
                FROM shf GROUP BY batch),
         r1 AS (SELECT 'sorted' AS policy, count(*)::BIGINT AS n_batches,
                       sum(mx * n)::BIGINT AS padded_tokens,
                       sum(s)::BIGINT AS real_tokens,
                       round(1.0 - sum(s)::DOUBLE / sum(mx * n), 6)
                         AS waste_frac
                FROM s1),
         r2 AS (SELECT 'shuffled', count(*)::BIGINT, sum(mx * n)::BIGINT,
                       sum(s)::BIGINT,
                       round(1.0 - sum(s)::DOUBLE / sum(mx * n), 6)
                FROM s2)
         SELECT * FROM r1 UNION ALL SELECT * FROM r2 ORDER BY policy""",

    // reference-decile cuts (quantile_cont parity), CASE binning,
    // Laplace smoothing, rounded terms
    "q176_drift_psi" ->
      """WITH qv AS (
           SELECT doc_id,
             round(
               least(len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE
                 / 64.0, 1.0) * 0.3
             + least(len(list_filter(
                 regexp_split_to_array(trim(lower(text)), '\s+'),
                 t -> list_contains(
                   ['the','a','of','and','to','in','is','it','that','for'], t)))::DOUBLE
                 / len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE
                 * 4.0, 1.0) * 0.3
             + greatest(1.0 - length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))::DOUBLE
                 / length(text)::DOUBLE * 4.0, 0.0) * 0.2
             + greatest(1.0 - abs(list_sum(list_transform(
                 regexp_split_to_array(trim(text), '\s+'), t -> length(t)))::DOUBLE
                 / len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE - 5.0)
                 / 10.0, 0.0) * 0.2, 6) AS q
           FROM documents),
         ref AS (SELECT q AS m FROM qv WHERE doc_id % 2 = 0),
         cur AS (SELECT round(q + CASE WHEN doc_id % 4 = 1 THEN 0.08
                                       ELSE 0.0 END, 6) AS m
                 FROM qv WHERE doc_id % 2 = 1),
         cuts AS (SELECT
             round(quantile_cont(m, 0.1), 6) AS c1,
             round(quantile_cont(m, 0.2), 6) AS c2,
             round(quantile_cont(m, 0.3), 6) AS c3,
             round(quantile_cont(m, 0.4), 6) AS c4,
             round(quantile_cont(m, 0.5), 6) AS c5,
             round(quantile_cont(m, 0.6), 6) AS c6,
             round(quantile_cont(m, 0.7), 6) AS c7,
             round(quantile_cont(m, 0.8), 6) AS c8,
             round(quantile_cont(m, 0.9), 6) AS c9
           FROM ref),
         rb AS (SELECT
             (CASE WHEN m > c1 THEN 1 ELSE 0 END) + (CASE WHEN m > c2 THEN 1 ELSE 0 END)
           + (CASE WHEN m > c3 THEN 1 ELSE 0 END) + (CASE WHEN m > c4 THEN 1 ELSE 0 END)
           + (CASE WHEN m > c5 THEN 1 ELSE 0 END) + (CASE WHEN m > c6 THEN 1 ELSE 0 END)
           + (CASE WHEN m > c7 THEN 1 ELSE 0 END) + (CASE WHEN m > c8 THEN 1 ELSE 0 END)
           + (CASE WHEN m > c9 THEN 1 ELSE 0 END) AS bin
           FROM ref, cuts),
         cb AS (SELECT
             (CASE WHEN m > c1 THEN 1 ELSE 0 END) + (CASE WHEN m > c2 THEN 1 ELSE 0 END)
           + (CASE WHEN m > c3 THEN 1 ELSE 0 END) + (CASE WHEN m > c4 THEN 1 ELSE 0 END)
           + (CASE WHEN m > c5 THEN 1 ELSE 0 END) + (CASE WHEN m > c6 THEN 1 ELSE 0 END)
           + (CASE WHEN m > c7 THEN 1 ELSE 0 END) + (CASE WHEN m > c8 THEN 1 ELSE 0 END)
           + (CASE WHEN m > c9 THEN 1 ELSE 0 END) AS bin
           FROM cur, cuts),
         rc AS (SELECT bin, count(*) AS n_ref FROM rb GROUP BY bin),
         cc AS (SELECT bin, count(*) AS n_cur FROM cb GROUP BY bin),
         b AS (SELECT g.b AS bin,
                      coalesce(rc.n_ref, 0) AS n_ref,
                      coalesce(cc.n_cur, 0) AS n_cur
               FROM unnest(generate_series(0, 9)) AS g(b)
               LEFT JOIN rc ON rc.bin = g.b LEFT JOIN cc ON cc.bin = g.b),
         tt AS (SELECT sum(n_ref)::DOUBLE AS nr, sum(n_cur)::DOUBLE AS nc
                FROM b)
         SELECT bin::INT AS bin, n_ref::BIGINT AS n_ref,
                n_cur::BIGINT AS n_cur,
                round(((n_cur + 0.5) / (nc + 5.0) - (n_ref + 0.5) / (nr + 5.0))
                  * ln(((n_cur + 0.5) / (nc + 5.0))
                       / ((n_ref + 0.5) / (nr + 5.0))), 6) AS psi_term
         FROM b, tt ORDER BY bin""",

    // q164's survivor chain + q65's prefix-sum packing + the shard
    // rollup in one query
    "q175_export_shards" ->
      """WITH dd AS (
           SELECT doc_id, lang, text FROM (
             SELECT doc_id, lang, text,
                    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
             FROM documents) WHERE rn = 1),
         qx AS (
           SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS toks,
             regexp_split_to_array(trim(lower(text)), '\s+') AS ltoks,
             length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))::DOUBLE
               / length(text)::DOUBLE AS punct_ratio
           FROM dd),
         qy AS (
           SELECT doc_id,
             len(toks)::DOUBLE AS ntok,
             len(list_filter(ltoks, t -> list_contains(
               ['the','a','of','and','to','in','is','it','that','for'], t)))::DOUBLE
               / len(toks)::DOUBLE AS sw_ratio,
             list_sum(list_transform(toks, t -> length(t)))::DOUBLE
               / len(toks)::DOUBLE AS avg_len,
             punct_ratio
           FROM qx),
         q AS (SELECT doc_id, round(
                 least(ntok / 64.0, 1.0) * 0.3
               + least(sw_ratio * 4.0, 1.0) * 0.3
               + greatest(1.0 - punct_ratio * 4.0, 0.0) * 0.2
               + greatest(1.0 - abs(avg_len - 5.0) / 10.0, 0.0) * 0.2, 6)
                 AS quality
               FROM qy),
         kx AS (
           SELECT doc_id, regexp_split_to_array(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
             ' ') AS w
           FROM documents),
         kd AS (SELECT * FROM kx WHERE len(w) >= 2),
         kb AS (SELECT doc_id, w[g.i] AS prev, w[g.i + 1] AS cur
               FROM kd, unnest(generate_series(1, len(w) - 1)) AS g(i)),
         kbc AS (SELECT prev, cur, count(*) AS cb FROM kb GROUP BY prev, cur),
         kctx AS (SELECT prev, sum(cb) AS ctot, count(*) AS nfollow
                 FROM kbc GROUP BY prev),
         kcont AS (SELECT cur, count(*) AS nprec FROM kbc GROUP BY cur),
         ktt AS (SELECT count(*) AS t FROM kbc),
         ks AS (SELECT doc_id,
                 greatest(cb - 0.75, 0) / ctot
                   + (0.75 * nfollow / ctot) * (nprec::DOUBLE / t) AS p
               FROM kb JOIN kbc USING (prev, cur) JOIN kctx USING (prev)
                    JOIN kcont USING (cur) CROSS JOIN ktt),
         kn AS (SELECT doc_id, round(exp(-avg(ln(p))), 6) AS kn_ppl
               FROM ks GROUP BY doc_id),
         surv0 AS (SELECT dd.doc_id, dd.lang, dd.text, kn.kn_ppl
                  FROM dd JOIN q USING (doc_id) JOIN kn USING (doc_id)
                  WHERE q.quality >= 0.5),
         med AS (SELECT quantile_cont(kn_ppl, 0.5) AS m FROM surv0),
         surv AS (SELECT s2.doc_id, s2.text FROM surv0 s2, med
                  WHERE s2.kn_ppl <= med.m),
         px AS (SELECT doc_id,
                  len(regexp_split_to_array(trim(text), '\s+'))::BIGINT
                    AS n_tokens,
                  md5(doc_id::VARCHAR) AS k2
                FROM surv),
         pr AS (SELECT doc_id, n_tokens,
                  coalesce(sum(n_tokens) OVER (ORDER BY k2, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0)::BIGINT AS sofar
                FROM px)
         SELECT (sofar // 512 // 16)::BIGINT AS shard,
                count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS n_tokens,
                min(sofar // 512)::BIGINT AS first_pack,
                max(sofar // 512)::BIGINT AS last_pack
         FROM pr GROUP BY (sofar // 512 // 16) ORDER BY shard""",

    // chains 0..4 per decade collapse to the decade base; 5..9 stay
    // singletons
    "q174_incremental_cc" ->
      """SELECT doc_id AS id,
                CASE WHEN doc_id % 10 <= 4 THEN doc_id - (doc_id % 10)
                     ELSE doc_id END AS component
         FROM documents ORDER BY id""",

    // conditional aggregation is the pivot's SQL twin
    "q171_pivot" ->
      """SELECT lang,
           sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)::BIGINT AS src0,
           sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)::BIGINT AS src1,
           sum(CASE WHEN source = 'src2' THEN 1 ELSE 0 END)::BIGINT AS src2,
           sum(CASE WHEN source = 'src3' THEN 1 ELSE 0 END)::BIGINT AS src3,
           sum(CASE WHEN source = 'src4' THEN 1 ELSE 0 END)::BIGINT AS src4
         FROM documents GROUP BY lang ORDER BY lang""",

    // IS NOT DISTINCT FROM vs = on the same nulled key
    "q172_nullsafe_join" ->
      """WITH d AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN NULL ELSE doc_id % 7 END AS k
           FROM documents)
         SELECT
           (SELECT count(*) FROM d a JOIN d b
            ON a.k IS NOT DISTINCT FROM b.k)::BIGINT AS n_nullsafe,
           (SELECT count(*) FROM d a JOIN d b ON a.k = b.k)::BIGINT
             AS n_plain""",

    // identical ROWS-frame semantics
    "q173_moving_avg" ->
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS date, count(*)::BIGINT AS n_events
           FROM events GROUP BY CAST(ts AS DATE))
         SELECT date, n_events,
                round(avg(n_events) OVER (ORDER BY date
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7
         FROM daily ORDER BY date""",

    // DuckDB's own nfc_normalize (independent implementation — the
    // q116 parity) under the same rollup
    "q170_sql_surface" ->
      """SELECT lang, count(*)::BIGINT AS n_docs,
                count(DISTINCT md5(nfc_normalize(text)))::BIGINT
                  AS n_distinct_nfc,
                min(length(nfc_normalize(text)))::BIGINT AS min_nfc_len
         FROM documents GROUP BY lang ORDER BY lang""",

    // the q164 chains re-used; first failing stage owns the verdict
    "q167_curation_audit" ->
      """WITH dd AS (
           SELECT doc_id, lang, text,
                  row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           FROM documents),
         qx AS (
           SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS toks,
             regexp_split_to_array(trim(lower(text)), '\s+') AS ltoks,
             length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))::DOUBLE
               / length(text)::DOUBLE AS punct_ratio
           FROM documents),
         qy AS (
           SELECT doc_id,
             len(toks)::DOUBLE AS ntok,
             len(list_filter(ltoks, t -> list_contains(
               ['the','a','of','and','to','in','is','it','that','for'], t)))::DOUBLE
               / len(toks)::DOUBLE AS sw_ratio,
             list_sum(list_transform(toks, t -> length(t)))::DOUBLE
               / len(toks)::DOUBLE AS avg_len,
             punct_ratio
           FROM qx),
         q AS (SELECT doc_id, round(
                 least(ntok / 64.0, 1.0) * 0.3
               + least(sw_ratio * 4.0, 1.0) * 0.3
               + greatest(1.0 - punct_ratio * 4.0, 0.0) * 0.2
               + greatest(1.0 - abs(avg_len - 5.0) / 10.0, 0.0) * 0.2, 6)
                 AS quality
               FROM qy),
         kx AS (
           SELECT doc_id, regexp_split_to_array(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
             ' ') AS w
           FROM documents),
         kd AS (SELECT * FROM kx WHERE len(w) >= 2),
         kb AS (SELECT doc_id, w[g.i] AS prev, w[g.i + 1] AS cur
               FROM kd, unnest(generate_series(1, len(w) - 1)) AS g(i)),
         kbc AS (SELECT prev, cur, count(*) AS cb FROM kb GROUP BY prev, cur),
         kctx AS (SELECT prev, sum(cb) AS ctot, count(*) AS nfollow
                 FROM kbc GROUP BY prev),
         kcont AS (SELECT cur, count(*) AS nprec FROM kbc GROUP BY cur),
         ktt AS (SELECT count(*) AS t FROM kbc),
         ks AS (SELECT doc_id,
                 greatest(cb - 0.75, 0) / ctot
                   + (0.75 * nfollow / ctot) * (nprec::DOUBLE / t) AS p
               FROM kb JOIN kbc USING (prev, cur) JOIN kctx USING (prev)
                    JOIN kcont USING (cur) CROSS JOIN ktt),
         kn AS (SELECT doc_id, round(exp(-avg(ln(p))), 6) AS kn_ppl
               FROM ks GROUP BY doc_id),
         st AS (SELECT dd.doc_id, dd.rn, q.quality, kn.kn_ppl
                FROM dd JOIN q USING (doc_id)
                LEFT JOIN kn USING (doc_id)),
         med AS (SELECT quantile_cont(kn_ppl, 0.5) AS m FROM st
                 WHERE rn = 1 AND quality >= 0.5 AND kn_ppl IS NOT NULL)
         SELECT doc_id,
                CASE WHEN rn > 1 THEN 'dup'
                     WHEN quality < 0.5 THEN 'quality'
                     WHEN kn_ppl IS NULL THEN 'unscored'
                     WHEN kn_ppl > m THEN 'ppl'
                     ELSE 'kept' END AS stage
         FROM st, med ORDER BY doc_id""",

    // the doubled feed deduped back to the batch distinct set
    "q166_streaming_dedup" ->
      """SELECT CAST(ts AS DATE) AS date, count(*)::BIGINT AS n_events,
                CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE)
                  AS total_value
         FROM events GROUP BY CAST(ts AS DATE) ORDER BY date""",

    // same pairs, label-mismatch filter, (sim desc, id) rank window
    "q165_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
                           label AS ql
                    FROM embeddings WHERE vec_id < 10),
         s AS (SELECT q.query_id, e.vec_id,
                 list_dot_product(e.embedding::DOUBLE[], q.qv)
                   / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(q.qv, q.qv))) AS sim
               FROM embeddings e, q WHERE e.label <> q.ql),
         r AS (SELECT query_id, vec_id, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, vec_id) AS rank
               FROM s)
         SELECT query_id, rank::INT AS rank, vec_id,
                round(sim, 6) AS cosine_sim
         FROM r WHERE rank <= 3 ORDER BY query_id, rank""",

    // q17's dedup + q21's quality formula + q142's KN chain + the
    // q40-parity median, composed; pack count = ceil(tokens/512)
    "q164_curation_pipeline" ->
      """WITH dd AS (
           SELECT doc_id, lang, text FROM (
             SELECT doc_id, lang, text,
                    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
             FROM documents) WHERE rn = 1),
         qx AS (
           SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS toks,
             regexp_split_to_array(trim(lower(text)), '\s+') AS ltoks,
             length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))::DOUBLE
               / length(text)::DOUBLE AS punct_ratio
           FROM dd),
         qy AS (
           SELECT doc_id,
             len(toks)::DOUBLE AS ntok,
             len(list_filter(ltoks, t -> list_contains(
               ['the','a','of','and','to','in','is','it','that','for'], t)))::DOUBLE
               / len(toks)::DOUBLE AS sw_ratio,
             list_sum(list_transform(toks, t -> length(t)))::DOUBLE
               / len(toks)::DOUBLE AS avg_len,
             punct_ratio
           FROM qx),
         q AS (SELECT doc_id, round(
                 least(ntok / 64.0, 1.0) * 0.3
               + least(sw_ratio * 4.0, 1.0) * 0.3
               + greatest(1.0 - punct_ratio * 4.0, 0.0) * 0.2
               + greatest(1.0 - abs(avg_len - 5.0) / 10.0, 0.0) * 0.2, 6)
                 AS quality
               FROM qy),
         kx AS (
           SELECT doc_id, regexp_split_to_array(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
             ' ') AS w
           FROM documents),
         kd AS (SELECT * FROM kx WHERE len(w) >= 2),
         kb AS (SELECT doc_id, w[g.i] AS prev, w[g.i + 1] AS cur
               FROM kd, unnest(generate_series(1, len(w) - 1)) AS g(i)),
         kbc AS (SELECT prev, cur, count(*) AS cb FROM kb GROUP BY prev, cur),
         kctx AS (SELECT prev, sum(cb) AS ctot, count(*) AS nfollow
                 FROM kbc GROUP BY prev),
         kcont AS (SELECT cur, count(*) AS nprec FROM kbc GROUP BY cur),
         ktt AS (SELECT count(*) AS t FROM kbc),
         ks AS (SELECT doc_id,
                 greatest(cb - 0.75, 0) / ctot
                   + (0.75 * nfollow / ctot) * (nprec::DOUBLE / t) AS p
               FROM kb JOIN kbc USING (prev, cur) JOIN kctx USING (prev)
                    JOIN kcont USING (cur) CROSS JOIN ktt),
         kn AS (SELECT doc_id, round(exp(-avg(ln(p))), 6) AS kn_ppl
               FROM ks GROUP BY doc_id),
         surv AS (SELECT dd.doc_id, dd.lang, dd.text, kn.kn_ppl
                  FROM dd JOIN q USING (doc_id) JOIN kn USING (doc_id)
                  WHERE q.quality >= 0.5),
         med AS (SELECT quantile_cont(kn_ppl, 0.5) AS m FROM surv),
         kept AS (SELECT lang,
                    len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS t
                  FROM surv, med WHERE kn_ppl <= m)
         SELECT lang, count(*)::BIGINT AS n_docs, sum(t)::BIGINT AS n_tokens,
                sum(ceil(t / 512.0)::BIGINT)::BIGINT AS n_packs
         FROM kept GROUP BY lang ORDER BY lang""",

    // evolved column null for the pre-evolution half
    "q163_schema_evolution" ->
      """SELECT doc_id, lang,
                CASE WHEN doc_id % 2 = 1 THEN doc_id % 7 END::BIGINT
                  AS quality
         FROM documents ORDER BY doc_id""",

    // the flipped docs, one removed (flag 0) + one added (flag 1) each
    "q156_table_diff" ->
      """SELECT c.change, d.doc_id, d.lang,
                CASE WHEN c.change = 'added' THEN 1 ELSE 0 END AS flag
         FROM documents d,
              (SELECT 'added' AS change UNION ALL SELECT 'removed') c
         WHERE d.doc_id % 3 = 0
         ORDER BY d.doc_id, c.change"""
  )

  /** Headline bench subset: every query that is sf0.1-safe by design
    * (the brute-force O(n²) oracle-twin forms q24/q27/q30/q69 are
    * excluded — their scale paths q28/q29/q31 and the pipeline's
    * MinHash clusters run instead).
    */
  /** In-bench stage timing for q48_minhash_realistic (round-7 verdict
    * ask #1): splits the query into corpus generation, signature
    * computation, and banding+verify+emission, each fully materialized,
    * so the bench artifact itself records where the time goes and the
    * emitted-pair density (the pairs/s story behind the q28-vs-q48
    * comparison). Stage attribution pins each stage's input with
    * `localCheckpoint` — the sum tracks the q48 wall time to within the
    * (sub-second) generation cost q48 re-pays inside its signature scan.
    * Returns (stage, seconds, rows-materialized).
    */
  def q48StageBreakdown(s: SparkSession, dir: String): Seq[(String, Double, Long)] = {
    import graft.ext.{Dedup, SyntheticCorpus}
    val nDocs = t(s, dir, "documents").count()
    var t0 = System.nanoTime()
    val corpus = SyntheticCorpus.realistic(s, nDocs).localCheckpoint()
    val genSec = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val sigs = // localCheckpoint inside minhashSignatures forces the job
      Dedup.minhashSignatures(corpus, "doc_id", "text", numHashes = 64, shingleSize = 1)
    val sigSec = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val nPairs = Dedup.pairsFromSigs(sigs, minJaccard = 0.7, numHashes = 64)
      .queryExecution.toRdd.count()
    val pairSec = (System.nanoTime() - t0) / 1e9
    Seq(("corpus_gen", genSec, nDocs),
      ("signatures", sigSec, nDocs),
      ("band_verify_emit", pairSec, nPairs))
  }

  def benchQueries: Seq[String] = Seq(
    "q01_scan_filter_project", "q02_kpi_global", "q03_agg_grouped",
    "q04_daily_kpis", "q05_kpi_single_date", "q06_join_inner",
    "q07_join_anti", "q08_join_semi", "q09_join_multi", "q10_topk",
    "q11_window_rank", "q12_count_distinct", "q13_stats_summary",
    "q14_set_intersect", "q15_json_extract", "q16_prev_day",
    "q17_dedup_exact", "q18_dedup_groups", "q19_fingerprint",
    "q20_token_counts", "q21_quality_score", "q22_lang_id",
    "q23_cosine_topk", "q25_topk_join", "q26_envelope_meta",
    "q28_minhash_pairs", "q29_simhash_pairs", "q31_ann_topk",
    "q32_multimodal_features", "q33_tfidf", "q34_ivf_topk",
    "q35_sessionize", "q36_rollup", "q37_content_sample", "q38_content_split",
    "q39_clean_corpus", "q40_percentiles", "q41_asof_join",
    "q42_nonequi_join", "q43_approx_distinct", "q45_ann_recall",
    "q46_ivf_recall", "q48_minhash_realistic", "q49_clean_corpus_realistic",
    "q50_pii_redact", "q51_token_topk", "q52_group_sample",
    "q53_langid_confusion", "q54_langid_confusion_realistic",
    "q55_ann_topk_auto", "q56_ann_recall_auto", "q57_repetition_scores",
    "q58_contamination", "q59_unigram_xent", "q60_source_stats",
    "q61_token_budget_mix", "q62_approx_percentiles",
    "q63_quantize_int8", "q64_quantized_topk",
    "q65_pack_sequences", "q66_cross_dup_ngrams",
    "q67_chunk_tokens", "q68_group_centroids", "q70_centroid_outliers",
    "q71_span_dedup", "q72_dsir_weights", "q73_url_domains",
    "q74_semantic_dedup", "q75_semantic_dedup_learned",
    "q75b_semantic_dedup_tight",
    "q76_domain_filter", "q77_bigram_xent", "q79_quality_mix",
    "q80_random_projection", "q81_oov_rate", "q82_zipf_slope",
    "q83_ivf_index_recall", "q84_crawl_diff", "q85_dsir_select",
    "q86_packing_stats", "q87_fuzzy_decontamination",
    "q88_packing_policies", "q89_streaming_daily_kpis",
    // q93 is NOT benched: its cluster labels come from the exact
    // Jaccard pair set (oracle-ability), the same brute-twin class as
    // the excluded q27/q30/q78 — the scale path is clusterSplit over
    // minhashDedup labels, whose machinery q28 already times
    "q90_quality_classifier", "q91_classifier_holdout",
    // q96/q97 are NOT benched: each re-trains the same 32-merge model
    // q95 already times (~4 s of their ~4.5 s each at sf0.1); their
    // marginal operator work (one agg / pack+chunk over learned counts)
    // is covered by q95 + the existing packing rows q65/q86/q88
    "q92_minhash_index_admission", "q94_html_extract", "q95_bpe_encode",
    "q98_classifier_quality", "q99_html_links", "q100_pr_curve",
    "q101_warc_ingest", "q102_encoding_repair", "q103_bloom_antijoin",
    "q104_bloom_stats", "q105_weighted_sample", "q106_pca_project",
    "q107_pca_quality", "q108_audio_frames", "q109_pagerank",
    "q110_pdf_extract", "q111_canonical_url", "q112_frontier_admission",
    "q113_pq_encode", "q114_pq_recall", "q115_warc_gzip",
    "q116_unicode_nfc", "q117_ivfpq_recall", "q118_robots_gate",
    "q119_crawl_schedule", "q120_sitemap_parse", "q121_frontier_pipeline",
    // q125 is NOT benched: 16.7 s at sf0.1, nearly all of it the
    // micro-batch replay harness (7 sequential batches, per-batch
    // checkpoint I/O); its operator stages are exactly q121's (timed)
    // and its streaming machinery is q89's (timed)
    "q122_compression_signal", "q123_sitemap_discovery",
    "q124_frontier_discovered", "q126_ivfpq_index",
    "q127_pq_residual_recall", "q128_decode_refusals",
    // q130 is NOT benched: exact Jaccard on the 50-word-vocabulary
    // documents fixture is inherently near-quadratic in candidates
    // (every token hot — the q27/q30 brute-twin class); the operator's
    // scale profile is benched on the realistic token distribution
    "q129_bm25", "q131_prefix_jaccard_realistic", "q132_anchor_agg",
    "q133_hits", "q134_zorder", "q135_linkgraph_pipeline",
    "q136_cms_heavy_hitters", "q137_pagerank_incremental",
    "q138_audio_spectra", "q139_robots_wildcards",
    "q140_recrawl_priority", "q141_epoch_shuffle", "q142_kn_bigram",
    "q143_salted_join", "q144_rendezvous_shard", "q145_temperature_mix",
    "q146_neyman_sample", "q147_cdc_chunks", "q148_calibration",
    "q149_cdc_delta", "q150_bootstrap_ci", "q151_interval_join",
    // q154 is NOT benched: its wall is the sequential micro-batch
    // replay harness ×2 (the q125 rationale); its sink is q152/q155's
    // (timed) and its streaming machinery is q89's (timed)
    "q152_snapshot_read", "q153_matryoshka_recall", "q155_table_compaction",
    "q156_table_diff", "q157_binary_ann", "q158_incremental_read",
    "q159_profile", "q160_collocations", "q161_triangles",
    // q162 IS benched (unlike the foreachBatch replays): the interval
    // join runs under ONE AvailableNow trigger over the shared q89
    // feed — the streaming machinery itself is the thing timed
    "q162_stream_stream_join", "q163_schema_evolution",
    "q164_curation_pipeline", "q165_hard_negatives",
    "q166_streaming_dedup", "q167_curation_audit", "q168_dlq_counts",
    "q169_orc_roundtrip", "q170_sql_surface", "q171_pivot",
    "q172_nullsafe_join", "q173_moving_avg", "q174_incremental_cc",
    "q175_export_shards", "q176_drift_psi", "q177_length_batching",
    "q178_crawl_quota", "q179_table_stream", "q180_ndcg",
    "q181_ivfpq_index_append", "q182_char_span_dedup",
    "q183_stratified_split", "q184_auto_split",
    "q185_streaming_sessions", "q186_unimax_mix", "q187_gopher_rules",
    "q188_tar_ingest", "q189_tar_gzip", "q190_bloom_layout",
    "q191_mmr_rerank", "q192_source_diversity",
    "q193_exact_decontamination")
}
