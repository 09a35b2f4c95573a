package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — one scan, no shuffle except the
  * final k-row ordering; on a cluster each partition computes local
  * scores and only top candidates survive the TakeOrderedAndProject.
  *
  * Scale path: LSH (random hyperplane) bucketing — candidates share a
  * signature bucket, so the scan narrows to a hash lookup + in-bucket
  * scoring, trading recall for a ~buckets× cheaper probe. An IVF-style
  * variant (coarse centroids learned on a driver-side sample) gives the
  * same effect with better geometry for clustered data.
  *
  * All arithmetic is done in double after casting the float vectors up:
  * deterministic, and matches DuckDB's double-precision oracle.
  */
object SimilaritySearch {

  /** Dot product of two array columns, computed in double.
    *
    * Native codegen expression ([[org.apache.spark.sql.graft.DotF64]]),
    * not the HOF spelling `aggregate(zip_with(...))` — same doubles in
    * the same order (bit-identical scores, oracle-invisible), but the
    * interpreted lambda environment and per-row zipped-array allocation
    * in the scoring inner loop are gone (the q21/q22 lesson applied to
    * the vector paths).
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorOps.dot(a, b)

  /** L2 norm of an array column, in double — the dot loop with itself. */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two array columns, in double. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Symmetric int8 quantization of an embedding column — the standard
    * 4× storage/bandwidth cut for vector corpora at scale: per row,
    * `qscale = max|v| / 127` and `qvec[i] = clamp(round(v[i]/qscale))`
    * in [-127, 127] (an all-zero vector quantizes to zeros with scale
    * 0). Exact integer/double arithmetic end-to-end, so an external
    * engine reproduces the quantized bytes bit-for-bit (q63's DuckDB
    * oracle does).
    *
    * Cosine needs NO dequantization: the per-row scales cancel, so
    * `cos(dequant(a), dequant(b)) = intdot(qa, qb) / (|qa|·|qb|)` —
    * see [[quantizedTopKByCosine]]. Round-trip error is bounded by
    * qscale/2 per component (spec-asserted).
    *
    * The lambda body divides by the already-projected `qscale`
    * ATTRIBUTE — per-element re-evaluation of an attribute reference
    * is free, unlike the expensive-captured-expression trap
    * [[graft.ext.Dedup.wordShingles]] documents.
    */
  def quantizeInt8(
      df: DataFrame,
      vecCol: String,
      qvecCol: String = "qvec",
      scaleCol: String = "qscale"): DataFrame =
    df.withColumn(scaleCol,
        (array_max(transform(col(vecCol), x => abs(x))).cast("double") / lit(127.0)))
      .withColumn(qvecCol,
        when(col(scaleCol) === 0.0,
          transform(col(vecCol), _ => lit(0).cast("tinyint")))
        .otherwise(transform(col(vecCol), x =>
          least(greatest(round(x.cast("double") / col(scaleCol)), lit(-127.0)),
            lit(127.0)).cast("tinyint"))))

  /** Per-group embedding centroids — mean vector per source / domain /
    * cluster: the building block for domain-level similarity, drift
    * monitoring, and seeding IVF-style partitions from real group
    * structure. Componentwise means are computed on the exploded
    * (group, position, value) stream — one shuffle whose map-side
    * partial aggregation collapses each task to `|groups| × dim` rows,
    * then a per-group fold back into an ordered array (sort by
    * position inside the row, not a sort of the data). Means are
    * rounded to 6 decimals so the result is engine-reproducible
    * (established float-aggregation practice here, q59/q60).
    */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("__pos", "__x")))
      .groupBy(col(groupCol), col("__pos"))
      .agg(round(avg(col("__x").cast("double")), 6).as("__m"),
        count(lit(1)).as("__n"))
      .groupBy(col(groupCol))
      .agg(
        max(col("__n")).as("n_vectors"),
        transform(array_sort(collect_list(struct(col("__pos"), col("__m")))),
          s => s.getField("__m")).as("centroid"))

  /** Cosine of every vector to its OWN group's centroid — the
    * centroid-coherence curation signal: documents far from their
    * domain/source centroid are outliers (mislabeled source, boilerplate,
    * embedding failures) and the usual drop/re-route candidates.
    * Composes [[groupCentroids]]; the centroid table is |groups| rows,
    * so the join back is a broadcast and the scoring is one codegen
    * dot-product pass over the corpus. Scores are rounded like every
    * float ratio here, so an external engine reproduces them.
    */
  def centroidSimilarity(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      vecCol: String): DataFrame = {
    val cents = groupCentroids(df, groupCol, vecCol)
      .select(col(groupCol), col("centroid"))
    df.join(broadcast(cents), groupCol)
      .select(col(idCol), col(groupCol),
        round(cosine(col(vecCol).cast("array<double>"), col("centroid")), 6)
          .as("centroid_sim"))
  }

  /** Brute-force top-k by cosine over int8-quantized vectors — the
    * memory-bandwidth-bound form of [[topKByCosine]]: scores are
    * computed directly on the quantized integers (scales cancel in
    * cosine), through the same codegen `dot_f64` inner loop after a
    * native array cast (no lambda in the hot path). Agreement with the
    * full-precision top-k is spec-asserted (recall@10 ≥ 0.9 on the
    * fixture; measured 1.0).
    */
  def quantizedTopKByCosine(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      excludeId: Option[Long] = None): DataFrame = {
    val quantized = quantizeInt8(df, vecCol)
    // quantize the query with the same rule, driver-side
    val qmax = query.map(math.abs).foldLeft(0.0)(math.max)
    val qs = qmax / 127.0
    // half-AWAY-FROM-ZERO, matching SQL round() (and the corpus-side
    // quantizeInt8 / q64's DuckDB twin): java Math.round is
    // half-toward-+infinity, so Math.round(-2.5) = -2 where the SQL
    // rule (and the oracle) produce -3
    def halfAway(x: Double): Double =
      if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)
    val qq: Seq[Double] =
      if (qs == 0.0) query.map(_ => 0.0)
      else query.map(x => math.min(math.max(halfAway(x / qs), -127.0), 127.0))
    val qd = col("qvec").cast("array<double>")
    val scored = quantized
      .select(col(idCol), (dot(qd, typedLit(qq)) /
        (l2norm(qd) * lit(math.sqrt(qq.map(x => x * x).sum)))).as("cosine_sim"))
    val filtered = excludeId.fold(scored)(x => scored.where(col(idCol) =!= x))
    filtered.orderBy(col("cosine_sim").desc, col(idCol).asc).limit(k)
  }

  /** Brute-force top-k by cosine against one literal query vector.
    * Ties broken by id for determinism. Excludes `excludeId` (typically
    * the query's own row).
    */
  def topKByCosine(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      excludeId: Option[Long] = None): DataFrame = {
    val q = typedLit(query)
    val scored = df
      .select(col(idCol), cosine(col(vecCol), q).as("cosine_sim"))
    val filtered = excludeId.fold(scored)(x => scored.where(col(idCol) =!= x))
    filtered.orderBy(col("cosine_sim").desc, col(idCol).asc).limit(k)
  }

  /** Matryoshka (MRL) truncation quality: recall@k of cosine top-k
    * computed over only the FIRST `d` embedding components, against
    * the full-width exact top-k, for each width in `dims` — the
    * measurement behind serving truncated matryoshka embeddings (store
    * and scan d of D floats; if recall holds, the index shrinks D/d×
    * and the scan speeds up the same factor). One output row:
    * `k` plus one `recall_d<d>` column per width.
    *
    * On non-MRL-trained embeddings (this fixture) truncation recall is
    * expected to DEGRADE at small d — the row documents the baseline
    * an MRL-trained model would be compared against.
    *
    * Shape at scale: one scan per width (each a [[topKByCosine]] —
    * TakeOrderedAndProject over a scan projection, no shuffle of
    * vectors), k-row joins for the intersections, a 1-row cross-join
    * assembly. Widths share nothing downstream of the scan, so a
    * production measurement would fuse them into one pass; the
    * per-width spelling keeps each plan auditable.
    */
  def matryoshkaRecall(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      dims: Seq[Int],
      excludeId: Option[Long] = None): DataFrame = {
    require(dims.nonEmpty, "dims must be non-empty")
    require(dims.forall(d => d >= 1 && d <= query.length),
      s"every dim must be in [1, ${query.length}], got $dims")
    val full = topKByCosine(df, idCol, vecCol, query, k, excludeId)
      .select(col(idCol))
    val recalls = dims.map { d =>
      val truncated = df.withColumn("__tv",
        slice(col(vecCol), 1, d).cast("array<double>"))
      topKByCosine(truncated, idCol, "__tv", query.take(d), k, excludeId)
        .select(col(idCol))
        .join(full, Seq(idCol))
        .agg((count(lit(1)).cast("double") / k).as(s"recall_d$d"))
    }
    recalls.foldLeft(df.sparkSession.range(1).select(lit(k).as("k")))(
      (acc, r) => acc.crossJoin(broadcast(r)))
  }

  /** Sign bits of vector components `[from, until)` packed into one
    * long (component i sets bit `i − from` iff `vec[i] >= 0`) — the
    * 1-bit embedding quantization: 64 float32 components become one
    * BIGINT, a 32× compression whose Hamming distance approximates
    * angular distance well enough to shortlist. Packed in ≤ 32-bit
    * halves so the generated SQL twin ([[signBitPackSql]]) never
    * shifts into a BIGINT sign bit.
    */
  def signBitPack(vec: Column, from: Int, until: Int): Column = {
    require(from >= 0 && until > from && until - from <= 32,
      s"pack at most 32 bits per word, got [$from, $until)")
    (from until until).map(i =>
      when(element_at(vec, i + 1) >= 0, lit(1L << (i - from)))
        .otherwise(lit(0L))).reduce(_.bitwiseOR(_))
  }

  /** The SAME packing as an ANSI SQL expression over 1-based list
    * expression `vecExpr` — generated from one loop (the single-source
    * oracle pattern).
    */
  def signBitPackSql(vecExpr: String, from: Int, until: Int): String =
    (from until until).map(i =>
      s"(CASE WHEN $vecExpr[${i + 1}] >= 0 THEN ${1L << (i - from)} ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** Driver-side packing of a query vector (for the probe literals). */
  private def signBitsOf(q: Seq[Double], from: Int, until: Int): Long =
    (from until until).foldLeft(0L)((acc, i) =>
      if (q(i) >= 0) acc | (1L << (i - from)) else acc)

  /** Binary (sign-bit) ANN quality: Hamming-distance top-k over the
    * packed bits, and Hamming shortlist → exact-cosine rerank top-k,
    * each measured as recall against the exact full-precision top-k.
    * One row: `k`, `shortlist`, `recall_hamming`, `recall_rerank`.
    * The production layout scans ONE long (plus one more per extra 32
    * dims) per candidate — `bit_count(xor)` is a handful of
    * instructions — and touches float vectors only for the shortlist.
    *
    * Shape at scale: the Hamming scan is a projection over two packed
    * columns into a TakeOrderedAndProject; the rerank joins the
    * `shortlist`-row id set back to the vectors (broadcast) before one
    * more bounded top-k. No vector ever shuffles.
    */
  def hammingRerankRecall(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      shortlist: Int,
      excludeId: Option[Long] = None): DataFrame = {
    require(query.length <= 64, s"demo packing covers <= 64 dims, got ${query.length}")
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val mid = math.min(32, query.length)
    val v = col(vecCol)
    val packed = df.select(col(idCol), v,
      signBitPack(v, 0, mid).as("__b0"),
      (if (query.length > mid) signBitPack(v, mid, query.length) else lit(0L))
        .as("__b1"))
    val base = excludeId.fold(packed)(x => packed.where(col(idCol) =!= x))
    val ham = (bit_count(col("__b0").bitwiseXOR(lit(signBitsOf(query, 0, mid)))) +
      bit_count(col("__b1").bitwiseXOR(lit(signBitsOf(query, mid, query.length)))))
      .as("__ham")
    val ranked = base.select(col(idCol), v, ham)
      .orderBy(col("__ham").asc, col(idCol).asc)
    val exact = topKByCosine(df, idCol, vecCol, query, k, excludeId)
      .select(col(idCol))
    val hamTop = ranked.limit(k).select(col(idCol))
      .join(exact, Seq(idCol))
      .agg((count(lit(1)).cast("double") / k).as("recall_hamming"))
    val rerank = topKByCosine(
        ranked.limit(shortlist).select(col(idCol), v), idCol, vecCol, query, k)
      .select(col(idCol))
      .join(exact, Seq(idCol))
      .agg((count(lit(1)).cast("double") / k).as("recall_rerank"))
    df.sparkSession.range(1)
      .select(lit(k).as("k"), lit(shortlist).as("shortlist"))
      .crossJoin(broadcast(hamTop))
      .crossJoin(broadcast(rerank))
  }

  /** One scored neighbor candidate. */
  final case class Scored(id: Long, score: Double)

  /** The heap aggregate carries ids as long; a non-integral id column
    * (string UUID, decimal) would `cast("long")` to all-null and return
    * plausible-looking garbage instead of failing. Fail loudly instead.
    */
  private def requireIntegralId(df: DataFrame, c: String, who: String): Unit = {
    import org.apache.spark.sql.types._
    df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case dt => throw new IllegalArgumentException(
        s"$who: id column '$c' must be an integral type, got ${dt.simpleString}; " +
          "map non-integral ids (e.g. UUIDs) to a surrogate long first")
    }
  }

  /** Bounded-heap top-k typed aggregate (SURVEY.md §7.3): each task
    * keeps at most k candidates per query, merged map-side before the
    * shuffle — so the exchange carries O(tasks · k) rows per query
    * instead of the full n·q scored cross-product that a row_number
    * window would sort and shuffle.
    */
  final class TopKAgg(k: Int) extends Aggregator[Scored, Seq[Scored], Seq[Scored]] {
    private def ord(s: Scored): (Double, Long) = (-s.score, s.id)
    private val tOrd = implicitly[Ordering[(Double, Long)]]
    override def zero: Seq[Scored] = Nil
    // buf is kept sorted; accepting a row is an O(k) sorted insert (one
    // pass, one allocation), not a re-sort — this is the innermost loop
    // of the k-NN join.
    override def reduce(buf: Seq[Scored], a: Scored): Seq[Scored] =
      if (buf.size >= k && !tOrd.lt(ord(a), ord(buf.last))) buf
      else {
        val (better, worse) = buf.span(s => tOrd.lteq(ord(s), ord(a)))
        ((better :+ a) ++ worse).take(k)
      }
    override def merge(b1: Seq[Scored], b2: Seq[Scored]): Seq[Scored] =
      (b1 ++ b2).sortBy(ord).take(k)
    override def finish(b: Seq[Scored]): Seq[Scored] = b.sortBy(ord)
    override def bufferEncoder: Encoder[Seq[Scored]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[Scored]] = ExpressionEncoder()
  }

  /** Batch k-NN: top-k neighbors for every row of `queries` (a small
    * DataFrame broadcast to every executor). Output: (query_id, id,
    * cosine_sim, rank). The big side streams once; the per-query state
    * is a k-element heap with map-side combine — no window sort over the
    * cross-product (ids must be integral; they are carried as long).
    */
  def topKJoin(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      excludeSelfId: Boolean = true): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    requireIntegralId(corpus, corpusId, "topKJoin corpus")
    requireIntegralId(queries, queryId, "topKJoin queries")
    val q = broadcast(queries.select(
      col(queryId).cast("long").as("query_id"), col(queryVec).as("__qv")))
    val base = corpus
      .select(col(corpusId).cast("long").as("id"), col(corpusVec).as("__cv"))
      .crossJoin(q)
    // excludeSelfId only makes sense when queries share the corpus id
    // namespace (self-kNN); pass false for cross-table queries.
    val filtered = if (excludeSelfId) base.where(col("id") =!= col("query_id")) else base
    val scored = filtered
      .select(col("query_id"), col("id"),
        cosine(col("__cv"), col("__qv")).as("cosine_sim"))
      // zero-norm or null vectors score NULL (Spark division returns
      // null); drop them — a null would NPE the non-nullable encoder
      .where(col("cosine_sim").isNotNull)
      .as[(Long, Long, Double)]
    val agg = new TopKAgg(k).toColumn
    scored
      .groupByKey(_._1)
      .mapValues(r => Scored(r._2, r._3))
      .agg(agg.name("top"))
      .flatMap { case (qid, top) =>
        top.iterator.zipWithIndex.map { case (s, i) =>
          (qid, s.id, s.score, (i + 1).toLong)
        }
      }
      .toDF("query_id", "id", "cosine_sim", "rank")
  }

  // -------------------------------------------------------------------
  // LSH (random hyperplane) bucketing
  // -------------------------------------------------------------------

  /** Deterministic pseudo-random hyperplanes: component d of plane p is
    * a uniform value in [-1, 1) derived from (seed, p, d) by hashing —
    * reproducible across runs and executors with no RNG state.
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    def u(p: Int, d: Int): Double = {
      var h = seed ^ (p.toLong * 0x9E3779B97F4A7C15L) ^ (d.toLong * 0xC2B2AE3D27D4EB4FL)
      h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
      h *= 0xC4CEB9FE1A85EC53L; h ^= h >>> 33
      (h.toDouble / Long.MaxValue.toDouble) // in [-1, 1]
    }
    (0 until numPlanes).map(p => (0 until dim).map(d => u(p, d)))
  }

  /** Sign-bucket of a vector against the hyperplanes: bit p is set iff
    * dot(vec, plane_p) >= 0. 16 planes → 65k buckets.
    */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (plane, p) =>
      when(dot(vec, typedLit(plane)) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** The query vector's sign bucket against `planes`, computed driver-
    * side (the query is a literal).
    */
  private def querySignBucket(query: Seq[Double], planes: Seq[Seq[Double]]): Long =
    planes.zipWithIndex.map { case (plane, p) =>
      val d = plane.zip(query).map { case (a, b) => a * b }.sum
      if (d >= 0) 1L << p else 0L
    }.sum

  /** Approximate top-k via LSH — the RECOMMENDED entry point, which is
    * the multi-probe variant: single-probe recall collapses as the
    * corpus grows (measured 0.0@10 at the sf0.1 fixture with 4 planes —
    * the true neighbors sit one hyperplane away from the query's bucket
    * and a single probe never sees them), while multi-probe at the same
    * plane count measures ≥ 0.6 there (BENCH_NOTES.md, "Estimator
    * quality"; floor asserted in EstimatorQualitySpec). Callers who
    * want the 1-bucket probe cost and accept the recall loss must say
    * so: [[annTopKSingleProbe]].
    */
  def annTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      numPlanes: Int = 8,
      seed: Long = 42L,
      excludeId: Option[Long] = None): DataFrame =
    annTopKMultiProbe(df, idCol, vecCol, query, k, numPlanes, seed, excludeId)

  /** Single-probe ANN top-k: only candidates in the query's own bucket
    * are scored. The cheapest probe (1/2^p of the corpus on average) and
    * the lowest recall — a deliberate opt-in, NOT the default: at 4
    * planes recall@10 measures 0.3/0.2/0.0 at sf0.001/0.01/0.1
    * (BENCH_NOTES.md). Raise recall by lowering `numPlanes` (bigger
    * buckets) or switching to the default [[annTopK]] multi-probe path.
    */
  def annTopKSingleProbe(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      numPlanes: Int = 8,
      seed: Long = 42L,
      excludeId: Option[Long] = None): DataFrame = {
    val planes = hyperplanes(numPlanes, query.size, seed)
    val qBucket = querySignBucket(query, planes)
    val bucketed = df.where(lshBucket(col(vecCol), planes) === qBucket)
    topKByCosine(bucketed, idCol, vecCol, query, k, excludeId)
  }

  /** Multi-probe ANN top-k: probes the query's bucket PLUS every bucket
    * at Hamming distance 1 in sign-bit space (numPlanes+1 probes). Each
    * flipped bit admits the candidates on the far side of one
    * hyperplane — the standard multi-probe recall lift (for cosine≥c
    * pairs, per-bucket miss probability θ/π per plane concentrates in
    * single-plane disagreements). Still one scan: the probe set is a
    * literal IN-list pushed into the bucket filter.
    */
  def annTopKMultiProbe(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      numPlanes: Int = 8,
      seed: Long = 42L,
      excludeId: Option[Long] = None): DataFrame = {
    val planes = hyperplanes(numPlanes, query.size, seed)
    val qBucket = querySignBucket(query, planes)
    val probes = qBucket +: (0 until numPlanes).map(p => qBucket ^ (1L << p))
    val bucketed = df.where(lshBucket(col(vecCol), planes).isin(probes: _*))
    topKByCosine(bucketed, idCol, vecCol, query, k, excludeId)
  }

  /** Given the corpus size, the plane count whose multi-probe candidate
    * set stays large enough for useful recall: the expected probed
    * fraction is (p+1)/2^p, so p is the largest count keeping the
    * expected candidate rows ≥ max(128, 64·k) — scanning fewer than
    * that saves nothing and starves recall (the measured recall@10 at
    * this constant stays ≥ 0.6 across the fixtures vs 0.5 right at a
    * 32·k floor). Capped at 20 planes (beyond that the probed fraction
    * is < 2e-5 and the derivation's constant matters more than the
    * cap).
    */
  def planesForCorpus(n: Long, k: Int): Int = {
    val target = math.max(128.0, 64.0 * k)
    var p = 1
    while (p < 20 && (p + 2.0) / (1L << (p + 1)) * n >= target) p += 1
    p
  }

  /** ANN top-k with the plane count derived from the corpus size
    * ([[planesForCorpus]]) — one metadata-cheap `count()` at call time,
    * then the multi-probe path. The zero-knobs entry point: recall
    * stays in the measured ≥ 0.6 band as the corpus grows instead of
    * collapsing the way a fixed plane count does.
    */
  def annTopKAuto(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      seed: Long = 42L,
      excludeId: Option[Long] = None): DataFrame = {
    val n = df.count()
    annTopKMultiProbe(df, idCol, vecCol, query, k,
      numPlanes = planesForCorpus(n, k), seed = seed, excludeId = excludeId)
  }

  /** Near-duplicate pairs by embedding cosine ≥ `minCosine`, LSH-blocked:
    * pairs must agree on the bucket, then exact cosine verifies. With p
    * planes, recall for cosine≥c pairs is (1-θ/π)^p per probe where
    * θ=arccos(c); at c=0.95, p=8 → ~0.77 — document and tune.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double = 0.95,
      numPlanes: Int = 8,
      dim: Int = -1,
      seed: Long = 42L): DataFrame = {
    // dim <= 0: derive from the data (one 1-row job) — a mismatched
    // literal dim would null-poison every zip_with dot product. Null
    // vectors are skipped for the probe (and score null downstream).
    val d =
      if (dim > 0) dim
      else df.where(col(vecCol).isNotNull)
        .select(size(col(vecCol))).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(0)
    if (d == 0) {
      import df.sparkSession.implicits._
      return Seq.empty[(Long, Long, Double)].toDF("id_a", "id_b", "cosine_sim")
    }
    val planes = hyperplanes(numPlanes, d, seed)
    val withBucket = df.select(
      col(idCol).as("__id"), col(vecCol).as("__v"),
      lshBucket(col(vecCol), planes).as("__bucket"))
    val a = withBucket.select(col("__bucket"), col("__id").as("id_a"), col("__v").as("__va"))
    val b = withBucket.select(col("__bucket"), col("__id").as("id_b"), col("__v").as("__vb"))
    a.join(b, Seq("__bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine_sim", cosine(col("__va"), col("__vb")))
      .where(col("cosine_sim") >= minCosine)
      .select("id_a", "id_b", "cosine_sim")
      .distinct()
  }

  // -------------------------------------------------------------------
  // IVF (inverted-file) coarse quantization
  // -------------------------------------------------------------------

  /** Squared euclidean distance of an array column to a literal vector
    * (codegen'd — the HOF spelling ran one interpreted fold per
    * centroid per row in the argmin).
    */
  private def dist2(vec: Column, center: Seq[Double]): Column =
    org.apache.spark.sql.graft.VectorOps.sqdist(vec, typedLit(center))

  /** Cell id of the nearest centroid (ties to the lower index): the
    * struct-array min trick keeps the whole argmin a single expression.
    *
    * `spherical = true` assigns by MAXIMUM dot product against unit
    * centroids instead of minimum L2 — the cosine-aligned geometry
    * (the row vector needs no normalization: its norm is constant
    * across candidates, so argmax dot == argmin angle). Use with
    * [[learnCentroids]]`(spherical = true)`; L2 cells on unnormalized
    * vectors split cosine neighborhoods across cell boundaries, which
    * is exactly the learned-IVF recall loss in BENCH_NOTES.
    */
  def nearestCentroid(
      vec: Column,
      centroids: Seq[Seq[Double]],
      spherical: Boolean = false): Column =
    // ONE fused codegen expression (r22) instead of a k-struct
    // array_min tree per call site — same values bit for bit, edge
    // cases (null / short / null-element vector → cell 0; ties → lower
    // index; the spherical `dot · (−1.0)` spelling) included; see
    // [[org.apache.spark.sql.graft.NearestCell]] and SimilaritySpec's
    // equivalence pin against the composed spelling.
    org.apache.spark.sql.graft.NearestCell(vec, centroids.map(_.toSeq), spherical)

  /** Round half away from zero at `scale` decimals — the one rounding
    * rule every engine spells the same way for the values k-means
    * produces (DuckDB's round(), Spark's round() on positives; exact
    * decimal ties are measure-zero on float-derived doubles).
    */
  private def rHalfAway(x: Double, pow10: Double): Double =
    if (x == 0.0) 0.0
    else math.signum(x) * (math.floor(math.abs(x) * pow10 + 0.5) / pow10)

  /** [[learnCentroids]] with EVERY degree of freedom pinned to an
    * engine-reproducible spelling, so the FITTED model itself can be
    * re-derived by an oracle engine (the thing the RNG-seeded variant
    * can never offer):
    *
    *  - the sample is the `sampleN` rows with the SMALLEST
    *    `md5(id)` coordinate (content-keyed, the q37 convention —
    *    identical on any engine/partitioning; a TakeOrderedAndProject,
    *    not a reservoir),
    *  - the initial centroids are the first `k` sample rows in that
    *    same order,
    *  - each Lloyd assignment compares squared distances ROUNDED to 9
    *    decimals (ties to the lower cell index), and
    *  - each new centroid coordinate is the member mean ROUNDED to 6
    *    decimals (empty cells keep their centroid) —
    *
    * the two rounds being where cross-engine summation-order float
    * noise would otherwise leak into the fitted values (the q145
    * decimal-pinning lesson applied to model fitting). Same cost
    * shape as [[learnCentroids]]: one bounded top-n collect, Lloyd on
    * the driver, centroids broadcast as literals.
    */
  def learnCentroidsDeterministic(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      sampleN: Int = 2000,
      iters: Int = 5): Seq[Seq[Double]] = {
    val sample = df.where(col(vecCol).isNotNull)
      .select(md5(col(idCol).cast("string")).as("__k"),
        col(idCol).cast("string").as("__id"), col(vecCol))
      .orderBy(col("__k"), col("__id"))
      .limit(sampleN)
      .select(col(vecCol))
      .collect()
      .map(_.getSeq[Number](0).map(_.doubleValue()).toIndexedSeq)
      .toVector
    require(sample.nonEmpty, "cannot learn centroids from an empty frame")
    pinnedLloyd(sample, k, iters).map(_.toSeq)
  }

  /** The pinned Lloyd core of [[learnCentroidsDeterministic]], over an
    * already-ordered in-memory sample — shared with
    * [[Pq.fitPinned]]'s per-subspace fits (ONE collect, m pinned
    * fits). Init = the first `k` sample rows in their given order.
    */
  private[ext] def pinnedLloyd(
      sample: Vector[IndexedSeq[Double]],
      k: Int,
      iters: Int): Vector[IndexedSeq[Double]] = {
    // Primitive-array Lloyd (r22): the boxed groupBy/minBy spelling put
    // the PQ family's driver gap into IndexedSeq.apply + Double boxing
    // (thread-sampled at sf0.1 — learnCentroids frames in a fifth of
    // the q127 driver-gap samples). The arithmetic is unchanged
    // OPERATION FOR OPERATION: assignment keeps the first strict
    // minimum (ties to the lower cell), per-cell mean sums add members
    // in sample order (groupBy preserved encounter order), and the
    // rHalfAway pins sit exactly where they did — codebooks are
    // bit-identical (PqSpec / SimilaritySpec floors pin this).
    val n = sample.length
    val arr: Array[Array[Double]] = sample.map(_.toArray).toArray
    val dim = if (n > 0) arr(0).length else 0
    val kk = math.min(k, n)
    var cents: Array[Array[Double]] = arr.take(kk).map(_.clone)
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Double](kk, dim)
      val cnts = new Array[Int](kk)
      var r = 0
      while (r < n) {
        val v = arr(r)
        var best = 0
        var bestD = Double.PositiveInfinity
        var i = 0
        while (i < kk) {
          val c = cents(i)
          var s = 0.0; var d = 0
          while (d < dim) { val x = v(d) - c(d); s += x * x; d += 1 }
          val ds = rHalfAway(s, 1e9)
          if (ds < bestD) { bestD = ds; best = i }
          i += 1
        }
        val sb = sums(best)
        var d = 0
        while (d < dim) { sb(d) += v(d); d += 1 }
        cnts(best) += 1
        r += 1
      }
      val next = new Array[Array[Double]](kk)
      var i = 0
      while (i < kk) {
        if (cnts(i) > 0) {
          val m = new Array[Double](dim)
          var d = 0
          while (d < dim) { m(d) = rHalfAway(sums(i)(d) / cnts(i), 1e6); d += 1 }
          next(i) = m
        } else next(i) = cents(i) // empty cell keeps its centroid
        i += 1
      }
      cents = next
      it += 1
    }
    cents.toVector.map(c => c.toIndexedSeq)
  }

  /** Learn `k` coarse centroids with a few Lloyd iterations over a
    * driver-side sample. Index-build time, not query time: the sample is
    * tiny relative to the corpus (`sampleN` rows collected once), and
    * the result is a literal broadcast into every query plan. At 100 TB
    * the same recipe holds — centroids come from a bounded sample, never
    * a full pass.
    */
  def learnCentroids(
      df: DataFrame,
      vecCol: String,
      k: Int,
      sampleN: Int = 2000,
      iters: Int = 5,
      seed: Long = 42L,
      spherical: Boolean = false): Seq[Seq[Double]] = {
    // Uniform reservoir sample across ALL partitions — limit(N) would
    // take the head of the first partitions, biasing centroids to one
    // region of a sorted/clustered corpus.
    val raw = df.where(col(vecCol).isNotNull).select(col(vecCol))
      .rdd.takeSample(withReplacement = false, sampleN, seed)
      // element-type-agnostic: corpus embeddings are float32, but
      // derived frames (e.g. [[Pq.residual]]) are double
      .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
    require(raw.nonEmpty, "cannot learn centroids from an empty frame")
    lloydSeeded(raw, k, iters, seed, spherical)
  }

  /** The seeded Lloyd core of [[learnCentroids]], over an in-memory
    * sample in draw order — shared with [[Pq.fit]]'s shared-collect
    * fast path so both spellings run the IDENTICAL loop.
    */
  private[ext] def lloydSeeded(
      raw: Array[Array[Double]],
      k: Int,
      iters: Int,
      seed: Long,
      spherical: Boolean): Seq[Seq[Double]] = {
    // Spherical k-means: learn on the unit sphere and keep centroids
    // unit — with unit centroids, the L2 argmin below is the same
    // assignment as max-dot, so one Lloyd loop serves both modes.
    //
    // Primitive-array Lloyd (r22, same treatment as [[pinnedLloyd]]):
    // identical operations in identical order — first-strict-minimum
    // assignment, per-cell mean sums in sample order, unit() applied to
    // the mean exactly as before — so learned centroids are
    // bit-identical to the boxed spelling; only boxing and closure
    // allocation went away. The seeded shuffle permutes only by LENGTH,
    // so drawing it over arrays keeps the same initialization.
    val sample: Array[Array[Double]] = {
      val base = raw
      if (!spherical) base
      else base.map { v =>
        var s = 0.0; var d = 0
        while (d < v.length) { s += v(d) * v(d); d += 1 }
        val nrm = math.sqrt(s)
        if (nrm > 0) { val u = new Array[Double](v.length)
          d = 0; while (d < v.length) { u(d) = v(d) / nrm; d += 1 }; u
        } else v
      }
    }
    val rnd = new scala.util.Random(seed)
    val n = sample.length
    val dim = sample(0).length
    val ragged = sample.indexWhere(_.length != dim)
    require(ragged < 0, s"ragged sample: vector $ragged has length " +
      s"${sample(ragged).length}, expected $dim (the length of vector 0)")
    val kk = math.min(k, n)
    var cents: Array[Array[Double]] =
      rnd.shuffle(sample.toVector).take(kk).map(_.clone).toArray
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Double](kk, dim)
      val cnts = new Array[Int](kk)
      var r = 0
      while (r < n) {
        val v = sample(r)
        var best = 0
        var bestD = Double.PositiveInfinity
        var i = 0
        while (i < kk) {
          val c = cents(i)
          var s = 0.0; var d = 0
          while (d < dim) { val x = v(d) - c(d); s += x * x; d += 1 }
          if (s < bestD) { bestD = s; best = i }
          i += 1
        }
        val sb = sums(best)
        var d = 0
        while (d < dim) { sb(d) += v(d); d += 1 }
        cnts(best) += 1
        r += 1
      }
      val next = new Array[Array[Double]](kk)
      var i = 0
      while (i < kk) {
        if (cnts(i) > 0) {
          val m = new Array[Double](dim)
          var d = 0
          while (d < dim) { m(d) = sums(i)(d) / cnts(i); d += 1 }
          if (spherical) {
            var s = 0.0; d = 0
            while (d < dim) { s += m(d) * m(d); d += 1 }
            val nrm = math.sqrt(s)
            if (nrm > 0) { d = 0; while (d < dim) { m(d) = m(d) / nrm; d += 1 } }
          }
          next(i) = m
        } else next(i) = cents(i) // empty cell keeps its centroid
        i += 1
      }
      cents = next
      it += 1
    }
    cents.toVector.map(_.toSeq)
  }

  /** IVF approximate top-k: scan only the `nProbe` cells whose centroids
    * are nearest the query. Complements the LSH variant with better
    * geometry for clustered data; recall/cost is tuned by `nProbe`
    * (nProbe = k cells → exact).
    */
  def ivfTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      centroids: Seq[Seq[Double]],
      nProbe: Int = 2,
      excludeId: Option[Long] = None,
      spherical: Boolean = false): DataFrame = {
    val cell = nearestCentroid(col(vecCol), centroids, spherical)
    topKByCosine(
      df.where(cell.isin(probeCellsFor(query, centroids, nProbe, spherical): _*)),
      idCol, vecCol, query, k, excludeId)
  }

  /** The `nProbe` nearest cells to a query (the same argmin geometry
    * the row assignment uses) — the probe set for [[ivfTopK]] and the
    * partition filter for [[ivfTopKFromIndex]].
    */
  def probeCellsFor(
      query: Seq[Double],
      centroids: Seq[Seq[Double]],
      nProbe: Int,
      spherical: Boolean = false): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      val d = if (spherical) -c.zip(query).map { case (a, b) => a * b }.sum
        else c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum
      (d, i)
    }.sortBy(identity).take(math.max(1, nProbe)).map(_._2)

  /** Materialize the IVF index: rows land in parquet partitions KEYED
    * BY CELL (`.../cell=7/part-*.parquet`). Build once, query many —
    * the index build pays the assignment argmin exactly once, and
    * every subsequent query's probe becomes PARTITION PRUNING: the
    * scan lists only the probed cell directories, so a 16-cell /
    * nProbe-4 query reads ~1/4 of the index bytes no matter how large
    * the corpus (IvfIndexSpec asserts the `PartitionFilters` push and
    * the result parity with the in-memory [[ivfTopK]]).
    */
  def writeIvfIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Seq[Double]],
      path: String,
      spherical: Boolean = false): Unit =
    df.select(col(idCol), col(vecCol),
        nearestCentroid(col(vecCol), centroids, spherical).as("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(path)

  /** Query a [[writeIvfIndex]] index: the cell filter is a literal IN
    * over the partition column, pruned at file listing — no full scan,
    * no assignment recompute.
    */
  def ivfTopKFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      centroids: Seq[Seq[Double]],
      nProbe: Int = 2,
      excludeId: Option[Long] = None,
      spherical: Boolean = false): DataFrame =
    topKByCosine(
      graft.ingest.ParquetRead.read(spark, path).where(
        col("cell").isin(probeCellsFor(query, centroids, nProbe, spherical): _*)),
      idCol, vecCol, query, k, excludeId)

  /** Semantic dedup, the SemDeDup recipe (Abbas et al. 2023): assign
    * every vector to its nearest coarse centroid, compare vectors ONLY
    * within a cluster, and drop the higher-id member of any in-cluster
    * pair with cosine ≥ `tau` — semantically-redundant documents whose
    * texts never collide on an exact or MinHash fingerprint. Returns
    * the SURVIVORS `(id, cell)`, i.e. rows not cosine-dominated by a
    * lower id in their cell.
    *
    * The centroids are caller-supplied literals ([[learnCentroids]] at
    * index-build time, or any fixed set for reproducibility), so the
    * assignment is one codegen argmin pass — the same geometry as IVF
    * cells.
    *
    * Shape at scale: clustering first is what makes the quadratic
    * affordable — the pairwise stage is a self-equi-join ON THE CELL
    * KEY, Σ|cell|² work instead of n², embarrassingly parallel across
    * cells (SemDeDup ran this shape over LAION-2B/C4 with k in the
    * tens of thousands; cell size, not corpus size, bounds each task).
    * The drop rule needs only "∃ a lower-id neighbor ≥ tau", so it is
    * a left-semi join — no pair list is materialized, survivors stream
    * out of the anti side.
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Seq[Double]],
      tau: Double,
      spherical: Boolean = false): DataFrame = {
    // Pinned: assigned fans into three branches (lower join side,
    // dominated join, final anti-join) — unpinned, the scan and the
    // O(k·dim)-per-row argmin would re-run per branch (the
    // crossDocDupFraction lesson; at SemDeDup-scale k the assignment
    // pass dominates and would triple). localCheckpoint is the house
    // pin: eager and non-replicated — a trade the whole ext/ layer
    // makes (minhashSignatures, dsirWeights, bigramCrossEntropy); on a
    // long-running cluster job prefer checkpointing the caller's input
    // to reliable storage if executor loss must be survivable.
    val assigned = Par.spread(df.select(col(idCol), col(vecCol)), col(idCol))
      .select(
        col(idCol),
        col(vecCol).cast("array<double>").as("__v"),
        nearestCentroid(col(vecCol), centroids, spherical).as("cell"))
      .localCheckpoint()
    val lower = assigned.select(
      col("cell"), col(idCol).as("__id_lo"), col("__v").as("__v_lo"))
    val dominated = assigned.join(lower, Seq("cell"))
      .where(col("__id_lo") < col(idCol) &&
        cosine(col("__v"), col("__v_lo")) >= tau)
      .select(col(idCol)).distinct()
    assigned.join(dominated, Seq(idCol), "left_anti")
      .select(col(idCol), col("cell"))
  }

  /** Exact brute-force near-dup pairs (for tests / recall measurement —
    * O(n²), never the scale path).
    */
  def bruteForceNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    a.crossJoin(b)
      .where(col("id_a") < col("id_b"))
      .withColumn("cosine_sim", cosine(col("__va"), col("__vb")))
      .where(col("cosine_sim") >= minCosine)
      .select("id_a", "id_b", "cosine_sim")
  }

  /** Greedy maximal-marginal-relevance (MMR, Carbonell & Goldstein
    * 1998) diversity re-ranking: from each query's top-`poolK`
    * candidate pool, pick `selectK` documents one at a time, each pick
    * maximizing `λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)` over the
    * already-selected set S — the standard move for building diverse
    * eval/annotation sets or dedup-aware retrieval contexts from an
    * ANN candidate list.
    *
    * Determinism contract: every float leaves the plan through ONE
    * quantization gate — `floor(cosine·1e6 + 0.5)` micro-units, the
    * same codegen [[cosine]] both the pool and the pair matrix use —
    * and the greedy loop itself is pure integer arithmetic
    * (`λ` is `lambdaTenths`/10, so scores are the exact integers
    * `lambdaTenths·rel_u − (10−lambdaTenths)·red_u`). Ties take the
    * smallest id at every step, so the selected sequence is a pure
    * function of the quantized sims on any engine.
    *
    * Shape at scale: stage 1 is [[topKJoin]] (bounded-heap map-side
    * combine — the only stage that touches the corpus); stage 2
    * re-attaches candidate vectors with one broadcast-hash join
    * (candidates are O(queries·poolK), the corpus streams once per
    * vector side) and builds the per-query poolK² pair matrix
    * small-side only; stage 3 is a per-query greedy over ≤poolK²
    * integer rows — O(queries·poolK²·selectK) total, no shuffle
    * beyond the tiny pair-matrix groupBy. The corpus is never
    * shuffled and the quadratic term is bounded by poolK, not n.
    *
    * Output: (query_id, rank, doc_id, relevance_u, redundancy_u,
    * mmr_score_u) — all BIGINT, rank 1-based in selection order.
    */
  def mmrRerank(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      poolK: Int,
      selectK: Int,
      lambdaTenths: Int = 7): DataFrame = {
    require(poolK >= 2, s"mmrRerank: poolK must be >= 2, got $poolK")
    require(selectK >= 1 && selectK <= poolK,
      s"mmrRerank: selectK must be in [1, poolK], got $selectK")
    require(lambdaTenths >= 0 && lambdaTenths <= 10,
      s"mmrRerank: lambdaTenths must be in [0, 10], got $lambdaTenths")
    val spark = corpus.sparkSession
    import spark.implicits._
    def microUnits(c: Column): Column = floor(c * lit(1000000.0d) + lit(0.5d))
    val lam = lambdaTenths.toLong
    val oneMinusLam = (10 - lambdaTenths).toLong

    val cand = topKJoin(corpus, corpusId, corpusVec,
        queries, queryId, queryVec, poolK)
      .select(col("query_id"), col("id"),
        microUnits(col("cosine_sim")).as("rel_u"))
    // Pinned: withVec fans into both sides of the pair self-join —
    // unpinned, the topKJoin (a full corpus scan + shuffle) and the
    // vector re-attach would run twice (the semanticDedup lesson).
    val vecs = corpus.select(
      col(corpusId).cast("long").as("id"), col(corpusVec).as("__v"))
    val withVec = vecs.join(broadcast(cand), Seq("id"))
      .select(col("query_id"), col("id"), col("rel_u"), col("__v"))
      .localCheckpoint()
    val a = withVec.select(col("query_id"), col("id").as("ia"),
      col("rel_u").as("rel_a_u"), col("__v").as("__va"))
    val b = withVec.select(col("query_id"), col("id").as("ib"),
      col("__v").as("__vb"))
    val pairs = a.join(b, Seq("query_id"))
      .where(col("ia") =!= col("ib"))
      .select(col("query_id"), col("ia"), col("rel_a_u"), col("ib"),
        microUnits(cosine(col("__va"), col("__vb"))).as("sim_u"),
        lit(true).as("is_pair"))
    // The candidate rows ride along so a pool of exactly one member
    // (tiny corpus after self-exclusion) still seeds `rel`/`remaining`
    // and emits its rank-1 row — the pair self-join alone drops it.
    val seeds = withVec.select(col("query_id"), col("id").as("ia"),
      col("rel_u").as("rel_a_u"), lit(0L).as("ib"), lit(0L).as("sim_u"),
      lit(false).as("is_pair"))
    val rows = pairs.unionByName(seeds)
      .as[(Long, Long, Long, Long, Long, Boolean)]

    rows
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Long, Long, Long, Boolean)]) =>
        val rel = scala.collection.mutable.LongMap.empty[Long]
        val sim = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
        it.foreach { case (_, ia, relA, ib, s, isPair) =>
          rel(ia) = relA
          if (isPair) sim((ia, ib)) = s
        }
        // Ascending-id iteration + strict `>` makes every tie resolve
        // to the smallest id, matching the oracle's (score DESC, id).
        val remaining = scala.collection.mutable.SortedSet.empty[Long] ++ rel.keys
        val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long, Long, Long)]
        val k = math.min(selectK, remaining.size)
        var rank = 1L
        while (rank <= k) {
          var bestId = -1L
          var bestScore = Long.MinValue
          var bestRed = 0L
          for (c <- remaining) {
            val red =
              if (selected.isEmpty) 0L
              else selected.iterator.map(s => sim((c, s))).max
            val score = lam * rel(c) - oneMinusLam * red
            if (score > bestScore) {
              bestScore = score; bestId = c; bestRed = red
            }
          }
          remaining -= bestId
          selected += bestId
          out += ((qid, rank, bestId, rel(bestId), bestRed, bestScore))
          rank += 1L
        }
        out.iterator
      }
      .toDF("query_id", "rank", "doc_id",
        "relevance_u", "redundancy_u", "mmr_score_u")
  }
}
