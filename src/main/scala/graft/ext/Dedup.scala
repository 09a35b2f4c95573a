package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and exact n-gram Jaccard.
  *
  * Scale design (the 100 TB contract):
  *  - Exact dedup groups on a 128-bit fingerprint of the content, never
  *    on the content itself — the shuffle carries 16 bytes + the key,
  *    not the document.
  *  - Near-dup candidate generation is LSH-shaped in every variant:
  *    band signatures → groupBy(band) → in-bucket pairs. The all-pairs
  *    O(n²) comparison never happens; cost is O(n · bands) shuffle plus
  *    per-bucket quadratic work bounded by bucket size.
  *  - Grouping candidates into duplicate clusters is distributed
  *    min-label propagation (no driver-side union-find), converging in
  *    O(cluster diameter) joins — near-dup clusters are shallow.
  */
object Dedup {

  // -------------------------------------------------------------------
  // Exact dedup
  // -------------------------------------------------------------------

  /** Null-safe fingerprint of the key columns: md5 of a JSON struct with
    * explicit nulls, so `("a", null)` and `(null, "a")` hash differently
    * (a separator-join would collapse them — NULL-skipping concat).
    */
  def keyFingerprint(on: Seq[String]): Column =
    md5(to_json(
      struct(on.map(c => col(c).cast("string").as(c)): _*),
      Map("ignoreNullFields" -> "false")))

  /** Keep exactly one row per distinct value of `on`, choosing the row
    * with the smallest `tieBreak` (fully deterministic — ties on
    * `tieBreak` break lexicographically on the remaining columns,
    * unlike `dropDuplicates`). Implemented as ONE aggregation of
    * `min(struct(tieBreak, row))` keyed by the md5 fingerprint of the
    * key columns. Struct min isn't hash-bufferable so Spark plans a
    * SortAggregate, but the partial side still combines map-side: the
    * shuffle carries ONE candidate row per key per task — the property
    * that survives 100 TB, where a row_number window ships and sorts
    * every input row. md5 collisions (~2⁻⁶⁴ at 10¹² docs) are accepted
    * and documented.
    */
  def exact(df: DataFrame, on: Seq[String], tieBreak: String): DataFrame = {
    val cols = df.columns.toSeq
    val ordered = struct((col(tieBreak) +: cols.filterNot(_ == tieBreak).map(col)): _*)
    df.groupBy(keyFingerprint(on).as("__fp"))
      .agg(min(ordered).as("__r"))
      .select(cols.map(c => col(s"__r.$c").as(c)): _*)
  }

  /** Group view of exact dedup: one row per distinct key with the
    * representative id (min of `idCol`) and the copy count. Groups by
    * the 16-byte fingerprint (not the key columns themselves) so the
    * aggregation hash table and shuffle stay small even when the key is
    * a full document; the key values ride along as a once-per-group
    * struct.
    */
  def exactGroups(df: DataFrame, on: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyFingerprint(on).as("__fp"))
      .agg(
        min(struct(on.map(col): _*)).as("__k"),
        min(col(idCol)).as("representative"),
        count(lit(1)).as("n_copies"))
      .select(on.map(c => col(s"__k.$c").as(c)) ++
        Seq(col("representative"), col("n_copies")): _*)

  /** Streaming exact dedup: drop any row whose key was already seen
    * within the watermark horizon — the ingestion-time form of
    * [[exact]] for a continuously-arriving corpus (at-least-once
    * delivery, re-crawls, replays). First arrival wins; state is keyed
    * by `on` and EVICTED once the watermark passes first-seen + delay
    * (`dropDuplicatesWithinWatermark`), so steady-state size is
    * keys-per-horizon, not corpus size — the same bounded-state
    * discipline as the trip correlator (SURVEY §2.7, measured in
    * StreamBench run 2). For content dedup, key on a fingerprint
    * column ([[graft.ext.TextAnalysis.fingerprintMd5]]) computed in
    * the select upstream — the state store then holds 32 hex chars
    * per in-horizon key instead of full documents.
    */
  def streamingExact(
      df: DataFrame,
      on: Seq[String],
      eventTimeCol: String,
      delay: String = "10 minutes"): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(on)

  // -------------------------------------------------------------------
  // Word n-gram shingles (shared by MinHash and exact Jaccard)
  // -------------------------------------------------------------------

  /** Distinct word n-gram shingles of the normalized text, as an array
    * column. Documents shorter than n words yield a single shingle of
    * the whole text.
    *
    * Construction is capture-free: higher-order functions here run
    * INTERPRETED, and any non-lambda expression inside a lambda body is
    * re-evaluated per element — the obvious
    * `transform(sequence(...), i => concat_ws(" ", slice(toks, i+1, n)))`
    * re-runs the regexp normalize + split once PER SHINGLE (measured
    * 4.2 s vs 0.3 s for the tokenize pass itself at sf0.1). Instead the
    * token array is bound ONCE as a lambda variable (`transform` over a
    * single-element array), and shingles are built by a zip chain over
    * the tokens and their shifted slices — every lambda body touches
    * only bound arguments, so per-element work is O(n) concat of
    * already-computed tokens. Output is order- and byte-identical to
    * the index-slice form (shingle i = tokens i..i+n-1, first-occurrence
    * distinct; a document shorter than n words yields the whole text).
    */
  def wordShingles(text: Column, n: Int): Column =
    array_distinct(wordShinglesAll(text, n))

  /** [[wordShingles]] WITHOUT the distinct — every shingle occurrence
    * in document order (repetition analysis needs the multiset where
    * set-similarity wants the set).
    */
  def wordShinglesAll(text: Column, n: Int): Column = {
    val toks = split(TextAnalysis.normalize(text), " ")
    if (n == 1) toks
    else {
      val shingled = transform(array(toks), t => {
        // zip the tokens with their k-shifted slices: element i of the
        // result is tokens[i..i+n-1] joined by " "; the last n-1
        // elements go null (zip_with pads the shorter side) and are
        // filtered out below.
        val joined = (2 to n).foldLeft(t) { (acc, k) =>
          zip_with(acc, slice(t, lit(k), greatest(size(t) - (k - 1), lit(1))),
            (a, b) => concat(a, lit(" "), b))
        }
        when(size(t) < n, array(concat_ws(" ", t)))
          .otherwise(filter(joined, x => x.isNotNull))
      })
      element_at(shingled, 1)
    }
  }

  // -------------------------------------------------------------------
  // MinHash + LSH
  // -------------------------------------------------------------------

  /** MinHash signature: component i = min over shingles of
    * xxhash64(i, xxhash64(shingle)). Two-stage hashing: the
    * variable-length shingle string is hashed ONCE to a long, and the
    * `numHashes` families re-hash only that 8-byte long with the
    * component index as seed — same independence (each family is a
    * fresh xxhash64 over 128 input bits), ~4× less hash work than
    * hashing the string per family (the signature pass was the dominant
    * cost of the corpus pipeline).
    */
  def minhashSignature(text: Column, numHashes: Int = 128, shingleSize: Int = 3): Column = {
    val hs = transform(wordShingles(text, shingleSize), s => xxhash64(s))
    transform(sequence(lit(0), lit(numHashes - 1)), i =>
      array_min(transform(hs, h => xxhash64(i, h))))
  }

  /** Carter–Wegman lane modulus for [[SigMode.Md5]]: the Mersenne
    * prime 2³¹−1. Lane values and products stay under 2⁶², so every
    * step is exact BIGINT arithmetic any engine reproduces bit-for-bit.
    */
  val Md5LaneP: Long = 2147483647L

  /** Lane coefficients for [[SigMode.Md5]] family `i` — fixed odd
    * multiplier (Knuth's 2654435761) keyed by the family index; any
    * deterministic scheme works, this one is short to spell in SQL.
    */
  def md5LaneA(i: Int): Long = ((2L * i + 1L) * 2654435761L) % Md5LaneP
  def md5LaneB(i: Int): Long = (i.toLong * 40503L + 1L) % Md5LaneP

  /** Signature hash family. `Xxhash64` is the throughput mode (the
    * scale/bench path). `Md5` is the VERIFY mode: the shingle is
    * hashed once by md5 (60 bits of the digest, mod 2³¹−1) and the
    * `numHashes` lanes are Carter–Wegman `(a·g + b) mod (2³¹−1)` —
    * chosen because an oracle engine with no xxhash64 (DuckDB) can
    * recompute the EXACT same signatures natively, making the whole
    * LSH pair set hash-comparable. Same asymptotic cost as xxhash64
    * mode (one string hash per shingle, integer ops per lane); the
    * 31-bit lane space only biases the estimator when two of a doc's
    * shingles collide mod p (~n²/2³² per doc — and identically so in
    * both engines, so verification is unaffected).
    */
  sealed trait SigMode
  object SigMode {
    case object Xxhash64 extends SigMode
    case object Md5 extends SigMode
  }

  /** Materialized (id, signature) frame, computed the scale-friendly
    * way: explode shingles, then `numHashes` codegen'd `min` aggregates
    * (one per hash family), map-side combined — the shuffle carries
    * id × numHashes longs. The scalar [[minhashSignature]] expression
    * computes the identical signature but as a nested higher-order
    * function it evaluates interpretively (no codegen): at 500 docs the
    * nested form took 30 s where this takes under a second. Pinned with
    * localCheckpoint so banding and verification reuse one computation.
    */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      shingleSize: Int = 3,
      sigMode: SigMode = SigMode.Xxhash64): DataFrame = {
    val g = sigMode match {
      // the shingle string hashed once; families re-hash the long only
      // (see [[minhashSignature]] — the two paths must stay identical)
      case SigMode.Xxhash64 => xxhash64(col("__s"))
      case SigMode.Md5 =>
        conv(substring(md5(col("__s")), 1, 15), 16, 10).cast("long") %
          lit(Md5LaneP)
    }
    val lane: Int => Column = sigMode match {
      case SigMode.Xxhash64 => i => xxhash64(lit(i), col("__g"))
      case SigMode.Md5 => i =>
        (col("__g") * lit(md5LaneA(i)) + lit(md5LaneB(i))) % lit(Md5LaneP)
    }
    // Md5 mode spreads BEFORE the explode: the md5 + base-16 conv +
    // 128 modular lanes per shingle are the expensive pass and
    // otherwise run inside the scan stage — one task on a
    // single-row-group fixture file (r21 profile: q92's two signature
    // passes 3.3 + 3.9 s single-task). The xxhash64 family is ~50×
    // cheaper per shingle; there the fan-out exchange costs more wall
    // than the pass itself at fixture scale (measured +0.6 s on q39),
    // so it keeps the scan's natural partitioning.
    val src = sigMode match {
      case SigMode.Md5 => Par.spread(df.select(col(idCol), col(textCol)), col(idCol))
      case _ => df
    }
    val exploded = src
      .select(col(idCol).as("__id"),
        explode(wordShingles(col(textCol), shingleSize)).as("__s"))
      .select(col("__id"), g.as("__g"))
    val mins = (0 until numHashes).map(i => min(lane(i)).as(s"__h$i"))
    // checkpointSpread, not bare localCheckpoint: AQE coalesces the
    // small-byte signature exchange to a handful of partitions, and
    // every downstream candidate/verify pipeline probes this frame
    // with broadcast joins — its partition count IS their parallelism
    // (q28's 5.1M-pair verify ran 13 s on one core against a
    // 1-partition pin)
    Par.checkpointSpread(
      exploded.groupBy(col("__id"))
        .agg(mins.head, mins.tail: _*)
        .select(col("__id"),
          array((0 until numHashes).map(i => col(s"__h$i")): _*).as("__sig")),
      col("__id"))
  }

  /** The banding whose S-curve detection threshold best fits
    * `minJaccard`: among the divisor bandings (b bands × r rows,
    * b·r = numHashes), pick the largest r whose threshold
    * t = (1/b)^(1/r) stays ≤ minJaccard. t ≤ j guarantees a pair at
    * Jaccard j collides with probability ≥ 1-(1-1/b)^b ≈ 0.63, rising
    * steeply above t (at 64 hashes and j = 0.9 this picks 8×8:
    * P(collide) ≈ 0.99); maximizing r minimizes the false-candidate
    * mass that a too-low threshold admits — a fixed banding run at a
    * high threshold (16 bands at j = 0.9 → t = 0.5) makes the verify
    * stage do quadratic wasted work.
    *
    * Recall trade-off: maximizing r ALSO lowers detection probability
    * for pairs sitting exactly at the threshold (at 64 hashes, j = 0.9:
    * 8×8 detects an exactly-0.9 pair with P ≈ 0.989 where 16×4 is
    * ≈ 1 − 4e-8) — a deliberate perf-for-borderline-recall trade;
    * pass an explicit `bands` to the callers to bias recall instead.
    * Fallback: when even r = 1 can't satisfy t ≤ minJaccard (i.e.
    * minJaccard < 1/numHashes), this returns bands = numHashes —
    * best-effort banding whose collision floor holds only down to
    * t = 1/numHashes, logged as a warning.
    */
  def bandsFor(numHashes: Int, minJaccard: Double): Int = {
    val viable = (1 to numHashes).filter { r =>
      numHashes % r == 0 &&
        math.pow(1.0 / (numHashes / r), 1.0 / r) <= minJaccard
    }
    if (viable.isEmpty) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"bandsFor: no banding of $numHashes hashes reaches threshold " +
          s"$minJaccard (< 1/$numHashes); falling back to $numHashes bands " +
          "of 1 — pairs below 1/numHashes Jaccard lose the >=0.63 collision floor")
    }
    numHashes / (if (viable.isEmpty) 1 else viable.max)
  }

  /** LSH candidate pairs (idA < idB) from a banded signature frame
    * (as produced by [[minhashSignatures]]).
    *
    * bands × rowsPerBand must equal the signature width. Two docs are
    * candidates iff some band of their signatures hashes equal — the
    * standard S-curve: P(collide) = 1-(1-j^r)^b for Jaccard j.
    *
    * Emits one (band, bandHash) row per doc per band, self-joins on the
    * bucket — the only shuffle is by bucket key; AQE's skew-join
    * handling splits hot buckets. A colliding pair appears once per
    * shared band (a near-identical pair in ALL bands), so the join
    * output needs dedup — done by keeping only the row whose band is
    * the FIRST band whose hashes agree ([[graft.functions
    * .GraftFunctions.firstMatchingBand]], codegen'd): exactly-once
    * emission as a scalar filter, where a `distinct` would shuffle the
    * entire bands-fold blow-up a second time. The filter compares the
    * per-doc ARRAY of band hashes (8 bytes per band) rather than the
    * full signature, keeping the hot join's row payload small — on
    * dup-heavy corpora the join output is the dominant data volume.
    */
  /** (id, band-hash array) — the per-doc banding shared by self-join
    * ([[candidatesFromSigs]]) and cross-dataset
    * ([[crossPairsFromSigs]]) candidate generation. One xxhash64 per
    * band over the signature slice; 8 bytes per band of join payload.
    */
  private def withBandHashes(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    sigs.select(col("__id"),
      array((0 until bands).map(bd =>
        xxhash64(lit(bd), slice(col("__sig"), bd * r + 1, r))): _*).as("__bh"))
  }

  def candidatesFromSigs(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val withBh = withBandHashes(sigs, numHashes, bands)
    val banded = withBh.select(col("__id"), col("__bh"),
      posexplode(col("__bh")).as(Seq("__band", "__bucket")))
    val a = banded.select(col("__band"), col("__bucket"),
      col("__id").as("id_a"), col("__bh").as("__bh_a"))
    val b = banded.select(col("__band"), col("__bucket"),
      col("__id").as("id_b"), col("__bh").as("__bh_b"))
    a.join(b, Seq("__band", "__bucket"))
      .where(col("id_a") < col("id_b"))
      .where(col("__band") === graft.functions.GraftFunctions
        .firstMatchingBand(col("__bh_a"), col("__bh_b"), lit(1)))
      .select(col("id_a"), col("id_b"))
  }

  /** Candidate pairs with their estimated Jaccard (fraction of equal
    * signature components), filtered at `minJaccard`. Signatures are
    * materialized once and shared by candidate generation and
    * verification (re-attached to the already-deduped candidates —
    * a broadcast-sized join at any realistic dup rate). `bands = 0`
    * (the default) derives the banding from the threshold via
    * [[bandsFor]].
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double,
      numHashes: Int = 128,
      bands: Int = 0,
      shingleSize: Int = 3,
      sigMode: SigMode = SigMode.Xxhash64): DataFrame = {
    pairsFromSigs(
      minhashSignatures(df, idCol, textCol, numHashes, shingleSize, sigMode),
      minJaccard, numHashes, bands)
  }

  /** The banding + verify + emission tail of [[minhashPairs]], over an
    * already-materialized signature frame — exposed separately so the
    * bench's stage breakdown can time it apart from signature
    * computation (the two together ARE `minhashPairs`).
    */
  def pairsFromSigs(
      sigs: DataFrame,
      minJaccard: Double,
      numHashes: Int,
      bands: Int = 0): DataFrame = {
    val b = if (bands > 0) bands else bandsFor(numHashes, minJaccard)
    val cand = candidatesFromSigs(sigs, numHashes, b)
    cand
      .join(sigs.withColumnRenamed("__id", "id_a").withColumnRenamed("__sig", "__sig_a"), Seq("id_a"))
      .join(sigs.withColumnRenamed("__id", "id_b").withColumnRenamed("__sig", "__sig_b"), Seq("id_b"))
      .withColumn("est_jaccard",
        graft.functions.GraftFunctions
          .sigMatchCount(col("__sig_a"), col("__sig_b"))
          .cast("double") / lit(numHashes.toDouble))
      .where(col("est_jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Cross-dataset MinHash pairs: (left id, right id, estimated
    * Jaccard) for every left×right pair colliding in some LSH band and
    * verified at `minJaccard` by signature agreement — the estimator
    * behind fuzzy eval-set decontamination, where `left` is the
    * training corpus and `right` the benchmark set.
    *
    * Both signature frames must come from [[minhashSignatures]] with
    * the SAME `numHashes` and shingle size — the hash family is keyed
    * by position, so mismatched inputs silently under-estimate (the
    * agreement count walks the common prefix). Unlike
    * [[pairsFromSigs]] there is no
    * `id_a < id_b` constraint (the two sides are different datasets)
    * and no self-pair risk.
    *
    * Shape at scale: the right side (eval benchmarks: 10³–10⁵ docs) is
    * tiny next to a training corpus, so its banded form AND its
    * signatures are broadcast — corpus text never shuffles, corpus
    * signatures never shuffle; the corpus side is one scan + explode
    * feeding broadcast-hash joins. Exactly-once pair emission via the
    * first-matching-band filter, as in [[candidatesFromSigs]].
    */
  def crossPairsFromSigs(
      leftSigs: DataFrame,
      rightSigs: DataFrame,
      minJaccard: Double,
      numHashes: Int,
      bands: Int = 0): DataFrame = {
    val b = if (bands > 0) bands else bandsFor(numHashes, minJaccard)
    val lb = withBandHashes(leftSigs, numHashes, b)
      .select(col("__id").as("id_a"), col("__bh").as("__bh_a"),
        posexplode(col("__bh")).as(Seq("__band", "__bucket")))
    val rb = withBandHashes(rightSigs, numHashes, b)
      .select(col("__id").as("id_b"), col("__bh").as("__bh_b"),
        posexplode(col("__bh")).as(Seq("__band", "__bucket")))
    lb.join(broadcast(rb), Seq("__band", "__bucket"))
      .where(col("__band") === graft.functions.GraftFunctions
        .firstMatchingBand(col("__bh_a"), col("__bh_b"), lit(1)))
      .select(col("id_a"), col("id_b"))
      .join(leftSigs.select(col("__id").as("id_a"), col("__sig").as("__sig_a")),
        Seq("id_a"))
      .join(broadcast(rightSigs.select(
        col("__id").as("id_b"), col("__sig").as("__sig_b"))), Seq("id_b"))
      .withColumn("est_jaccard",
        graft.functions.GraftFunctions
          .sigMatchCount(col("__sig_a"), col("__sig_b"))
          .cast("double") / lit(numHashes.toDouble))
      .where(col("est_jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  // -------------------------------------------------------------------
  // Persisted MinHash index — incremental near-dup admission
  // -------------------------------------------------------------------

  /** Persist a corpus's MinHash signature table under `path` — the
    * near-dup counterpart of the persisted IVF index: compute the
    * expensive signature pass ONCE, then admit every incremental crawl
    * by querying new documents against the index
    * ([[pairsAgainstMinhashIndex]]) instead of re-signing and
    * re-banding the whole corpus. Banding is NOT stored: band hashes
    * are a cheap codegen xxhash64 over signature slices, recomputed at
    * scan time, so one stored table serves any banding/threshold.
    *
    * `mode` "overwrite" builds, "append" maintains incrementally
    * (write the admitted batch's signatures after each crawl). The
    * signature parameters are part of the index's identity — queries
    * MUST use the same `numHashes`/`shingleSize` (positional hash
    * family, [[crossPairsFromSigs]]).
    */
  def writeMinhashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      numHashes: Int = 128,
      shingleSize: Int = 3,
      mode: String = "overwrite",
      sigMode: SigMode = SigMode.Xxhash64): Unit = {
    // "append" with a different hash family than the stored one would
    // silently poison the index: mixed-width rows under-estimate every
    // Jaccard and the admission gate waves near-duplicates through.
    // The parameters are persisted as index metadata on build and
    // REQUIRED to match on every append (and on every query).
    if (mode == "append")
      readMinhashIndexMeta(df.sparkSession, path).foreach {
        case (storedHashes, storedShingle, storedMode) =>
          require(storedHashes == numHashes && storedShingle == shingleSize
              && storedMode == sigModeName(sigMode),
            s"minhash index at $path was built with numHashes=$storedHashes, " +
              s"shingleSize=$storedShingle, sigMode=$storedMode; append " +
              s"attempted with numHashes=$numHashes, " +
              s"shingleSize=$shingleSize, sigMode=${sigModeName(sigMode)}")
      }
    minhashSignatures(df, idCol, textCol, numHashes, shingleSize, sigMode)
      .write.mode(mode).parquet(s"$path/sigs")
    if (mode != "append")
      writeMinhashIndexMeta(df.sparkSession, path, numHashes, shingleSize,
        sigMode)
  }

  private def sigModeName(m: SigMode): String = m match {
    case SigMode.Xxhash64 => "xxhash64"
    case SigMode.Md5 => "md5"
  }

  /** Index metadata sidecar (`meta.json`): one tiny driver-written file
    * recording the signature family. Written via the Hadoop FS API —
    * no Spark job for a 2-field record.
    */
  private def writeMinhashIndexMeta(
      spark: org.apache.spark.sql.SparkSession,
      path: String, numHashes: Int, shingleSize: Int,
      sigMode: SigMode): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      (s"""{"numHashes":$numHashes,"shingleSize":$shingleSize,""" +
        s""""sigMode":"${sigModeName(sigMode)}"}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Stored signature family of the index at `path`, or None for an
    * index predating the metadata sidecar (callers then fall back to
    * the O(1) stored-width probe, which checks `numHashes` only).
    */
  private def readMinhashIndexMeta(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[(Int, Int, String)] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val m = """"numHashes"\s*:\s*(\d+).*"shingleSize"\s*:\s*(\d+)""".r
        .findFirstMatchIn(text)
        .getOrElse(throw new IllegalArgumentException(
          s"unreadable minhash index metadata at $p: $text"))
      // sigMode absent in pre-round-16 sidecars -> the then-only family
      val mode = """"sigMode"\s*:\s*"(\w+)"""".r
        .findFirstMatchIn(text).map(_.group(1)).getOrElse("xxhash64")
      Some((m.group(1).toInt, m.group(2).toInt, mode))
    }
  }

  /** (indexed id `id_a`, new id `id_b`, estimated Jaccard) for every
    * new document colliding with an indexed one at `minJaccard` —
    * [[crossPairsFromSigs]] with the INDEX as the streamed side: the
    * new batch's bands and signatures broadcast (an incremental crawl
    * slice is small next to the accumulated corpus), the index scans
    * linearly with NO shuffle, and banding happens in the scan
    * projection. At 100 TB the index never moves; only (candidate)
    * rows and the broadcast batch do.
    */
  def pairsAgainstMinhashIndex(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      minJaccard: Double,
      numHashes: Int = 128,
      bands: Int = 0,
      shingleSize: Int = 3,
      sigMode: SigMode = SigMode.Xxhash64): DataFrame = {
    val indexSigs = graft.ingest.ParquetRead.read(newDocs.sparkSession, s"$path/sigs")
    // The signature family is part of the index's identity: a mismatch
    // would slice band hashes over truncated signatures (or compare
    // different shingle vocabularies) and silently UNDER-estimate every
    // Jaccard — the admission gate would wave near-duplicates through.
    // Authoritative check: the metadata sidecar written at build time
    // (covers BOTH parameters and mixed-width corruption that a sampled
    // row can miss). Fallback for a sidecar-less index: probe one row's
    // stored width.
    readMinhashIndexMeta(newDocs.sparkSession, path) match {
      case Some((storedHashes, storedShingle, storedMode)) =>
        require(storedHashes == numHashes && storedShingle == shingleSize
            && storedMode == sigModeName(sigMode),
          s"minhash index at $path was built with numHashes=$storedHashes, " +
            s"shingleSize=$storedShingle, sigMode=$storedMode; queried with " +
            s"numHashes=$numHashes, shingleSize=$shingleSize, " +
            s"sigMode=${sigModeName(sigMode)}")
      case None =>
        val storedWidth = indexSigs.select(size(col("__sig"))).limit(1).collect()
        require(storedWidth.isEmpty || storedWidth(0).getInt(0) == numHashes,
          s"minhash index at $path stores ${storedWidth(0).getInt(0)}-hash " +
            s"signatures; queried with numHashes=$numHashes")
    }
    val newSigs =
      minhashSignatures(newDocs, idCol, textCol, numHashes, shingleSize,
        sigMode)
    crossPairsFromSigs(indexSigs, newSigs, minJaccard, numHashes, bands)
  }

  /** Incremental near-dup ADMISSION: new documents whose estimated
    * Jaccard against every indexed document stays below `minJaccard` —
    * the fuzzy complement of [[graft.ext.TextPipeline.ingestNewOnly]]
    * (which gates on EXACT content fingerprints). Within-batch
    * duplicates are not this gate's job — run [[minhashDedupApply]] on
    * the batch first, then admit, then [[writeMinhashIndex]] the
    * admitted rows with mode "append".
    *
    * Self-pairs (the same id on both sides) never block admission: a
    * document is not a duplicate of ITSELF, and an at-least-once
    * replay of a crashed admit-then-append batch must re-admit its own
    * documents against the half-appended index instead of silently
    * dropping them — the replayed append leaves duplicate signature
    * rows, which cost index bytes but not admission semantics.
    */
  def admitNearUnique(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      minJaccard: Double,
      numHashes: Int = 128,
      bands: Int = 0,
      shingleSize: Int = 3): DataFrame =
    newDocs.join(
      pairsAgainstMinhashIndex(newDocs, idCol, textCol, path, minJaccard,
          numHashes, bands, shingleSize)
        .where(col("id_a") =!= col("id_b"))
        .select(col("id_b").as(idCol)),
      Seq(idCol), "left_anti")

  /** Apply MinHash dedup to the corpus: keep one representative row per
    * near-duplicate cluster (the smallest id). The component assignment
    * shuffles only (id, component) pairs; the document bodies move once,
    * in the final semi join.
    */
  def minhashDedupApply(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 0,
      shingleSize: Int = 3,
      sigMode: SigMode = SigMode.Xxhash64): DataFrame = {
    val comp = minhashDedup(df, idCol, textCol, minJaccard, numHashes, bands,
      shingleSize, sigMode)
    val reps = comp.where(col("id") === col("component")).select(col("id"))
    df.join(reps.withColumnRenamed("id", idCol), Seq(idCol), "left_semi")
  }

  /** Full MinHash dedup: returns (id, component) where `component` is
    * the smallest id in the duplicate cluster (component == id for
    * uniques and representatives).
    */
  def minhashDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 0,
      shingleSize: Int = 3,
      sigMode: SigMode = SigMode.Xxhash64): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, minJaccard, numHashes, bands,
      shingleSize, sigMode)
    connectedComponents(df.select(col(idCol).as("id")), pairs)
  }

  // -------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------

  /** 64-bit SimHash of the token multiset: bit b of the result is set
    * iff a strict majority of token hashes have bit b set. One pass over
    * the tokens with a 64-counter array accumulator — no explode, no
    * shuffle; the whole thing is a scalar expression.
    */
  def simhash64(text: Column): Column = {
    val toks = split(TextAnalysis.normalize(text), " ")
    val hashes = transform(toks, t => xxhash64(t))
    val nTok = size(toks)
    val pows = typedLit((0 until 64).map(b => 1L << b))
    val ones = aggregate(hashes, typedLit(Seq.fill(64)(0)), (acc, h) =>
      zip_with(acc, pows, (c, p) => c + when(h.bitwiseAND(p) =!= 0, 1).otherwise(0)))
    aggregate(
      zip_with(ones, pows, (o, p) => when(o * 2 > nTok, p).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Materialized (id, simhash) frame, computed the scale-friendly way:
    * explode tokens, then 64 codegen'd conditional-sum bit counters plus
    * a token count, majority-vote per bit on the aggregated row. Same
    * result as the scalar [[simhash64]] (equivalence is unit-tested) but
    * runs in WholeStageCodegen instead of the interpreted nested-lambda
    * path, and the localCheckpoint stops downstream self-joins from
    * re-inlining the computation (8× re-evaluation otherwise).
    */
  def simhashFrame(df: DataFrame, idCol: String, textCol: String,
      sigMode: SigMode = SigMode.Xxhash64): DataFrame = {
    val tokHash = sigMode match {
      case SigMode.Xxhash64 => xxhash64(col("__t"))
      // 60 md5 bits (15 hex digits keep the BIGINT parse positive in
      // any engine); bits 60..63 are constant-zero, which the majority
      // vote maps to 0 on both sides — a 60-bit sketch, identically
      case SigMode.Md5 =>
        conv(substring(md5(col("__t")), 1, 15), 16, 10).cast("long")
    }
    val toks = df.select(col(idCol).as("__id"),
      explode(split(TextAnalysis.normalize(col(textCol)), " ")).as("__t"))
      .withColumn("__h", tokHash)
    val bitAggs = (0 until 64).map(b =>
      sum(when(col("__h").bitwiseAND(lit(1L << b)) =!= 0, 1).otherwise(0)).as(s"__b$b"))
    toks.groupBy(col("__id"))
      .agg(bitAggs.head, (bitAggs.tail :+ count(lit(1)).as("__n")): _*)
      .select(col("__id"),
        (0 until 64).map(b =>
          when(col(s"__b$b") * 2 > col("__n"), lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("__sh"))
      .localCheckpoint()
  }

  /** SimHash near-dup candidate pairs: bucket on 16-bit chunks (any
    * pair within Hamming distance 3 shares at least one of 4 chunks),
    * verify with exact Hamming distance.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      sigMode: SigMode = SigMode.Xxhash64): DataFrame = {
    val hashes = simhashFrame(df, idCol, textCol, sigMode)
    val chunked = hashes.select(
      col("__id"), col("__sh"),
      explode(sequence(lit(0), lit(3))).as("__chunk"))
      .withColumn("__key",
        expr("shiftrightunsigned(__sh, __chunk * 16) & 65535"))
    val a = chunked.select(col("__chunk"), col("__key"),
      col("__id").as("id_a"), col("__sh").as("__sh_a"))
    val b = chunked.select(col("__chunk"), col("__key"),
      col("__id").as("id_b"), col("__sh").as("__sh_b"))
    a.join(b, Seq("__chunk", "__key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming(col("__sh_a"), col("__sh_b")).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  // -------------------------------------------------------------------
  // Exact n-gram Jaccard
  // -------------------------------------------------------------------

  /** Exact Jaccard similarity over word n-gram shingle sets for all
    * pairs sharing at least one shingle, filtered at `minJaccard`.
    *
    * Inverted-index join: explode shingles, self-join on the shingle,
    * count common shingles per pair, jaccard = c / (|A|+|B|-c).
    * `maxDocFreq` drops shingles present in more than that many docs
    * (stopword-shingle skew guard — ON by default: one hot shingle
    * otherwise makes its bucket quadratic at scale; 0 = keep all).
    * Jaccard is computed over the *filtered* shingle universe so sizes
    * and intersections agree.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minJaccard: Double = 0.5,
      maxDocFreq: Long = 1000L): DataFrame = {
    // spread BEFORE the shingle pass: normalize+split+slice is the
    // expensive projection and otherwise runs single-task inside the
    // scan stage of a single-row-group fixture file (r21)
    val sh = Par.spread(df.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol).as("__id"),
        wordShingles(col(textCol), n).as("__sh"))
    val inv0 = sh.select(col("__id"), explode(col("__sh")).as("__g"))
    // Pin the inverted index: it feeds the size aggregate AND both join
    // sides (plus the hot-shingle scan) — left lazy, the shingle
    // explode (the expensive normalize+split+slice pass) re-inlines
    // into every consumer, same trap the signature paths checkpoint
    // against.
    val inv = (
      if (maxDocFreq <= 0) inv0
      else {
        val hot = inv0.groupBy("__g").agg(count(lit(1)).as("__df"))
          .where(col("__df") > maxDocFreq).select("__g")
        inv0.join(broadcast(hot), Seq("__g"), "left_anti")
      }).localCheckpoint()
    val sizes = inv.groupBy("__id").agg(count(lit(1)).as("__n"))
    val common = inv.as("x").join(inv.as("y"), col("x.__g") === col("y.__g"))
      .where(col("x.__id") < col("y.__id"))
      .groupBy(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
      .agg(count(lit(1)).as("__common"))
    common
      .join(sizes.withColumnRenamed("__id", "id_a").withColumnRenamed("__n", "__na"), Seq("id_a"))
      .join(sizes.withColumnRenamed("__id", "id_b").withColumnRenamed("__n", "__nb"), Seq("id_b"))
      .withColumn("jaccard",
        col("__common").cast("double") /
          (col("__na") + col("__nb") - col("__common")).cast("double"))
      .where(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact n-gram Jaccard pairs at `minJaccard` via PREFIX FILTERING
    * (the AllPairs/PPJoin family, Bayardo et al., WWW'07; Xiao et al.,
    * WWW'08) — same output contract as [[ngramJaccardPairs]], different
    * candidate generation: instead of joining the full inverted index
    * (quadratic in the hottest posting list), each document indexes only
    * the first `|d| − ⌈τ·|d|⌉ + 1` of its shingles under a global
    * rarest-first order (document frequency asc, shingle asc).
    *
    * Why it is exact: a pair with `J ≥ τ` shares `c ≥ ⌈τ·max(|a|,|b|)⌉`
    * shingles; if none of the shared shingles sat in a's prefix they
    * would all be among a's last `⌈τ·|a|⌉ − 1` shingles, capping
    * `c ≤ ⌈τ·|a|⌉ − 1` — contradiction. So every qualifying pair
    * collides in the prefix index and the verify step (array_intersect
    * on the full shingle sets) loses nothing. The q-row oracle pins
    * this: the output hash-matches the brute-force twin.
    *
    * Shape at scale: the prefix keeps the RARE shingles (rarest-first
    * order), so the self-join's posting lists are the short ones — the
    * hot-token quadratic blowup that forces [[ngramJaccardPairs]]'s
    * `maxDocFreq` heuristic never forms, with no loss of exactness.
    * The per-doc ordering window partitions by document (bounded rows
    * per group); candidates get a `|b| ≥ ⌈τ·|a|⌉` length filter before
    * the verify join; verification touches candidate pairs only.
    */
  def prefixJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minJaccard: Double = 0.5): DataFrame = {
    val tau = minJaccard
    // sorted shingle sets: the verify step is a zero-allocation merge
    // walk (sorted_intersect_count) instead of a per-row hash set
    // (size(array_intersect)) — measured 3.4× on the verify join
    // spread BEFORE the shingle+sort pass (single-row-group scan would
    // otherwise run it one-task), and the pin inherits the spread's
    // partitioning so the inverted index, the window, and both verify
    // sides all fan out
    val sh = Par.spread(df.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol).as("__id"),
        sort_array(wordShingles(col(textCol), n)).as("__sh"))
      // feeds the inverted index AND both verify sides — pin it once
      .localCheckpoint()
    // |d| rides along from the shingle array — no per-doc count window
    val inv = sh.select(col("__id"), size(col("__sh")).cast("long").as("__n"),
      explode(col("__sh")).as("__g"))
    val freq = inv.groupBy("__g").agg(count(lit(1)).as("__gdf"))
    val sized = inv.join(broadcast(freq), Seq("__g"))
      .withColumn("__pos",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("__id")).orderBy(col("__gdf"), col("__g"))))
    // the 1e-9 slack keeps FP on the SAFE side of exact boundaries
    // (τ·|d| landing a ULP above an integer would shorten the prefix /
    // reject a boundary pair); over-inclusion is harmless — verify is
    // exact. Pinned: the prefix index feeds BOTH self-join sides.
    val prefix = sized
      .where(col("__pos") <= col("__n") - ceil(lit(tau) * col("__n") - 1e-9) + 1)
      .select(col("__id"), col("__g"), col("__n"))
      .localCheckpoint()
    val cands = prefix.as("x").join(prefix.as("y"), col("x.__g") === col("y.__g"))
      .where(col("x.__id") < col("y.__id"))
      // length filter: J ≥ τ needs c ≥ ⌈τ·max(|a|,|b|)⌉ ≤ min(|a|,|b|)
      .where(greatest(col("x.__n"), col("y.__n")) * tau - 1e-9 <=
        least(col("x.__n"), col("y.__n")))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
      .distinct()
    cands
      .join(sh.select(col("__id").as("id_a"), col("__sh").as("__sha")), Seq("id_a"))
      .join(sh.select(col("__id").as("id_b"), col("__sh").as("__shb")), Seq("id_b"))
      .withColumn("__common",
        org.apache.spark.sql.graft.SortedIntersectCount.column(
          col("__sha"), col("__shb")))
      .withColumn("jaccard",
        col("__common").cast("double") /
          (size(col("__sha")) + size(col("__shb")) - col("__common")).cast("double"))
      .where(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // -------------------------------------------------------------------
  // Connected components (duplicate clusters)
  // -------------------------------------------------------------------

  /** Distributed min-label propagation with pointer jumping: every
    * node's label converges to the minimum id reachable through the
    * pair edges. `nodes` has one `id` column; `pairs` has (id_a, id_b).
    * Returns (id, component).
    *
    * Each round (1) takes the min label over graph neighbors, then
    * (2) path-halves: component ← component(component) — the label
    * table self-joined on the current label. Halving makes the min
    * label's reach roughly double per round, so convergence is
    * O(log diameter) rounds instead of O(diameter): a 50-node chain
    * converges in ~7 rounds where plain propagation needs 49 (a
    * pathological duplicate chain at 100 TB would otherwise silently
    * outrun any fixed round budget). localCheckpoint cuts the growing
    * lineage each round. Non-convergence within `maxIter` THROWS —
    * partial labels would silently split clusters downstream.
    */
  /** Banding-parameter auto-tuner: the (bands, rowsPerBand) split of
    * `numHashes` MinHash values whose S-curve
    * `P(candidate | jaccard = s) = 1 − (1 − s^r)^b` best separates at
    * threshold `tau` — minimizing the sum of the false-positive area
    * below tau and the false-negative area above it on a fixed
    * midpoint grid (deterministic; ties break to the smaller band
    * count). High thresholds want long bands (steep late curve), low
    * thresholds many short bands; the standard rule-of-thumb
    * `tau ≈ (1/b)^(1/r)` falls out of the optimum, spec-pinned.
    * Driver-side closed-form search over the divisors of `numHashes`
    * — call it once, feed the result to the banded-LSH operators.
    */
  def lshParamsFor(numHashes: Int, tau: Double, steps: Int = 1000): (Int, Int) = {
    require(numHashes >= 2, s"numHashes must be >= 2, got $numHashes")
    require(tau > 0 && tau < 1, s"tau must be in (0,1), got $tau")
    val candidates = (1 to numHashes)
      .filter(numHashes % _ == 0)
      .map(r => (numHashes / r, r)) // (bands, rowsPerBand)
    candidates.minBy { case (b, r) =>
      var err = 0.0
      var i = 0
      while (i < steps) {
        val s = (i + 0.5) / steps
        val p = 1.0 - math.pow(1.0 - math.pow(s, r), b)
        err += (if (s < tau) p else 1.0 - p)
        i += 1
      }
      err
    }
  }

  /** Exact cross-document shared-substring signal (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * exact-substring criterion, spelled as sliding char windows instead
    * of a suffix array): every length-`k` character window of every
    * document, hashed; a window occurring in ≥ 2 DISTINCT documents
    * marks a shared span. With `step = 1` detection is EXACT — two
    * documents share a substring of length ≥ k iff they share a
    * window — and per-doc `n_shared / n_windows` is the fraction of
    * the document sitting inside cross-doc duplicated spans, the
    * signal that catches boilerplate/licence blocks word-shingle
    * Jaccard dilutes away. `sampleMod > 1` trades volume for recall
    * via MOD-P WINDOW SELECTION (Broder's mod-p shingle sampling):
    * only windows whose content hash ≡ 0 (mod sampleMod) are kept.
    * Selection is CONTENT-keyed, never offset-keyed — both documents
    * keep exactly the same windows of a shared span, so there is no
    * alignment failure mode (an offset-stride sampler can phase-shift
    * two copies apart forever); a shared span of length L survives
    * with probability 1 − (1 − 1/m)^(L−k+1) and false positives stay
    * impossible. Complements [[dedupSpans]]: that operator REWRITES
    * the corpus on boundary-aligned token spans (the C4 recipe,
    * misses straddling repeats); this one DETECTS at any character
    * offset and leaves the rewrite policy to the caller.
    *
    * Shape at scale: the window table is the whole cost — |text| rows
    * per doc at sampleMod 1 (the same blowup that pushes the
    * reference method onto suffix arrays on dedicated hosts); mod-p
    * keeps 1/m of it with the guarantee above. One explode → one
    * hash-aggregate by window hash (map-side combined) → one
    * equi-join back on the hash; nothing carries text past the first
    * projection, windows travel as md5 hashes. Production screens at
    * m ≈ 8 and rescans only flagged docs exactly.
    */
  def sharedCharSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      sampleMod: Int = 1): DataFrame = {
    require(k >= 2, s"window length k must be >= 2, got $k")
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    // spread BEFORE the window explode: hashing |text| windows per doc
    // is the dominant pass and otherwise runs inside the scan stage —
    // one task on a single-row-group fixture file (r21 profile: 4.8 s
    // single-task md5 of 15M windows at sf0.1)
    val all = Par.spread(
        df.where(col(textCol).isNotNull && length(col(textCol)) >= k)
          .select(col(idCol), col(textCol)),
        col(idCol))
      .select(col(idCol), col(textCol).as("__t"),
        explode(sequence(lit(1), length(col(textCol)) - (k - 1))).as("__i"))
      .select(col(idCol),
        md5(col("__t").substr(col("__i"), lit(k))).as("__gh"))
    val grams = (if (sampleMod == 1) all
      else all.where(
        // content-keyed selection: 15 md5 hex chars (< 2^60) mod m —
        // the same arithmetic every md5-coordinate sampler here uses,
        // reproducible in plain SQL
        pmod(conv(substring(col("__gh"), 1, 15), 16, 10).cast("long"),
          lit(sampleMod.toLong)) === 0))
      .distinct()
    // grams is DISTINCT on (id, hash), so the doc frequency each row
    // needs is a plain COUNT OVER ITS HASH GROUP — a window, not a
    // separate aggregate joined back (r21 rewrite). The former
    // docFreq-agg + sort-merge join re-shuffled and re-sorted the
    // corpus-sized gram table a second time, and the join was the
    // engine's one corpus×corpus join — the r20 sweep found its
    // estimated-small broadcast OOMing the driver behind a checkpoint
    // boundary, and it had to be merge-pinned. The window spelling
    // removes the join class entirely: one exchange on the hash, one
    // sort, per-group buffers bounded by the hottest gram's doc count
    // (ExternalAppendOnlyUnsafeRowArray spills) — nothing left to
    // mis-broadcast, same honest sort at 100 TB, half the shuffled
    // bytes. Measured sf0.1: 5.3 → 2.3 s with identical output.
    grams
      .withColumn("__nd", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__gh"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("__nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac",
        round(col("n_shared").cast("double") / col("n_windows"), 6))
  }

  /** EXACT substring decontamination (the Lee et al. 2022 exact-substring
    * criterion, corpus-vs-benchmark form): flag every corpus document
    * sharing a VERBATIM character run of length ≥ `minLen` with any
    * benchmark document, with the true maximal run length — the
    * modality [[sharedCharSpans]]/span dedup approximate with n-gram
    * windows, made exact via anchored grams + match extension instead
    * of a suffix array.
    *
    * Exactness with a STRIDED corpus grid: anchor grams are `g =
    * ⌈(minLen+1)/2⌉` chars; the benchmark side enumerates EVERY
    * position, the corpus side only every `stride = minLen − g + 1`
    * positions. Any common run of length ≥ minLen spans ≥ stride
    * consecutive corpus gram positions, so it contains a corpus grid
    * anchor whose gram lies fully inside the run — detection has ZERO
    * false negatives at ≥ minLen (the pigeonhole that lets the corpus
    * side stay at |chars|/stride rows). Each anchor then EXTENDS to the
    * full run with two [[org.apache.spark.sql.graft.CommonPrefixChars]]
    * walks (right: suffixes from the anchor; left: reversed prefixes),
    * and the right walk REVERIFIES the anchor content (`run ≥ g`
    * filter), so a fingerprint collision cannot fabricate a match and
    * the reported `max_run_len` is the true maximum. Runs < minLen are
    * dropped whether or not the grid happened to sample them — the
    * output is therefore INVARIANT to the stride (spec-pinned against
    * stride 1), which is what makes the scale path and the oracle path
    * the same algorithm.
    *
    * Shape at scale: benchmark grams are |bench chars| rows (benchmarks
    * are MBs, not TBs); corpus grams |corpus chars|/stride rows carrying
    * a 16-byte md5 + id + offset, never text. One equi-join on the
    * fingerprint produces anchors; texts join back ONLY for anchor rows
    * (corpus equi-join on id, benchmark side broadcast), so full
    * documents move once per ANCHOR ROW of a flagged doc — never for
    * unflagged docs, but the text-join fan-out IS per anchor, not per
    * doc (ADVICE r20 corrected an earlier once-per-doc claim here).
    * Extension work is O(run length) per anchor with ≤ ⌈L/stride⌉ anchors per true
    * run. Caveat: a g-gram shared by K corpus docs and M benchmark
    * positions yields K·M anchors, each carrying a text copy through
    * the extension projection — pathological boilerplate should be
    * masked upstream (the [[minhashPairs]] maxDocFreq analogue).
    *
    * Output: `(idCol, n_bench_matches, max_run_len)` for contaminated
    * corpus docs only — all integer columns, naturally hashable.
    */
  def exactSubstringContamination(
      corpus: DataFrame,
      corpusId: String,
      corpusText: String,
      bench: DataFrame,
      benchId: String,
      benchText: String,
      minLen: Int,
      corpusStride: Int = 0): DataFrame = {
    require(minLen >= 4, s"minLen must be >= 4, got $minLen")
    val g = (minLen + 2) / 2 // ⌈(minLen+1)/2⌉
    val stride = if (corpusStride > 0) corpusStride else minLen - g + 1
    require(stride + g - 1 <= minLen,
      s"corpusStride $stride breaks the detection guarantee for minLen $minLen")

    def grams(df: DataFrame, id: String, text: String, step: Int, idAs: String,
        posAs: String) =
      df.where(col(text).isNotNull && length(col(text)) >= g)
        .select(col(id).as(idAs), col(text).as("__t"),
          explode(sequence(lit(1), length(col(text)) - (g - 1), lit(step)))
            .as(posAs))
        .select(col(idAs), col(posAs),
          md5(col("__t").substr(col(posAs), lit(g))).as("__gh"))

    // spread the corpus side: the strided gram walk (explode + md5) is
    // the corpus-sized pass and otherwise runs inside the scan stage —
    // single-task on a single-row-group fixture file (r21)
    val corpusSpread = Par.spread(
      corpus.select(col(corpusId), col(corpusText)), col(corpusId))
    val anchors = grams(corpusSpread, corpusId, corpusText, stride, "__cid", "__cp")
      .join(grams(bench, benchId, benchText, 1, "__bid", "__bp"), Seq("__gh"))
      .select(col("__cid"), col("__cp"), col("__bid"), col("__bp"))

    import org.apache.spark.sql.graft.CommonPrefixChars
    val ct = corpus.select(col(corpusId).as("__cid"), col(corpusText).as("__ct"))
    val bt = bench.select(col(benchId).as("__bid"), col(benchText).as("__bt"))
    val runs = anchors
      .join(ct, Seq("__cid"))
      .join(broadcast(bt), Seq("__bid"))
      .select(col("__cid"), col("__bid"),
        // right walk re-checks the anchor itself: no trust in the md5
        CommonPrefixChars.column(
          expr("substring(__ct, __cp)"), expr("substring(__bt, __bp)"))
          .as("__right"),
        CommonPrefixChars.column(
          reverse(expr("substring(__ct, 1, __cp - 1)")),
          reverse(expr("substring(__bt, 1, __bp - 1)"))).as("__left"))
      .where(col("__right") >= g &&
        col("__left") + col("__right") >= minLen)
    runs
      .groupBy(col("__cid"))
      .agg(countDistinct(col("__bid")).as("n_bench_matches"),
        max(col("__left") + col("__right")).as("max_run_len"))
      .select(col("__cid").as(corpusId), col("n_bench_matches"),
        col("max_run_len"))
  }

  def connectedComponents(nodes: DataFrame, pairs: DataFrame, maxIter: Int = 20): DataFrame =
    connectedComponentsFrom(nodes, pairs, init = None, maxIter)._1

  /** [[connectedComponents]] with a WARM START: `init` is a previous
    * labeling `(id, component)` carried into the first round, the
    * incremental-crawl shape (the [[graft.ext.LinkGraph]] warm-PageRank
    * analogue): when edges are only ever ADDED, components only MERGE,
    * so a carried label is a valid lower bound and the propagation
    * starts steps from the fixed point instead of from singletons.
    * Returns (labels, rounds) — the round count is the evidence the
    * warm start buys anything. Nodes absent from `init` (new pages)
    * start at their own id; carried labels whose node vanished fall
    * back to the node's own id (a DROPPED edge, by contrast, can SPLIT
    * a component and makes any warm start unsound — rebuild cold).
    */
  def connectedComponentsFrom(
      nodes: DataFrame,
      pairs: DataFrame,
      init: Option[DataFrame],
      maxIter: Int = 20): (DataFrame, Int) = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    var labels = (init match {
      case None => nodes.select(col("id"), col("id").as("component"))
      case Some(prev) =>
        // a warm label must itself be a LIVE node id (pointer jumping
        // self-joins the label table on labels) — guard both ways
        val live = nodes.select(col("id").as("__live"))
        nodes
          .join(prev.select(col("id"), col("component").as("__c0")), Seq("id"), "left")
          .join(live, col("__c0") === col("__live"), "left")
          .select(col("id"),
            when(col("__live").isNotNull, least(col("__c0"), col("id")))
              .otherwise(col("id")).as("component"))
    }).localCheckpoint()
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("component", "__nc"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("__nc")).as("__minNeighbor"))
      val propagated = labels
        .join(neighborMin, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("component"), coalesce(col("__minNeighbor"), col("component"))).as("component"))
      // pointer jumping: labels are node ids, so every label has a row
      // in the table; component(component) ≤ component (labels only
      // ever decrease), so the inner self-join halves label paths.
      val next = propagated.as("x")
        .join(propagated.select(col("id").as("__cid"), col("component").as("__cc")).as("y"),
          col("x.component") === col("y.__cid"))
        .select(col("x.id"), col("__cc").as("component"))
        .localCheckpoint()
      val changed = next.as("n")
        .join(labels.as("p"), Seq("id"))
        .where(col("n.component") =!= col("p.component"))
        .limit(1).count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — with " +
          "pointer jumping that needs a component of diameter ~2^" +
          s"$maxIter; raise maxIter only after checking the pair edges " +
          "for pathology")
    (labels, iter)
  }

  /** Representative selection for duplicate clusters: keep, per
    * component, the row maximizing `scoreCol` (ties broken by id) —
    * the keep-BEST dedup policy (longest version, highest quality
    * score) real pipelines use where keep-first is the cheap default.
    * `clusters` is any (id, component) labeling: the exact-Jaccard
    * [[connectedComponents]] output, or the MinHash cluster labels the
    * clean-corpus pipeline derives at scale — the policy is
    * independent of how the clusters were found.
    *
    * Shape at scale: an equi-join on id (both sides partitioned the
    * same way) and a rank window per component; components are
    * near-duplicate clusters, so partitions are tiny by construction
    * and rows beyond rank 1 drop at the window.
    */
  def keepBestPerCluster(
      df: DataFrame,
      idCol: String,
      clusters: DataFrame,
      scoreCol: String): DataFrame = {
    val labeled = df.join(clusters.withColumnRenamed("id", idCol), Seq(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    labeled.withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .drop("__rk")
  }

  /** Crawl-to-crawl corpus diff by content fingerprint: classify every
    * document id across two snapshots as `unchanged` (same id, same
    * normalized-content fingerprint), `changed` (same id, different
    * fingerprint), `added` (id only in the new snapshot), or `removed`
    * (id only in the old) — the incremental-ingestion primitive that
    * decides how much of a re-crawl actually needs re-processing
    * (re-embed / re-dedup / re-score only `changed` + `added`).
    *
    * Shape at scale: one full-outer equi-join on id (both sides hash
    * partition the same way) over (id, fingerprint) projections — the
    * text columns never shuffle, only 32-hex fingerprints.
    */
  def crawlDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    // Presence is tracked by explicit markers, NOT fingerprint
    // nullness: a null-text row (failed fetch) has a null fingerprint
    // but IS present in its snapshot — keying off the fingerprint
    // would misread it as added/removed. The null-safe <=> makes a
    // both-null re-crawl "unchanged" rather than spuriously "changed".
    val o = oldDf.select(col(idCol),
      TextAnalysis.fingerprintMd5(col(textCol)).as("__fp_old"),
      lit(true).as("__in_old"))
    val n = newDf.select(col(idCol),
      TextAnalysis.fingerprintMd5(col(textCol)).as("__fp_new"),
      lit(true).as("__in_new"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__in_old").isNull, "added")
          .when(col("__in_new").isNull, "removed")
          .when(col("__fp_old") <=> col("__fp_new"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Span-level (sub-document) exact dedup, the C4 recipe: slice every
    * document into non-overlapping `spanTokens`-token spans, keep only
    * the FIRST occurrence of each distinct span across the whole corpus
    * (first = lowest `(id, span index)`), and reassemble each document
    * from its surviving spans in order. Shared boilerplate (headers,
    * license blocks, navigation chrome) survives in exactly one
    * document and vanishes from every other; documents whose every
    * span is a repeat disappear entirely, as in C4.
    *
    * Output: one row per surviving document — `(id, kept_spans,
    * kept_tokens, new_text)`.
    *
    * Shape at scale: the winner per distinct span is a hash aggregation
    * `min(struct(id, idx))` keyed by span text — partial aggregation
    * collapses a span repeated millions of times to one candidate per
    * map task BEFORE the shuffle, so hot boilerplate spans cannot skew
    * a reducer (the window-function spelling of "first occurrence"
    * would sort every copy of the hottest span onto one task). The
    * join back is an equi-join on the same span key, and reassembly is
    * one aggregation keyed by doc id with an in-row `array_sort` — no
    * global sort anywhere.
    */
  def dedupSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int): DataFrame = {
    val spans = TextAnalysis.chunkByTokens(df, idCol, textCol, spanTokens)
    val winners = spans.groupBy(col("chunk_text"))
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("__w"))
    spans.join(winners, Seq("chunk_text"))
      .where(col(idCol) === col(s"__w.$idCol") &&
        col("chunk_idx") === col("__w.chunk_idx"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("kept_spans"),
        sum(col("chunk_tokens")).as("kept_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
            s => s.getField("chunk_text")),
          " ").as("new_text"))
  }
}
