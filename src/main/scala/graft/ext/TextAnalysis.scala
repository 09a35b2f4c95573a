package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: tokenization,
  * quality scoring, language ID, fingerprinting.
  *
  * Everything here is pure `org.apache.spark.sql.functions` column
  * algebra — codegen-friendly, no UDFs, no driver round-trips — so each
  * operator runs inside WholeStageCodegen per partition and scales
  * linearly with input splits. The reference has no text surface
  * (SURVEY.md §2.8); these are the north-star extensions.
  *
  * Null-text convention: a null document has no tokens, so the per-doc
  * scoring operators (repetition, cross-entropy, DSIR, OOV, …) omit it
  * from their output rather than emitting null scores — the same rule
  * the DuckDB twins apply (explode/unnest of null emits no rows), so
  * the convention is oracle-checked. Pipelines that must surface
  * unscorable docs should anti-join scores back against the corpus.
  */
object TextAnalysis {

  /** Lowercase, collapse non-alphanumerics to single spaces, trim. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Whitespace tokens of the raw text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token count: letter runs, single digits, and punctuation
    * marks each count as one token — a deterministic stand-in for a BPE
    * pre-tokenizer's piece count.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Ratio of punctuation/symbol characters (not letter/digit/space). */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[a-zA-Z0-9\\s]", "")).cast("double") /
      length(text).cast("double")

  /** Mean token length in characters.
    *
    * Total token chars == chars left after stripping all whitespace
    * (tokens are exactly the non-whitespace runs), so this is a single
    * codegen'd regexp pass — no higher-order `aggregate`, which Spark
    * interprets and re-inlines into every consumer (see the q21/q22
    * round-4 regression).
    */
  def avgTokenLen(text: Column): Column =
    length(regexp_replace(text, "\\s", "")).cast("double") /
      size(tokens(text)).cast("double")

  /** Fraction of tokens that are common English stopwords. Token-exact
    * membership via one codegen'd regexp pass (see [[LangId.tokenHits]]).
    */
  def stopwordRatio(text: Column, stopwords: Seq[String] = LangId.stopwords("en")): Column =
    LangId.tokenHits(lower(text), stopwords).cast("double") /
      size(tokens(text)).cast("double")

  /** Compression-ratio quality signal (Gopher-style): DEFLATE bytes /
    * UTF-8 bytes. Boilerplate and repetition compress far below normal
    * prose (~0.3–0.45 for English); random glyphs / base64 junk sit
    * near or above 1.0 — both tails are cut in a production quality
    * gate. NULL on empty text (no bytes → no ratio). Codegen
    * expression, per-row O(len), no UDF.
    */
  def compressionRatio(text: Column): Column =
    when(octet_length(text) > 0,
      org.apache.spark.sql.graft.DeflateSize(text).cast("double") /
        octet_length(text).cast("double"))

  /** Composite quality score in [0,1]: rewards stopword presence and
    * sane token lengths, penalizes punctuation soup and very short
    * docs. Deterministic closed form — a cheap first-pass filter ahead
    * of model-based scoring.
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val lenScore = least(nTok / lit(64.0), lit(1.0)) // saturates at 64 tokens
    val swScore = least(stopwordRatio(text) * lit(4.0), lit(1.0))
    val punctPenalty = greatest(lit(1.0) - punctRatio(text) * lit(4.0), lit(0.0))
    val wordShape = greatest(
      lit(1.0) - abs(avgTokenLen(text) - lit(5.0)) / lit(10.0), lit(0.0))
    round(lenScore * lit(0.3) + swScore * lit(0.3) +
      punctPenalty * lit(0.2) + wordShape * lit(0.2), 6)
  }

  /** Exact full-document fingerprint: md5 of the normalized text.
    * Stable across engines and runs; the key for exact dedup at scale
    * (group/shuffle on the 32-hex key instead of the full document).
    */
  def fingerprintMd5(text: Column): Column = md5(normalize(text))

  // -------------------------------------------------------------------
  // Hashed-n-gram LINEAR text classifier — the fastText-shape model
  // production quality gates actually run (a linear layer over a
  // hashed bag of word uni+bigrams), trained in one aggregation pass
  // as smoothed per-bucket log-odds (the classic NB-weights baseline)
  // and scored as one broadcast-join-and-sum pass. Upgrades
  // qualityScore's fixed heuristics to a model learned from labeled
  // data with the same engine-reproducible determinism.
  //
  // Features: every word unigram and bigram occurrence of the
  // normalized text (multiset; a sub-2-word document contributes its
  // whole normalized text as its single "bigram", the
  // Dedup.wordShinglesAll convention), hashed to one of 16^hexChars
  // buckets by md5-hex prefix — md5 so an external engine reproduces
  // the bucketing exactly. Weights:
  // w_b = ln((pos_b+1)/(P+B)) − ln((neg_b+1)/(N+B)) over gram
  // occurrences, bias ln((docs⁺+1)/(docs⁻+1)); score = bias + Σ w over
  // the document's gram occurrences, summed as decimal(38,12) so the
  // total is partition-order-independent (the KpiAggregation
  // .kpiColumns convention). Output: one row per non-null-text
  // document — n_grams, score (rounded 6), predicted (1 if score > 0).
  //
  // Shape at scale: training is explode → one hash aggregate whose
  // map-side partials collapse each task to ≤ B rows; the model (≤ B =
  // 4096 rows at the default) localCheckpoints and BROADCASTS, so
  // scoring is a scan-side join + per-doc sum — the corpus text never
  // shuffles, only (id, partial-sum) rows do. Two corpus passes total
  // (train, score), like every model-table operator here
  // (cross-entropy, DSIR). Train/apply are SEPARATE entry points
  // (hashedNgramModel / scoreHashedNgrams): the production flow fits
  // the gate once on a curated labeled set and applies it to every
  // incoming crawl; hashedNgramClassifier composes both for the
  // in-sample case.
  // -------------------------------------------------------------------

  /** A trained hashed-n-gram model: the per-bucket weight table
    * (`__b`, `__w` — ≤ 16^hexChars rows, broadcast at score time) and
    * a 1-row frame carrying the doc-count prior (`__bias`) and the
    * smoothing-consistent default weight for buckets unseen in
    * training (`__w0` = the weight a zero-count bucket would have
    * gotten — what a NEW corpus's novel vocabulary scores).
    */
  final case class HashedNgramModel(
      weights: DataFrame, prior: DataFrame, hexChars: Int)

  /** Gram-bucket occurrence stream (input columns + `__g`/`__b`)
    * shared by training and scoring.
    */
  private def hashedGramStream(
      d: DataFrame, textCol: String, hexChars: Int): DataFrame = {
    val all = concat(
      Dedup.wordShinglesAll(col(textCol), 1),
      Dedup.wordShinglesAll(col(textCol), 2))
    // empty grams drop AFTER the explode: a codegen WHERE beats an
    // interpreted filter() lambda inside the array. Spread first — the
    // gram explode + md5 bucketing is the heavy pass and otherwise
    // runs single-task inside a single-row-group scan stage (r21)
    Par.spread(d.where(col(textCol).isNotNull), col(textCol))
      .select(col("*"), explode(all).as("__g"))
      .where(col("__g") =!= "")
      .withColumn("__b", substring(md5(col("__g")), 1, hexChars))
  }

  /** Train the model on a labeled frame — one aggregation pass (see
    * [[hashedNgramClassifier]] for the math and the scale shape).
    * Train ONCE, then [[scoreHashedNgrams]] any number of corpora —
    * the production flow, where the gate is fit on a curated labeled
    * set and applied to each incoming crawl.
    */
  def hashedNgramModel(
      df: DataFrame,
      textCol: String,
      label: Column,
      hexChars: Int = 3): HashedNgramModel = {
    require(hexChars >= 1 && hexChars <= 8,
      s"hexChars must be in [1, 8], got $hexChars")
    val numBuckets = math.pow(16.0, hexChars).toLong
    val base = df.where(col(textCol).isNotNull)
      .select(coalesce(label, lit(false)).as("__y"), col(textCol).as("__t"))
    // one aggregation pass builds the counts; pinned because the
    // weight projection AND the totals both read it (the model-table
    // fan-out lesson — unpinned, the corpus explode re-runs per branch)
    val counts = hashedGramStream(base, "__t", hexChars)
      .groupBy(col("__b"))
      .agg(
        sum(when(col("__y"), 1L).otherwise(0L)).as("__pos"),
        sum(when(col("__y"), 0L).otherwise(1L)).as("__neg"))
      .localCheckpoint()
    val totals = broadcast(
      counts.agg(sum(col("__pos")).as("__P"), sum(col("__neg")).as("__N")))
    val weights = counts.crossJoin(totals)
      .select(col("__b"),
        (log((col("__pos") + 1).cast("double") / (col("__P") + numBuckets)) -
          log((col("__neg") + 1).cast("double") / (col("__N") + numBuckets)))
          .as("__w"))
    val prior = base.agg(
        log((sum(when(col("__y"), 1L).otherwise(0L)) + 1).cast("double") /
          (sum(when(col("__y"), 0L).otherwise(1L)) + 1)).as("__bias"))
      .crossJoin(totals)
      // the zero-count-bucket weight: ln(1/(P+B)) − ln(1/(N+B))
      .select(col("__bias"),
        (log(lit(1.0) / (col("__P") + numBuckets)) -
          log(lit(1.0) / (col("__N") + numBuckets))).as("__w0"))
      // pinned: this 1-row frame is otherwise a lazy FULL SCAN of the
      // training corpus re-run on every scoring action — "train once,
      // apply many" would re-train the prior per crawl (and silently
      // re-resolve changed training files under a frozen weight table)
      .localCheckpoint()
    HashedNgramModel(weights, prior, hexChars)
  }

  /** Score a corpus with a trained model: broadcast model join + one
    * per-doc decimal sum; buckets unseen in training take the model's
    * smoothing-consistent default weight (`__w0`), so novel vocabulary
    * degrades gracefully instead of being silently skipped.
    *
    * One row per non-null-text document, INCLUDING documents whose
    * normalized text is empty (no grams survive the tokenizer): those
    * score at the prior alone (`n_grams = 0`, `score = round(bias, 6)`)
    * — a downstream quality-gate join must see them as scored-at-bias,
    * not silently unscored.
    */
  def scoreHashedNgrams(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: HashedNgramModel): DataFrame = {
    // Gram-less docs stay in ONE pass (no self-join back onto the
    // corpus, which would shuffle doc ids twice): the unigram `split`
    // always yields >=1 element — possibly "" on empty normalized
    // text — so exploding WITHOUT the empty-gram WHERE guarantees
    // every non-null-text doc emits at least one row. Empty grams get
    // a null bucket (`__b`), match no weight, and contribute 0.
    val all = concat(
      Dedup.wordShinglesAll(col(textCol), 1),
      Dedup.wordShinglesAll(col(textCol), 2))
    Par.spread(df.where(col(textCol).isNotNull)
        .select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol), explode_outer(all).as("__g"))
      .withColumn("__b",
        when(col("__g").isNotNull && col("__g") =!= "",
          substring(md5(col("__g")), 1, model.hexChars)))
      .join(broadcast(model.weights), Seq("__b"), "left")
      // only __w0 rides the per-gram stream (the coalesce needs it);
      // __bias attaches AFTER the aggregate, on per-doc rows
      .crossJoin(broadcast(model.prior.select(col("__w0"))))
      .groupBy(col(idCol))
      .agg(count(col("__b")).as("n_grams"),
        sum(when(col("__b").isNotNull, coalesce(col("__w"), col("__w0")))
          .otherwise(lit(0.0)).cast("decimal(38,12)")).as("__s"))
      .crossJoin(broadcast(model.prior.select(col("__bias"))))
      .select(col(idCol), col("n_grams"),
        round(col("__s").cast("double") + col("__bias"), 6).as("score"))
      .withColumn("predicted", (col("score") > 0).cast("int"))
  }

  def hashedNgramClassifier(
      df: DataFrame,
      idCol: String,
      textCol: String,
      label: Column,
      hexChars: Int = 3): DataFrame =
    scoreHashedNgrams(df, idCol, textCol,
      hashedNgramModel(df, textCol, label, hexChars))

  /** Held-out quality of a binary classifier: the confusion matrix at
    * the model's own decision threshold plus threshold-free ranking
    * quality (ROC AUC via the Mann-Whitney mid-rank formula — exact
    * under ties, which matter because scores are rounded to 6). One
    * output row: `n`, `tp/fp/fn/tn`, `precision`, `recall`, `f1`,
    * `auc` (ratios rounded 6; null when undefined, e.g. precision with
    * zero positive predictions).
    *
    * `label` must be a boolean column (nulls read as false), `scoreCol`
    * the (rounded) score, `predictedCol` the 0/1 decision.
    *
    * AUC = (Σ_pos midrank − P(P+1)/2) / (P·N): scores collapse to a
    * DISTINCT-score table first (group sizes + positive counts), the
    * running offset comes from one window over that table, and the
    * rank-sum accumulates as DECIMAL(38,6) — midranks are exact
    * half-integers, so the sum is exact and partition-order-
    * independent (the kpiColumns convention). Intended for EVAL sets,
    * which are small by construction (the q87 asymmetry); the
    * distinct-score window is a deliberate single-pipeline
    * simplification there — corpus-scale score streams should bin
    * scores first, which this formula accepts unchanged.
    */
  def binaryClassificationMetrics(
      df: DataFrame,
      label: Column,
      scoreCol: String,
      predictedCol: String): DataFrame = {
    // null labels coalesce to false (the scored-at-bias convention):
    // left null, a null __y falls out of every when() predicate — the
    // row would count in n and the AUC's group sizes but in NONE of
    // tp/fp/fn/tn, silently skewing every ratio
    val base = df.select(coalesce(label.cast("boolean"), lit(false)).as("__y"),
      col(scoreCol).as("__s"), (col(predictedCol) === 1).as("__p"))
      // both the confusion matrix and the rank table read it — unpinned,
      // the upstream scoring pipeline re-runs per branch (the model-table
      // fan-out lesson)
      .localCheckpoint()
    val cm = base.agg(
      count(lit(1)).as("n"),
      sum(when(col("__y") && col("__p"), 1L).otherwise(0L)).as("tp"),
      sum(when(!col("__y") && col("__p"), 1L).otherwise(0L)).as("fp"),
      sum(when(col("__y") && !col("__p"), 1L).otherwise(0L)).as("fn"),
      sum(when(!col("__y") && !col("__p"), 1L).otherwise(0L)).as("tn"))
    val byScore = base.groupBy(col("__s")).agg(
      count(lit(1)).as("__ns"),
      sum(when(col("__y"), 1L).otherwise(0L)).as("__ps"))
    // Running offset WITHOUT an unpartitioned WindowExec (the global
    // cumulative window funnels all distinct scores to ONE task — fine
    // on a small eval set, a funnel on a binned corpus-scale stream):
    // Prefix's range-partitioned two-pass form; exclusive = incl − own.
    val ranks = Prefix
      .withRunningTotals(byScore, Seq(col("__s")),
        totals = Seq(col("__ns") -> "__cumIncl"))
      .withColumn("__cum", col("__cumIncl") - col("__ns"))
      .agg(
        sum((col("__ps") * (col("__cum") + (col("__ns") + 1) / lit(2.0)))
          .cast("decimal(38,6)")).as("__srp"),
        sum(col("__ps")).as("__P"),
        sum(col("__ns")).as("__N"))
    cm.crossJoin(ranks).select(
      col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
      round(when(col("tp") + col("fp") > 0,
        col("tp").cast("double") / (col("tp") + col("fp"))), 6).as("precision"),
      round(when(col("tp") + col("fn") > 0,
        col("tp").cast("double") / (col("tp") + col("fn"))), 6).as("recall"),
      round(when(col("tp") * 2 + col("fp") + col("fn") > 0,
        (col("tp") * 2).cast("double") /
          (col("tp") * 2 + col("fp") + col("fn"))), 6).as("f1"),
      round(when(col("__P") > 0 && col("__N") > col("__P"),
        (col("__srp").cast("double") -
          col("__P").cast("double") * (col("__P") + 1).cast("double") / 2.0) /
          (col("__P").cast("double") * (col("__N") - col("__P")).cast("double"))),
        6).as("auc"))
  }

  /** Precision/recall curve over every achievable decision threshold:
    * one row per DISTINCT score — predicting positive at `score >=
    * threshold` — with the cumulative confusion counts and ratios.
    * The operating-point picker for a learned gate ("what threshold
    * keeps 90% of good documents?"), [[binaryClassificationMetrics]]'
    * sweep-form complement, and fully SQL-expressible: counts come
    * from one cumulative window over the distinct-score table
    * (descending — higher thresholds predict fewer positives), exact
    * integers, ratios rounded 6.
    *
    * Shape at scale: like the AUC, the window runs over DISTINCT
    * scores of an EVAL set (small by construction); corpus-scale score
    * streams bin first and the cumulative form is unchanged.
    */
  def precisionRecallCurve(
      df: DataFrame,
      label: Column,
      scoreCol: String): DataFrame = {
    val base = df.select(coalesce(label.cast("boolean"), lit(false)).as("__y"),
      col(scoreCol).as("__s"))
    // pinned: the cumulative pass, the global-positives aggregate and
    // the range sampling all read the distinct-score table
    val byScore = base.groupBy(col("__s")).agg(
      count(lit(1)).as("__ns"),
      sum(when(col("__y"), 1L).otherwise(0L)).as("__ps"))
      .localCheckpoint()
    // Cumulative counts via the range-partitioned two-pass prefix sum
    // (no unpartitioned WindowExec funnel), and the global positive
    // count as a broadcast 1-row aggregate instead of an unbounded
    // whole-frame window — same exact integers.
    val totP = broadcast(byScore.agg(sum(col("__ps")).as("__P")))
    Prefix
      .withRunningTotals(byScore, Seq(col("__s").desc),
        totals = Seq(col("__ns") -> "__cn", col("__ps") -> "__cp"),
        pinInput = false)
      .crossJoin(totP)
      .select(
        col("__s").as("threshold"),
        col("__cn").as("n_predicted"),
        col("__cp").as("tp"),
        round(col("__cp").cast("double") / col("__cn"), 6).as("precision"),
        round(when(col("__P") > 0,
          col("__cp").cast("double") / col("__P")), 6).as("recall"))
  }

  /** PII redaction pass order: URL before email (URLs may carry
    * userinfo '@'), email before the number patterns (domains contain
    * digits), SSN before phone (both dashed digit runs, disjoint
    * groupings 3-2-4 vs 3-3-4). Each is (pattern, replacement).
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "https?://[^\\s]+" -> "<URL>",
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b" -> "<IP>",
    "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b" -> "<ID>",
    "\\+[0-9]{7,15}\\b|\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b" -> "<PHONE>")

  /** Redact common PII shapes (URLs, emails, IPv4s, SSN-style ids,
    * phone numbers) to typed placeholder tags — the cheap structural
    * scrub a training corpus gets before model-based PII detection.
    *
    * Chained codegen `regexp_replace` passes, one per PII class. The
    * patterns deliberately use no lookaround or backreferences, so the
    * SAME strings run under RE2 (DuckDB/Go/C++ pipelines) — the driver
    * oracle executes them verbatim.
    */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (pat, tag)) =>
      regexp_replace(c, pat, tag)
    }

  /** Top-k corpus vocabulary by token frequency over normalized text —
    * the "what is this corpus made of" diagnostic (it is how the
    * degenerate bench fixture was diagnosed in the first place).
    *
    * Shape at scale: explode (linear) → hash aggregate with map-side
    * partial counts (the shuffle carries one row per DISTINCT token per
    * task, not per occurrence) → `TakeOrderedAndProject` with the
    * deterministic (count desc, token asc) tie-break, so only k rows
    * reach the driver side of the sort.
    */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(split(normalize(col(textCol)), " ")).as("token"))
      .where(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)

  /** Per-document repetition / boilerplate signals — the standard
    * Gopher-style structural filters a corpus gets before training
    * (machine-generated and template text is dominated by repeated
    * lines and n-grams that perplexity-free heuristics catch cheaply):
    *
    *  - `dup_line_frac`: fraction of raw newline-split lines that are
    *    repeats of an earlier line (1 − distinct/total);
    *  - `dup_line_char_frac`: fraction of line characters living in
    *    lines that occur more than once (all occurrences counted);
    *  - `dup_word_frac`: fraction of normalized words that are repeats
    *    (1 − distinct/total);
    *  - `top_bigram_char_frac`: largest share of the normalized text's
    *    characters covered by a single word bigram — occurrences ×
    *    (bigram length incl. its inner space) / normalized length,
    *    maximized over bigrams. Deterministic (max over coverage, no
    *    most-frequent tie ambiguity); a document shorter than two
    *    words is its own single shingle, so the fraction reads ~1 —
    *    degenerate-short docs ARE maximally repetitive for filtering
    *    purposes.
    *
    * Shape at scale: two scalar codegen passes plus two explode →
    * hash-aggregate branches keyed on (doc, line) / (doc, bigram) then
    * doc — all map-side combined, joined back on the id. Every metric
    * is plain ANSI SQL over the same splits, so the whole operator is
    * DuckDB-oracle-checkable (q57).
    */
  def repetitionScores(df0: DataFrame, idCol: String, textCol: String): DataFrame = {
    // spread once at entry: all three branches are per-row compute
    // dense and otherwise run single-task over a single-row-group
    // fixture scan (r21 parallelism repair, [[Par.spread]])
    val df = Par.spread(df0.select(col(idCol), col(textCol)), col(idCol))
    val lines = split(col(textCol), "\n")
    val norm = normalize(col(textCol))
    val words = split(norm, " ")
    val scalars = df.select(col(idCol),
      round(lit(1.0) -
        size(array_distinct(lines)).cast("double") / size(lines), 6)
        .as("dup_line_frac"),
      round(lit(1.0) -
        size(array_distinct(words)).cast("double") / size(words), 6)
        .as("dup_word_frac"),
      length(norm).as("__nchars"))
    val lineChars = df
      .select(col(idCol), explode(lines).as("__l"))
      .groupBy(col(idCol), col("__l"))
      .agg(count(lit(1)).as("__cnt"), first(length(col("__l"))).as("__len"))
      .groupBy(col(idCol))
      .agg(
        sum(col("__len") * col("__cnt")).as("__total"),
        sum(when(col("__cnt") > 1, col("__len") * col("__cnt"))
          .otherwise(0L)).as("__dup"))
      .select(col(idCol),
        round(when(col("__total") > 0,
            col("__dup").cast("double") / col("__total"))
          .otherwise(lit(0.0)), 6).as("dup_line_char_frac"))
    val topBigram = df
      .select(col(idCol), explode(Dedup.wordShinglesAll(col(textCol), 2)).as("__g"))
      .groupBy(col(idCol), col("__g"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col(idCol))
      .agg(max(length(col("__g")) * col("__cnt")).as("__cov"))
    scalars
      .join(lineChars, Seq(idCol))
      .join(topBigram, Seq(idCol))
      .select(col(idCol), col("dup_line_frac"), col("dup_line_char_frac"),
        col("dup_word_frac"),
        round(when(col("__nchars") > 0,
            col("__cov").cast("double") / col("__nchars"))
          .otherwise(lit(0.0)), 6).as("top_bigram_char_frac"))
  }

  /** Per-document unigram cross-entropy against the corpus's own
    * unigram model — the oracle-able proxy for LM-perplexity quality
    * filtering (CCNet-style): documents whose tokens are
    * corpus-improbable score high (gibberish, other-language, OCR
    * noise), template/boilerplate text scores low. `xent_nats` =
    * −(1/n) Σ_tokens ln p(w) with p(w) = corpus count / corpus total;
    * no smoothing needed — every scored token is in the model by
    * construction.
    *
    * Shape at scale: one explode, a vocabulary-sized model aggregation
    * (count by term combines map-side down to ≤ |vocab| rows per task
    * — a tiny shuffle), a broadcast join of the token stream against
    * the model, and ONE aggregation by document whose map-side combine
    * collapses each task's tokens to its resident docs. The obvious
    * alternative — pre-aggregating (doc, term) term frequencies —
    * shuffles a near-distinct (doc,term) stream the size of the corpus
    * and measured 6.9× wall at 4× docs; this form measured ~linear
    * (BENCH_NOTES.md, "Degenerate vs realistic corpus").
    */
  def unigramCrossEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = df.select(col(idCol),
      explode(split(normalize(col(textCol)), " ")).as("__t"))
    // Pin the vocab-sized model before fanning out (the
    // [[crossDocDupFraction]] lesson) and derive the total from it —
    // an unpinned fan-out re-explodes the corpus once per branch
    // (model, total, scoring = 3 scans; measured 2× the whole query
    // at 200k docs before this fix; BENCH_NOTES.md, "Degenerate vs
    // realistic corpus")
    val model = terms.groupBy(col("__t")).agg(count(lit(1)).as("__cnt"))
      .localCheckpoint()
    val total = model.agg(sum(col("__cnt")).as("__N"))
    terms.join(model, Seq("__t")).crossJoin(total)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        round((sum(log(col("__cnt") / col("__N"))) * lit(-1.0))
          / count(lit(1)), 6).as("xent_nats"))
  }

  /** Bigram conditional cross-entropy of each document against the
    * corpus's own bigram model — the next step up from
    * [[unigramCrossEntropy]] as an LM-perplexity proxy:
    * `p(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1})` (MLE; every
    * scored bigram exists in the model because the model is built from
    * the same corpus), scored as `-mean ln p` over the document's
    * transitions. Repetitive/templated text has predictable
    * transitions → low entropy; token salad scores high even when its
    * UNIGRAMS are common, which is exactly the signal the unigram
    * score misses. Documents with fewer than two tokens have no
    * transitions and are absent from the output.
    *
    * Shape at scale: the bigram stream is pinned with localCheckpoint
    * (it feeds both the model aggregation and the scoring join — the
    * [[crossDocDupFraction]] lesson), the bigram and prefix-unigram
    * models are hash aggregations orders of magnitude smaller than the
    * stream (Zipf), and scoring is two equi-joins AQE sizes from
    * runtime stats. No window, no sort.
    */
  def bigramCrossEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docs = df
      .select(col(idCol).as("__id"), split(normalize(col(textCol)), " ").as("__w"))
      .where(size(col("__w")) >= 2)
    // HOF-free bigram stream (the round-4 lesson): posexplode each
    // token as `prev`, pair it with its 1-based successor via
    // element_at — Generate + codegen projection, no lambda anywhere
    val bi = docs
      .select(col("__id"), col("__w"), posexplode(col("__w")).as(Seq("__p", "prev")))
      .where(col("__p") < size(col("__w")) - 1)
      .select(col("__id"), col("prev"),
        element_at(col("__w"), col("__p") + 2).as("cur"))
      .localCheckpoint()
    val bigramCounts = bi.groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("__cb"))
    val unigramCounts = docs.select(explode(col("__w")).as("prev"))
      .groupBy(col("prev")).agg(count(lit(1)).as("__cu"))
    bi.join(bigramCounts, Seq("prev", "cur"))
      .join(unigramCounts, Seq("prev"))
      .groupBy(col("__id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(log(col("__cb").cast("double") / col("__cu"))) * lit(-1.0), 6)
          .as("bixent_nats"))
      .withColumnRenamed("__id", idCol)
  }

  /** Interpolated Kneser–Ney bigram cross-entropy — the SMOOTHED
    * upgrade of [[bigramCrossEntropy]]'s MLE model, and the
    * construction production LM-based quality filters (CCNet's KenLM
    * gate) actually use. Absolute discounting takes a fixed `discount`
    * D off every observed bigram count and redistributes that mass
    * through the CONTINUATION distribution — how many distinct
    * contexts a word follows, not how often it occurs — so boilerplate
    * that always trails the same one word stops looking "probable in
    * general":
    *
    *   p(w|u) = max(c(u,w) − D, 0) / c(u·)
    *          + (D · N₁₊(u·) / c(u·)) · N₁₊(·w) / N₁₊(··)
    *
    * where `c(u·)` is the count of bigrams starting with u, `N₁₊(u·)`
    * the distinct words following u, `N₁₊(·w)` the distinct contexts
    * preceding w, and `N₁₊(··)` the total distinct bigram types.
    * Scored as `-mean ln p` over the document's transitions (plus
    * `kn_ppl = exp` of it); the model is the corpus's own, so every
    * scored bigram is observed and the interpolation term only
    * redistributes mass (no zero-probability events, no <unk>
    * machinery). Documents with fewer than two tokens have no
    * transitions and are absent from the output.
    *
    * Shape at scale: identical to [[bigramCrossEntropy]] — the bigram
    * stream is pinned once, and ALL FOUR model tables (bigram counts,
    * context totals + follower fan-out, continuation fan-in, the 1-row
    * type total) derive from the pinned bigram-TYPE table, which is
    * orders of magnitude smaller than the stream (Zipf), so smoothing
    * costs two extra vocabulary-sized hash aggregations and one extra
    * equi-join over the MLE form — nothing that rescans the corpus. No
    * window, no sort, no HOF.
    */
  def knBigramXent(
      df: DataFrame,
      idCol: String,
      textCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1,
      s"discount must be in (0,1), got $discount")
    val docs = df
      .select(col(idCol).as("__id"), split(normalize(col(textCol)), " ").as("__w"))
      .where(size(col("__w")) >= 2)
    val bi = docs
      .select(col("__id"), col("__w"), posexplode(col("__w")).as(Seq("__p", "prev")))
      .where(col("__p") < size(col("__w")) - 1)
      .select(col("__id"), col("prev"),
        element_at(col("__w"), col("__p") + 2).as("cur"))
      .localCheckpoint()
    // the bigram-TYPE table feeds three derived model tables + the
    // scoring join — pin it so the stream aggregates exactly once
    val bc = bi.groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("__cb"))
      .localCheckpoint()
    // per-context: token total c(u·) and follower fan-out N₁₊(u·)
    // (bc is distinct per (prev, cur), so count(*) IS the fan-out)
    val ctx = bc.groupBy(col("prev"))
      .agg(sum(col("__cb")).as("__ctot"), count(lit(1)).as("__nfollow"))
    // continuation fan-in N₁₊(·w) and the 1-row type total N₁₊(··)
    val cont = bc.groupBy(col("cur")).agg(count(lit(1)).as("__nprec"))
    val types = broadcast(bc.agg(count(lit(1)).as("__T")))
    val p =
      (greatest(col("__cb").cast("double") - lit(discount), lit(0.0))
        / col("__ctot")) +
        (lit(discount) * col("__nfollow") / col("__ctot")) *
          (col("__nprec").cast("double") / col("__T"))
    val xent = avg(log(p)) * lit(-1.0)
    bi.join(bc, Seq("prev", "cur"))
      .join(ctx, Seq("prev"))
      .join(cont, Seq("cur"))
      .crossJoin(types)
      .groupBy(col("__id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(xent, 6).as("kn_xent_nats"),
        round(exp(xent), 6).as("kn_ppl"))
      .withColumnRenamed("__id", idCol)
  }

  /** Collocation extraction — adjacent token pairs ranked by pointwise
    * mutual information, `PMI = ln( (c(ab)/B) / ((c(a)/U)(c(b)/U)) )`
    * over the corpus's bigram (B) and token (U) totals: pairs that
    * co-occur far above chance ("machine learning", "new york") float
    * to the top; frequent-but-independent pairs sink. `minCount`
    * suppresses the classic PMI pathology (a pair seen twice in a tiny
    * corpus scoring arbitrarily high). The PMI is rounded to 6 BEFORE
    * the ranking so the (pmi desc, pair) order — and therefore the
    * top-k cut — is reproducible across engines whose `ln` differs in
    * the last ulp.
    *
    * Shape at scale: the [[bigramCrossEntropy]] stream shapes — pinned
    * bigram stream, vocabulary-sized count tables, two equi-joins, one
    * TakeOrderedAndProject for the top-k. No window, no HOF.
    */
  def collocations(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minCount: Long = 5,
      k: Int = 50): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(k >= 1, s"k must be >= 1, got $k")
    val docs = df
      .select(col(idCol).as("__id"), split(normalize(col(textCol)), " ").as("__w"))
      .where(size(col("__w")) >= 2)
    val bi = docs
      .select(posexplode(col("__w")).as(Seq("__p", "prev")), col("__w"))
      .where(col("__p") < size(col("__w")) - 1)
      .select(col("prev"), element_at(col("__w"), col("__p") + 2).as("cur"))
      .localCheckpoint()
    val bc = bi.groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minCount)
    val uc = docs.select(explode(col("__w")).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__cu"))
      .localCheckpoint() // joined twice (prev and cur marginals)
    val totals = broadcast(bi.agg(count(lit(1)).as("__B"))
      .crossJoin(uc.agg(sum(col("__cu")).as("__U"))))
    bc
      .join(uc.select(col("__t").as("prev"), col("__cu").as("__cp")), Seq("prev"))
      .join(uc.select(col("__t").as("cur"), col("__cu").as("__cc")), Seq("cur"))
      .crossJoin(totals)
      .select(col("prev"), col("cur"), col("n_pair"),
        round(log((col("n_pair").cast("double") / col("__B")) /
          ((col("__cp").cast("double") / col("__U")) *
            (col("__cc").cast("double") / col("__U")))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("prev"), col("cur"))
      .limit(k)
  }

  /** Cross-document duplicate n-gram fraction — the corpus-level
    * repetition signal (RefinedWeb/Dolma-style): for each document, the
    * fraction of its n-gram OCCURRENCES whose gram also appears in at
    * least one OTHER document. Complements [[repetitionScores]], which
    * measures repetition WITHIN a document: a boilerplate footer
    * repeated across the corpus scores high here even if each document
    * contains it once. A gram repeated only inside one document does
    * NOT count (its distinct-doc count stays 1) — within-doc and
    * cross-doc repetition stay separable signals.
    *
    * Documents shorter than `n` words contribute their whole normalized
    * text as a single gram (same rule as the decontamination and
    * Jaccard operators), so exact short-document duplicates are caught.
    *
    * Shape at scale: one scan/explode of the shingle stream, a
    * (gram, doc) pre-aggregation whose map-side combine collapses
    * within-doc repeats, a per-gram doc count, and an equi-join of the
    * two on gram. The join form is deliberate: a `count over
    * (partition by gram)` window would funnel each hot gram (web
    * boilerplate is EXACTLY a hot gram) into one partition with no
    * remedy, while the join broadcasts the per-gram counts at moderate
    * vocabulary sizes and degrades to a sort-merge join whose hot
    * partitions AQE's skew-join CAN split. The (gram, doc) stream is
    * pinned with localCheckpoint before fanning into both join sides —
    * a self-join over a lazy frame re-runs the regexp normalize +
    * shingle pass per side (measured 25% of the query at sf0.1), and
    * the shuffle materializes the stream anyway, so pinning trades no
    * extra I/O class for the second scan (the [[graft.ext.Dedup]]
    * inverted-index lesson). No all-pairs anything; the widest stream
    * is the near-distinct (gram, doc) set.
    */
  def crossDocDupFraction(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    // spread BEFORE the shingle explode: the regexp normalize + shingle
    // pass otherwise runs single-task inside a single-row-group scan
    // stage (r21 parallelism repair, see [[Par.spread]])
    val grams = Par.spread(df.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol),
        explode(Dedup.wordShinglesAll(col(textCol), n)).as("__g"))
    val perDocGram = grams.groupBy(col("__g"), col(idCol))
      .agg(count(lit(1)).as("__occ"))
    // perDocGram is unique on (gram, doc), so each row's cross-doc
    // count is a COUNT OVER ITS GRAM GROUP — a window, not a separate
    // aggregate joined back (r21 rewrite, the Dedup.sharedCharSpans
    // treatment): the former ndocs-agg + merge-pinned join re-shuffled
    // and re-sorted the corpus-sized gram table a second time and was
    // a member of the checkpoint-masked mis-broadcast class the r20
    // sweep caught. The window spelling has no join to mis-plan, one
    // exchange on the gram, and per-group buffers bounded by the
    // hottest gram's doc count (spilling). The checkpoint goes too:
    // the stream now has exactly one consumer.
    perDocGram
      .withColumn("__nd", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__g"))))
      .groupBy(col(idCol))
      .agg(
        sum(col("__occ")).as("n_grams"),
        round(sum(when(col("__nd") >= 2, col("__occ")).otherwise(0L)).cast("double")
          / sum(col("__occ")).cast("double"), 6).as("cross_dup_frac"))
  }

  /** Overlapping token-window chunking — the context-window prep step
    * (RAG indexing, long-doc training): each document becomes
    * ceil-many chunks of at most `chunkTokens` whitespace tokens,
    * consecutive chunks sharing `overlapTokens`. Chunk starts advance
    * by `chunkTokens - overlapTokens`; every token position is covered
    * and the final chunk may be short (kept — truncating it would drop
    * tail tokens). One row in, `O(n_tokens / step)` rows out, all
    * computed inside a single codegen projection (split once, slices
    * of the bound array) — no shuffle at all until something downstream
    * asks for one.
    */
  def chunkByTokens(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int,
      overlapTokens: Int = 0): DataFrame = {
    require(chunkTokens > 0 && overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"need 0 <= overlap < chunk, got chunk=$chunkTokens overlap=$overlapTokens")
    val step = chunkTokens - overlapTokens
    df.select(col(idCol), tokens(col(textCol)).as("__w"))
      .select(col(idCol), col("__w"),
        posexplode(sequence(lit(0), greatest(size(col("__w")) - 1, lit(0)), lit(step))))
      .select(
        col(idCol),
        col("pos").cast("long").as("chunk_idx"),
        least(lit(chunkTokens), size(col("__w")) - col("col")).cast("long")
          .as("chunk_tokens"),
        array_join(slice(col("__w"), col("col") + 1, lit(chunkTokens)), " ")
          .as("chunk_text"))
  }

  /** Per-group "dataset card" rollup — the summary a corpus shard gets
    * before training: document and token counts, mean quality score,
    * and the count of English-predicted documents (composition). All
    * counts exact integers; the mean is the only float.
    */
  def corpusStats(df: DataFrame, groupCol: String, textCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokenCount(col(textCol)).cast("long")).as("n_tokens"),
        round(avg(qualityScore(col(textCol))), 6).as("avg_quality"),
        sum(when(LangId.langId(col(textCol)) === "en", 1L).otherwise(0L))
          .as("n_pred_en"))

  /** Mixture-diversity dashboard over a grouping column (source,
    * domain, language): per-group doc/token mass, the group's exact
    * parts-per-million share of total tokens, and the corpus-level
    * Simpson effective-source count `(Σt)² / Σt²` — the "how many
    * sources is this mixture really drawing from" health stat a
    * training-mix curator watches (equal k-way mix → k; one dominant
    * source → ~1).
    *
    * Determinism contract: shares are exact integer division
    * (`t·1e6 DIV Σt` — no floats anywhere near the hash path), and the
    * Simpson ratio's two operands are exact integer sums cast to
    * double (correctly rounded on both engines) with one
    * correctly-rounded divide before the single micro-unit
    * quantization gate — engine-exact end to end. The share numerator
    * and the squared term are widened to decimal(38,0) BEFORE the
    * multiply (the uniMax precedent; DuckDB twin uses HUGEINT), so
    * neither `t·1e6` nor `Σt²` can wrap — the exact lane is bounded
    * only by the corpus token total Σt fitting BIGINT (~9.2e18
    * tokens ≈ tens of PB of text).
    *
    * Shape at scale: one hash aggregation over the corpus; the corpus
    * totals ride a broadcast 1-row aggregate over the pinned
    * |groups|-row table (a handful of sources) — the q186 shape.
    */
  def sourceDiversity(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    // corpus totals as a broadcast 1-row aggregate over the pinned
    // |groups|-row table — the former empty-partition window funneled
    // the frame to one task (and warned); same exact integer/decimal
    // sums, one fewer sort
    val grouped = df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokenCount(col(textCol)).cast("long")).as("n_tokens"))
      .localCheckpoint() // totals + output both read it
    val tot = broadcast(grouped.agg(
      sum(col("n_tokens")).as("__tot"),
      sum(col("n_tokens").cast("decimal(19,0)") * col("n_tokens")).as("__sq")))
    grouped.crossJoin(tot)
      .select(
        col(groupCol), col("n_docs"), col("n_tokens"),
        expr("(CAST(n_tokens AS DECIMAL(38,0)) * 1000000) DIV __tot")
          .as("share_ppm"),
        floor(col("__tot").cast("double") * col("__tot").cast("double")
            / col("__sq").cast("double") * lit(1000000.0d) + lit(0.5d))
          .as("eff_sources_u"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much more likely its tokens are under a TARGET
    * unigram model than under the RAW-corpus model,
    * `w(d) = mean over tokens of ln(p_target(t) / p_raw(t))`,
    * with add-one smoothing over the joint vocabulary. Positive means
    * "looks like the target distribution" — the selection coordinate
    * for importance-resampling a 100 TB crawl toward a curated corpus.
    * `isTarget` is any boolean column over the input row (a metadata
    * label, a quality gate, membership in a curated source).
    *
    * Output: `(id, n_tokens, dsir_logratio)` per document with at
    * least one normalized token; `dsir_logratio` rounded to 6.
    *
    * Shape at scale: ONE hash aggregation keyed by token builds both
    * models at once (the target counts ride along as a conditional
    * sum), the totals derive from that vocab-sized table rather than a
    * second corpus pass, and scoring is an equi-join on token —
    * vocabulary is orders of magnitude smaller than the token stream,
    * so AQE sizes that join from runtime stats. The count table is
    * pinned with localCheckpoint before fanning into the totals and
    * model branches (it is vocab-sized — cheap to hold — and an unpinned
    * fan-out re-aggregates the full token stream per branch, the
    * [[crossDocDupFraction]] lesson), leaving exactly two corpus
    * explodes: model build and scoring. No sort, no window.
    */
  def dsirWeights(
      df: DataFrame,
      idCol: String,
      textCol: String,
      isTarget: Column): DataFrame = {
    val toks = df
      .select(col(idCol).as("__id"), isTarget.as("__t"),
        split(normalize(col(textCol)), " ").as("__w"))
      .select(col("__id"), col("__t"), explode(col("__w")).as("token"))
      .where(col("token") =!= "")
    val counts = toks.groupBy(col("token")).agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("__ct"),
      count(lit(1)).as("__cr"))
      .localCheckpoint()
    val totals = counts.agg(
      sum(col("__ct")).as("__nt"), sum(col("__cr")).as("__nr"),
      count(lit(1)).as("__v"))
    val model = counts.crossJoin(broadcast(totals)).select(
      col("token"),
      ((col("__ct") + 1).cast("double") / (col("__nt") + col("__v"))).as("__pt"),
      ((col("__cr") + 1).cast("double") / (col("__nr") + col("__v"))).as("__pr"))
    toks.join(model, Seq("token"))
      .groupBy(col("__id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(log(col("__pt") / col("__pr"))), 6).as("dsir_logratio"))
      .withColumnRenamed("__id", idCol)
  }

  /** Hostnames of every `http(s)://` URL in the text, lowercased, in
    * order of appearance — the C4/RefinedWeb provenance coordinate
    * (per-domain filtering, blocklists, composition stats all key on
    * this). Pure codegen regexp over the lowercased text (scheme and
    * host are case-insensitive per RFC 3986); the host is dot-separated
    * alphanumeric/hyphen labels, so a port (`:8080`), trailing sentence
    * punctuation (`…example.net.` / `…net,`), path, or query never
    * leak into the extracted domain — and userinfo (`user@host`) is
    * skipped, not mistaken for the host — so a blocklist match cannot
    * be dodged by writing the URL at the end of a sentence or behind
    * credentials. The userinfo skip stops at `/?#` so an `@` inside a
    * query string cannot re-attribute the host, and labels accept any
    * letter/digit plus `_-`, so IDN and underscore hosts survive
    * intact. (Per RFC 3986 userinfo ends at the FIRST `@`; a literal
    * second `@` is invalid input and stays in the host position.)
    */
  def urlHostnames(text: Column): Column =
    regexp_extract_all(lower(text),
      lit("https?://(?:[^/?#\\s@]*@)?" +
        "([\\p{L}\\p{N}_-]+(?:\\.[\\p{L}\\p{N}_-]+)*)"), lit(1))

  /** Smoothed TF-IDF weights per (doc, term) over normalized tokens:
    * `tf` = term count within the doc, `idf = ln((N+1)/(df+1)) + 1`
    * (sklearn-style smoothing), `weight = tf · idf`.
    *
    * Shape at scale: one explode (linear), two hash aggregations
    * (doc,term) and (term), and a join on `term` — document frequency is
    * a per-term table orders of magnitude smaller than the corpus, so
    * Catalyst/AQE broadcasts it. The corpus size N rides along as a
    * broadcast 1-row cross join, keeping the whole plan lazy.
    */
  def tfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = df.select(col(idCol).as("doc_id"),
      explode(split(normalize(col(textCol)), " ")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("__df"))
    val n = df.agg(count(lit(1)).as("__N"))
    tf.join(docFreq, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"),
        (col("tf").cast("double") *
          (log((col("__N") + 1).cast("double") / (col("__df") + 1).cast("double"))
            + 1.0)).as("weight"))
  }

  /** BM25 relevance scores of every document against a bag-of-words
    * query — the retrieval scorer behind benchmark decontamination
    * lookups and nearest-duplicate search when embeddings are absent
    * (the reference has no search surface; SURVEY.md §2.8 extension).
    *
    * Okapi/Lucene formulation over [[normalize]]d tokens:
    * `idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))`,
    * `contrib(t,d) = idf · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))`,
    * `score(d) = Σ contrib` over DISTINCT query terms present in `d`
    * (a term repeated in the query does not double-count — the
    * bag-of-words query is a set here, the common engine choice).
    * `dl` counts normalized tokens; `avgdl` averages over every
    * non-null document (empty ⇒ 0). Null documents are omitted per
    * the object's null-text convention.
    *
    * Output: `(idCol, n_matched, score)` — one row per document
    * matching ≥1 query term.
    *
    * Shape at scale: the query-term `isin` filter lands BEFORE the
    * (doc,term) aggregation, so the posting-list agg touches only
    * matching tokens, not the corpus vocabulary; `dl` is a scalar
    * codegen projection (no second explode); per-term df and the
    * (N, avgdl) scalar row are broadcast. One explode + one filtered
    * hash agg + two broadcast joins — no corpus-sized shuffle beyond
    * the (doc, query-term) agg, which is ≤ |query| rows per doc.
    */
  def bm25(
      df: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val terms = queryTerms.distinct
    val norm = normalize(col(textCol))
    val docs = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        when(norm === "", 0).otherwise(size(split(norm, " "))).cast("double").as("__dl"),
        norm.as("__norm"))
    val stats = docs.agg(count(lit(1)).as("__N"), avg(col("__dl")).as("__avgdl"))
    val qtf = docs
      .select(col("__id"), col("__dl"), explode(split(col("__norm"), " ")).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy(col("__id"), col("__dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("__tf"))
    val docFreq = qtf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("__df"))
    qtf.join(broadcast(docFreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .groupBy(col("__id"))
      .agg(
        count(lit(1)).as("n_matched"),
        sum(
          log(lit(1.0) + (col("__N") - col("__df") + 0.5) / (col("__df") + 0.5)) *
            (col("__tf") * (k1 + 1.0)) /
            (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))))
          .as("score"))
      .withColumnRenamed("__id", idCol)
  }

  /** Out-of-vocabulary rate per document: the fraction of a document's
    * token occurrences falling outside the corpus's top-`vocabSize`
    * tokens — the tokenizer-coverage / domain-shift signal (a doc full
    * of rare tokens is jargon, another language, or noise; a corpus
    * whose OOV mass grows after a crawl refresh has drifted).
    * Vocabulary rank ties break by token for determinism.
    *
    * Shape at scale: one explode builds the vocabulary (hash agg +
    * `TakeOrderedAndProject` — the top-k never sorts the full vocab),
    * and scoring is a broadcast left join of the token stream against
    * the vocabSize-row list. Two corpus explodes total, like every
    * model-then-score operator here.
    */
  def oovRate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      vocabSize: Int): DataFrame = {
    val toks = df
      .select(col(idCol).as("__id"),
        explode(split(normalize(col(textCol)), " ")).as("token"))
      .where(col("token") =!= "")
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("token")).limit(vocabSize)
      .select(col("token"), lit(1).as("__in"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("__id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(when(col("__in").isNull, 1.0).otherwise(0.0)), 6).as("oov_rate"))
      .withColumnRenamed("__id", idCol)
  }

  /** Zipf slope of the corpus vocabulary — the corpus-health dashboard
    * stat: ordinary-least-squares slope of ln(frequency) against
    * ln(rank) over all distinct tokens (natural text sits near −1;
    * templated/synthetic corpora flatten, boilerplate-heavy ones
    * steepen). Computed from the explicit OLS sums so an external
    * engine reproduces the arithmetic exactly (built-in `regr_slope`
    * implementations differ in summation form across engines).
    *
    * Output: one row `(n_vocab, zipf_slope)`.
    *
    * Shape at scale: the rank window runs over the VOCABULARY (orders
    * of magnitude below the corpus; Zipf is the reason), and the OLS
    * reduction is a single aggregation of that table.
    */
  def zipfSlope(df: DataFrame, textCol: String): DataFrame = {
    val counts = df
      .select(explode(split(normalize(col(textCol)), " ")).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("__cnt"))
    // Global rank via the range-partitioned two-pass prefix count: an
    // unpartitioned rank window would funnel the WHOLE VOCABULARY to
    // one task — vocab is orders of magnitude below the corpus, but at
    // 100 TB it is still far too large for a single partition.
    val xy = Prefix
      .withRunningTotals(counts,
        Seq(col("__cnt").desc, col("token")), rowNumberCol = Some("__rk"))
      .select(log(col("__rk").cast("double")).as("__x"),
        log(col("__cnt").cast("double")).as("__y"))
    xy.agg(
        count(lit(1)).as("n_vocab"),
        round(
          (count(lit(1)) * sum(col("__x") * col("__y")) - sum(col("__x")) * sum(col("__y"))) /
            (count(lit(1)) * sum(col("__x") * col("__x")) - sum(col("__x")) * sum(col("__x"))),
          6).as("zipf_slope"))
  }

  /** Winnowing-style shingle fingerprint: the k smallest 64-bit hashes
    * of the document's character n-grams, as a sorted array. Robust to
    * local edits (an edit perturbs only the shingles that overlap it) —
    * the building block for near-dup detection without MinHash's fixed
    * signature width.
    */
  def shingleFingerprint(text: Column, n: Int = 8, k: Int = 16): Column = {
    val norm = normalize(text)
    val idx = sequence(lit(1), greatest(length(norm) - lit(n - 1), lit(1)))
    val hashes = transform(idx, i => xxhash64(norm.substr(i, lit(n))))
    slice(array_sort(array_distinct(hashes)), 1, k)
  }
  /** Gopher-rule document quality flags (Rae et al. 2021, MassiveText
    * pipeline, Appendix A1.1) — the published heuristic gate run before
    * any model-based filtering, each rule as its OWN boolean so the
    * dashboard shows which rule drops a document:
    *
    *  - word count within `[minWords, maxWords]` (paper: 50..100,000)
    *  - mean word length within [3, 10] characters
    *  - symbol-to-word ratio ≤ 0.1 (hash or ellipsis)
    *  - ≥ 80% of words contain at least one alphabetic character
    *  - at least TWO of the paper's required English words present
    *    (the/be/to/of/and/that/have/with — distinct presence, counted
    *    on the normalized token set so punctuation can't hide a hit)
    *  - ≤ 30% of lines end with an ellipsis
    *  - ≤ 90% of lines start with a bullet glyph
    *
    * `kept` = all seven. Every pattern is RE2-safe (the q50/q94
    * convention), so an oracle engine runs the identical spellings.
    * Shape at scale: one codegen projection per row — regexp passes
    * only, no HOF, no shuffle.
    */
  def gopherQualityFlags(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Int = 50,
      maxWords: Int = 100000): DataFrame = {
    val txt = col(textCol)
    val words = tokenCount(txt).cast("double")
    val mwl = avgTokenLen(txt)
    val symbols = regexp_count(txt, lit("#|\\.\\.\\.|…")).cast("double")
    val alphaWords = size(regexp_extract_all(txt,
      lit("[^\\s]*[a-zA-Z][^\\s]*"), lit(0))).cast("double")
    val normToks = split(normalize(txt), " ")
    val reqHits = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      .map(w => array_contains(normToks, w).cast("int")).reduce(_ + _)
    val lines = size(split(txt, "\n")).cast("double")
    val ellipsisLines =
      regexp_count(txt, lit("(\\.\\.\\.|…)[ \\t]*(\\n|$)")).cast("double")
    val bulletLines =
      regexp_count(txt, lit("(^|\\n)[ \\t]*[•‣▪\\-\\*]")).cast("double")
    val flags = Seq(
      (words >= minWords && words <= maxWords).as("word_count_ok"),
      (mwl >= 3.0 && mwl <= 10.0).as("mean_word_len_ok"),
      (symbols / words <= 0.1).as("symbol_ratio_ok"),
      (alphaWords / words >= 0.8).as("alpha_word_ok"),
      (reqHits >= 2).as("stopwords_ok"),
      (ellipsisLines / lines <= 0.3).as("ellipsis_ok"),
      (bulletLines / lines <= 0.9).as("bullet_ok"))
    df.where(txt.isNotNull)
      .select(col(idCol) +: words.cast("long").as("n_words") +: flags: _*)
      .withColumn("kept",
        col("word_count_ok") && col("mean_word_len_ok") &&
          col("symbol_ratio_ok") && col("alpha_word_ok") &&
          col("stopwords_ok") && col("ellipsis_ok") && col("bullet_ok"))
  }
}

/** Heuristic language identification via stopword-hit scoring.
  *
  * For each candidate language, score = number of tokens that are in
  * that language's small stopword list; predict the argmax with a fixed
  * tie-break order, or "und" if nothing matches. Deterministic, pure
  * column algebra (higher-order `filter` over the token array) — no
  * model, no UDF; the shape a real n-gram classifier would take with a
  * bigger table.
  */
object LangId {

  /** Candidate order is also the tie-break order. */
  val langs: Seq[String] = Seq("en", "es", "de", "fr", "zh")

  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "se", "del", "las"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu", "den", "mit"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有", "和", "人", "这", "不")
  )

  /** Count of whitespace-delimited tokens equal to any of `words`, as a
    * single codegen'd `regexp_count` pass. Equivalent to filtering
    * `split(trim(text), "\\s+")` by membership — the lookarounds assert
    * start-of-input/whitespace on both sides without consuming it, so
    * adjacent stopwords ("a of") both count — but stays inside
    * WholeStageCodegen instead of the interpreted higher-order `filter`
    * that caused the round-4 q21/q22 regression (expression re-inlined
    * ~12x per row by projection collapse).
    */
  def tokenHits(text: Column, words: Seq[String]): Column = {
    val pat = "(?<=^|\\s)(" +
      words.map(java.util.regex.Pattern.quote).mkString("|") + ")(?=\\s|$)"
    regexp_count(text, lit(pat))
  }

  /** Per-language stopword hit count. Whitespace-tokenized languages
    * count tokens equal to a stopword; zh is unsegmented (a "token" is
    * the whole clause), so it counts DISTINCT stopword characters
    * contained in the text instead.
    */
  def score(text: Column, lang: String): Column =
    if (lang == "zh") {
      stopwords("zh").map(w => contains(text, lit(w)).cast("int")).reduce(_ + _)
    } else {
      tokenHits(lower(text), stopwords(lang))
    }

  /** Predicted language code, or "und" when no stopword hits at all.
    *
    * Each language score is a single codegen'd expression; the argmax is
    * `array_position(scores, array_max(scores))` — first index wins ties,
    * preserving the `langs` declaration order as tie-break. Codegen CSE
    * shares the score array across the three references, so every score
    * is evaluated exactly once per row.
    */
  def langId(text: Column): Column = {
    // All five scores in ONE text walk — the fused native expression
    // (org.apache.spark.sql.graft.LangScores); [[score]] remains the
    // per-language semantic source of truth, and LangScoresSpec pins
    // the equivalence so the two spellings cannot drift
    val scoreArr = org.apache.spark.sql.graft.LangScores.column(text)
    val best = array_max(scoreArr)
    val pick = element_at(array(langs.map(lit): _*),
      array_position(scoreArr, best).cast("int"))
    when(text.isNull || best === 0, lit("und")).otherwise(pick)
  }
}
