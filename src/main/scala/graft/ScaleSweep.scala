package graft

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-proof sweep (BENCH_NOTES §scale-sweep): runs the heavy-tail
  * bench queries UNMODIFIED — same `SparkEntry.queries` closures the
  * driver times — on synthetic K× blow-ups of an sf dir's three base
  * tables, and prints one JSON line per (query, multiplier) so a fitted
  * scaling exponent can be computed (log-log least squares over the
  * multipliers). This is the measured form of every PLANS.md "bounded
  * state / O(n·bands) / never all-pairs" argument: a plan that is
  * secretly quadratic shows an exponent ≫ 1 at 10× long before it
  * shows anything at sf0.1.
  *
  * The blow-up preserves WORKLOAD CHARACTER, not just row count — naive
  * duplication would turn every document into a 10-way near-dup
  * cluster and grow the true-pair space ~quadratically BY DATA
  * SEMANTICS, drowning the engine signal the sweep is after:
  *
  *  - documents: replica k > 0 suffixes every alphanumeric run with
  *    `zq{k}x` (ATTACHED to the run itself, so the engine's
  *    `normalize` — which collapses non-alphanumerics to spaces —
  *    cannot split the suffix back off at a punctuation boundary and
  *    silently restore cross-replica identity; a \S+-keyed suffix had
  *    exactly that failure mode on punctuated text, ADVICE r20), so
  *    replicas share ZERO vocabulary —
  *    cross-replica Jaccard is exactly 0 at any shingle size and no
  *    LSH/banding threshold can admit a cross-replica pair, while the
  *    WITHIN-replica dup structure (planted near-dups, shared spans) is
  *    preserved verbatim. True pairs therefore scale exactly ×K.
  *    Vocabulary scales ×K too — pessimistic vs a real crawl's Zipf
  *    growth, so token-keyed aggregations are measured under the
  *    harder-than-real cardinality.
  *  - embeddings: replica k rotates each vector by k positions —
  *    norms and all within-replica pairwise distances are preserved
  *    (every vector rotated equally), cross-replica geometry is
  *    decorrelated, so IVF cells stay balanced instead of collapsing
  *    onto K-fold duplicate points.
  *  - events: id/user offsets only — K× trips in the SAME time window,
  *    which is precisely the streaming scale question (K× keyed state
  *    live at the same watermark horizon).
  *
  * Id offsets use a stride divisible by every modulus the target
  * queries key on (%2 index/query split, %50 bench set, %20/%25 graph
  * keys), so each replica contributes the same split PROPORTIONS as
  * the original and per-replica workload shape is invariant.
  *
  * Generated dirs are cached under /tmp keyed by (source, multiplier)
  * with a completion marker, so re-sweeps and single-query reruns skip
  * generation.
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScaleSweep 1 3 10"
  *   SPARK_GRAFT_SWEEP_ONLY=q28_minhash_pairs sbt "runMain graft.ScaleSweep 10"
  */
object ScaleSweep {

  /** The r19 heavy tail: top-10 driver-bench queries by wall time. */
  val DefaultTargets: Seq[String] = Seq(
    "q28_minhash_pairs",
    "q92_minhash_index_admission",
    "q162_stream_stream_join",
    "q127_pq_residual_recall",
    "q182_char_span_dedup",
    "q131_prefix_jaccard_realistic",
    "q87_fuzzy_decontamination",
    "q133_hits",
    "q113_pq_encode",
    "q185_streaming_sessions")

  /** Divisible by 2, 50, 20, 25, 3, 5, 7, 256 — every modulus a target
    * query keys on — and above every base-table id range (events max
    * 99,999) while staying SMALL: fixture arithmetic multiplies ids by
    * hash-mixing constants up to ~2.7e9 (the q109/q137 link fixtures),
    * so offset ids must stay ≪ 2^33 or ANSI long-multiply overflows —
    * an early 5.376e11 stride did exactly that at 10×.
    */
  private val Stride = 537600L

  private[graft] def blowUp(
      spark: SparkSession, srcDir: String, mult: Int, destDir: String): Unit = {
    val marker = new java.io.File(s"$destDir/_SWEEP_COMPLETE")
    if (marker.isFile) return
    val dest = new java.io.File(destDir)
    // refuse to recursively delete anything that is not a sweep cache
    // dir — a mis-passed path (e.g. the SOURCE dir) must never be
    // destroyed (ADVICE r20)
    require(dest.getPath.contains("graft-sweep-"),
      s"blowUp destDir must be a graft-sweep-* cache dir, got $destDir")
    // fullyDelete removes a symlink inside the dir, never its target
    FileUtil.fullyDelete(dest); dest.mkdirs()

    val docs = graft.ingest.ParquetRead.read(spark, s"$srcDir/documents.parquet")
    (0 until mult).map { k =>
      if (k == 0) docs
      else {
        // tag each ALPHANUMERIC run (not each \S+ run): a token with
        // trailing punctuation ("world.") would otherwise become
        // "world.zq1x", and normalize() — which collapses punctuation
        // to spaces — would detach the tag and silently restore the
        // shared base token across replicas (ADVICE r20)
        val text = regexp_replace(col("text"), "([A-Za-z0-9]+)", s"$$1zq${k}x")
        docs.select(
          (col("doc_id") + lit(k * Stride)).as("doc_id"),
          text.as("text"),
          col("lang"), col("source"),
          length(text).cast("long").as("n_chars"))
      }
    }.reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$destDir/documents.parquet")

    val emb = graft.ingest.ParquetRead.read(spark, s"$srcDir/embeddings.parquet")
    (0 until mult).map { k =>
      if (k == 0) emb
      else emb.select(
        (col("vec_id") + lit(k * Stride)).as("vec_id"),
        expr(s"transform(embedding, (x, i) -> embedding[(i + $k) % size(embedding)])")
          .as("embedding"),
        col("label"))
    }.reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$destDir/embeddings.parquet")

    val ev = graft.ingest.ParquetRead.read(spark, s"$srcDir/events.parquet")
    (0 until mult).map { k =>
      if (k == 0) ev
      else ev.select(
        (col("event_id") + lit(k * Stride)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(k * Stride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$destDir/events.parquet")

    marker.createNewFile(): Unit
  }

  def main(args: Array[String]): Unit = {
    // bench lane: xxhash64 signature family + in-memory fixtures — the
    // sweep times the production path, exactly like Bench
    System.setProperty("graft.lane", "bench")
    val mults = (if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(1, 3, 10))
      .distinct.sorted
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_SWEEP_REPS", "2").toInt.max(1)
    val targets = sys.env.get("SPARK_GRAFT_SWEEP_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(DefaultTargets)
    val spark = GraftSession.local(cpus, "graft-scale-sweep")

    val srcTag = new java.io.File(srcDir).getName
    for (m <- mults) {
      val dir =
        if (m == 1) srcDir
        else {
          val d = s"${sys.props("java.io.tmpdir")}/graft-sweep-$srcTag-x$m-v4"
          blowUp(spark, srcDir, m, d)
          d
        }
      for (name <- targets) {
        val runs = (1 to reps).map(_ =>
          Bench.timedRun(spark, name)(SparkEntry.queries(name)(spark, dir)))
        val sec = runs.map(_._1).min
        println(s"""{"metric":"scale_sweep","query":${JsonUtil.quote(name)},""" +
          s""""mult":$m,"sec":${Bench.fmt3(sec)},""" +
          s""""rows":${runs.head._2},""" +
          s""""runs":[${runs.map(r => Bench.fmt3(r._1)).mkString(",")}],""" +
          s""""cpus":$cpus,"src":${JsonUtil.quote(srcDir)}}""")
      }
    }
    spark.stop()
  }
}
