package graft

import org.apache.spark.sql.functions._

import graft.ext.SimilaritySearch

/** Measured recall@10 of every ANN entry point against the exact
  * brute-force top-10 — the reproducible source of the BENCH_NOTES.md
  * ANN-recall table. Prints ONE JSON line.
  *
  *   sbt "runMain graft.AnnRecallAudit /root/testdata/sf0.1"
  */
object AnnRecallAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "graft-ann-recall")
    val e = graft.ingest.ParquetRead.read(spark, s"$sfDir/embeddings.parquet")
    val n = e.count()
    val q = e.where(col("vec_id") === 0L).select(col("embedding"))
      .head.getSeq[Float](0).map(_.toDouble)

    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = ids(SimilaritySearch.topKByCosine(
      e, "vec_id", "embedding", q, 10, Some(0L)))
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      (exact & ids(df)).size / 10.0

    val single = recall(SimilaritySearch.annTopKSingleProbe(
      e, "vec_id", "embedding", q, 10, numPlanes = 4, excludeId = Some(0L)))
    val default4 = recall(SimilaritySearch.annTopK(
      e, "vec_id", "embedding", q, 10, numPlanes = 4, excludeId = Some(0L)))
    val auto = recall(SimilaritySearch.annTopKAuto(
      e, "vec_id", "embedding", q, 10, excludeId = Some(0L)))
    val autoPlanes = SimilaritySearch.planesForCorpus(n, 10)
    // learned-IVF, both geometries (q34 path vs the spherical fix)
    val l2Cents = SimilaritySearch.learnCentroids(e, "embedding", k = 16)
    val ivfL2 = recall(SimilaritySearch.ivfTopK(
      e, "vec_id", "embedding", q, 10, l2Cents, nProbe = 4, excludeId = Some(0L)))
    val sphCents = SimilaritySearch.learnCentroids(e, "embedding", k = 16,
      spherical = true)
    val ivfSph = recall(SimilaritySearch.ivfTopK(
      e, "vec_id", "embedding", q, 10, sphCents, nProbe = 4,
      excludeId = Some(0L), spherical = true))
    println(
      s"""{"metric":"ann_recall_at_10","sf_dir":"$sfDir","n":$n,""" +
        s""""single_probe_4p":$single,"default_multi_probe_4p":$default4,""" +
        s""""auto_${autoPlanes}p":$auto,""" +
        s""""ivf_learned_l2":$ivfL2,"ivf_learned_spherical":$ivfSph}""")
    spark.stop()
  }
}
