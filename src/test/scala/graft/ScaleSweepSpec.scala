package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.ext.TextAnalysis

/** The scale-sweep blow-up's workload-character contract. These are the
  * properties the fitted exponents REST on — if they break, the sweep
  * silently measures data semantics instead of engine scaling (the
  * live-found `_rK` suffix bug: normalize() split the suffix back off
  * and cross-replica docs became near-identical again, inflating q28's
  * pair count 2.5× beyond linear).
  */
class ScaleSweepSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private def writeSrc(): String = {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-sweep-spec").toString
    // doc 3 carries PUNCTUATED tokens: a \\S+-keyed replica suffix
    // lands after the punctuation ("world.zq1x"), normalize() splits it
    // back off, and the disjointness assertion below catches the
    // restored shared token (the ADVICE-r20 fixture gap)
    val punct = "hello, world. mid-dash (bracketed) tail? yes!"
    Seq(
      (0L, "alpha beta gamma delta epsilon zeta", "en", "web", 35L),
      (1L, "alpha beta gamma delta epsilon zeta", "en", "web", 35L), // exact dup of 0
      (2L, "one two three four five six seven", "en", "news", 33L),
      (3L, punct, "en", "web", punct.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$base/documents.parquet")
    Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 2.0f), 0),
      (1L, Seq(0.0f, 3.0f, 4.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$base/embeddings.parquet")
    Seq(
      (0L, java.sql.Timestamp.valueOf("2024-01-15 00:00:00"), 7L, "click", 1.5, "{}"),
      (1L, java.sql.Timestamp.valueOf("2024-01-15 00:01:00"), 7L, "view", 2.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$base/events.parquet")
    base
  }

  test("blow-up: counts scale, ids disjoint, replicas share ZERO normalized vocabulary") {
    import spark.implicits._
    val src = writeSrc()
    val dest = Files.createTempDirectory("graft-sweep-spec-out").toString + "/x3"
    ScaleSweep.blowUp(spark, src, 3, dest)

    val docs = spark.read.parquet(s"$dest/documents.parquet")
    docs.count() shouldBe 12
    docs.select(countDistinct(col("doc_id"))).head.getLong(0) shouldBe 12

    // normalized token sets (what every shingle/minhash operator sees)
    // are DISJOINT across replicas — the property the `_rK` suffix bug
    // violated: normalize() must not strip the replica tag back off
    val toks = docs.select(col("doc_id"),
        explode(split(TextAnalysis.normalize(col("text")), " ")).as("tok"))
      .withColumn("replica", expr("doc_id DIV 537600"))
    val perReplicaVocab = toks.groupBy(col("tok"))
      .agg(countDistinct(col("replica")).as("nrep"))
    perReplicaVocab.agg(max(col("nrep"))).head.getLong(0) shouldBe 1L

    // within-replica structure is preserved verbatim: the exact-dup
    // pair (0,1) exists in every replica with identical texts
    val dupPairs = docs.as("a").join(docs.as("b"),
        col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
      .count()
    dupPairs shouldBe 3 // one per replica, never across

    // n_chars stays consistent with the perturbed text
    docs.where(org.apache.spark.sql.functions.length(col("text")).cast("long")
        =!= col("n_chars"))
      .count() shouldBe 0L

    // embeddings: rotation preserves norms and within-replica distances
    val emb = spark.read.parquet(s"$dest/embeddings.parquet")
    emb.count() shouldBe 6
    val norms = emb.select(col("vec_id"),
        aggregate(col("embedding"), lit(0.0d),
          (acc, x) => acc + x * x).as("n2"))
      .as[(Long, Double)].collect().toMap
    norms(0L) shouldBe norms(537600L)
    norms(0L) shouldBe norms(2L * 537600L)
    norms(1L) shouldBe norms(537601L)

    // events: ids and users offset per replica, timestamps shared (K×
    // keyed state in the SAME time window — the streaming scale shape)
    val ev = spark.read.parquet(s"$dest/events.parquet")
    ev.count() shouldBe 6
    ev.select(countDistinct(col("user_id"))).head.getLong(0) shouldBe 3
    ev.select(countDistinct(col("ts"))).head.getLong(0) shouldBe 2
  }

  test("blow-up clears a stale destination without following its symlinks") {
    val src = writeSrc()
    val outside = Files.createTempDirectory("graft-sweep-spec-outside")
    val kept = Files.writeString(outside.resolve("f.txt"), "keep")
    // no _SWEEP_COMPLETE marker: blowUp deletes the dir before writing
    val dest = Files.createTempDirectory("graft-sweep-spec-out").resolve("x2")
    Files.createDirectories(dest)
    Files.createSymbolicLink(dest.resolve("link"), outside)
    ScaleSweep.blowUp(spark, src, 2, dest.toString)
    Files.exists(kept) shouldBe true
    Files.exists(dest.resolve("link"), java.nio.file.LinkOption.NOFOLLOW_LINKS) shouldBe false
    spark.read.parquet(s"$dest/documents.parquet").count() shouldBe 8
  }
}
