package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The timing path Bench, ScaleSweep and QueryProfile share. */
class BenchSpec extends AnyFunSuite with Matchers with SparkTestBase {

  test("timedRun counts every row of the frame and releases every pinned RDD") {
    val sc = spark.sparkContext
    val (sec, rows) = Bench.timedRun(spark, "pinned-range") {
      val pinned = spark.range(0, 1000, 1, 4).toDF().localCheckpoint()
      sc.getPersistentRDDs should not be empty
      pinned.where("id % 3 = 0")
    }
    rows shouldBe 334L
    sec should be >= 0.0
    sc.getPersistentRDDs shouldBe empty
  }

  test("fmt3 prints three decimals with a point separator in any locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try Bench.fmt3(1.23456) shouldBe "1.235"
    finally java.util.Locale.setDefault(saved)
  }
}
