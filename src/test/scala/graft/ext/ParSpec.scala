package graft.ext

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions.{broadcast, col}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestBase

class ParSpec extends AnyFunSuite with Matchers with SparkTestBase {

  /** `body`'s result and the descriptions of the jobs that start while
    * it runs. A sentinel job after `body` marks the end: the listener bus
    * delivers events in order, so once the sentinel is seen every
    * earlier job is too.
    */
  private def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.setJobDescription("par-spec-sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains("par-spec-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      (result, seen.asScala.toSeq.takeWhile(_ != "par-spec-sentinel"))
    } finally sc.removeSparkListener(listener)
  }

  test("spread over a broadcast join runs no job during the call") {
    val dir = Files.createTempDirectory("graft-par-spread")
    spark.range(0, 1000).selectExpr("id", "id % 7 AS k")
      .write.parquet(dir.resolve("big").toString)
    spark.range(0, 7).selectExpr("id AS k", "id * 10 AS v")
      .write.parquet(dir.resolve("small").toString)
    val joined = spark.read.parquet(dir.resolve("big").toString)
      .join(broadcast(spark.read.parquet(dir.resolve("small").toString)), "k")
    joined.queryExecution.sparkPlan.exists(_.isInstanceOf[BroadcastHashJoinExec]) shouldBe true
    val (spread, jobs) = jobsDuring(Par.spread(joined, col("id")))
    jobs shouldBe empty
    spread.rdd.getNumPartitions shouldBe spark.conf.get("spark.sql.shuffle.partitions").toInt
    spread.count() shouldBe 1000L
  }
}
