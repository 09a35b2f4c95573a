package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions.{broadcast, col}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{JobCount, SparkTestBase}

class ParSpec extends AnyFunSuite with Matchers with SparkTestBase {

  test("spread over a broadcast join runs no job during the call") {
    val dir = Files.createTempDirectory("graft-par-spread")
    spark.range(0, 1000).selectExpr("id", "id % 7 AS k")
      .write.parquet(dir.resolve("big").toString)
    spark.range(0, 7).selectExpr("id AS k", "id * 10 AS v")
      .write.parquet(dir.resolve("small").toString)
    val joined = spark.read.parquet(dir.resolve("big").toString)
      .join(broadcast(spark.read.parquet(dir.resolve("small").toString)), "k")
    joined.queryExecution.sparkPlan.exists(_.isInstanceOf[BroadcastHashJoinExec]) shouldBe true
    val (spread, jobs) = JobCount.during(spark)(Par.spread(joined, col("id")))
    jobs shouldBe empty
    spread.rdd.getNumPartitions shouldBe spark.conf.get("spark.sql.shuffle.partitions").toInt
    spread.count() shouldBe 1000L
  }
}
