package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")
}

trait SparkTestBase {
  lazy val spark: SparkSession = TestSpark.spark
}

/** Counts the Spark jobs a block of driver code starts. */
object JobCount {
  private val Sentinel = "job-count-sentinel"

  /** `body`'s result and the descriptions of the jobs that start while
    * it runs. A sentinel job after `body` marks the end: the listener bus
    * delivers events in order, so once the sentinel is seen every
    * earlier job is too.
    */
  def during[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
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
      sc.setJobDescription(Sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains(Sentinel) && System.nanoTime() < deadline)
        Thread.sleep(10)
      (result, seen.asScala.toSeq.takeWhile(_ != Sentinel))
    } finally sc.removeSparkListener(listener)
  }
}
