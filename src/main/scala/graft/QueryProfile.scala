package graft

import org.apache.spark.scheduler._

/** Per-query time attribution: runs named queries (bench methodology —
  * `queryExecution.toRdd.count()`) with a listener that splits wall time
  * into scheduled-job time vs driver-only gaps (analysis/optimization/
  * codegen/collect-free planning), and reports per-stage task time,
  * shuffle bytes and spill, the jobs run while the registry entry builds
  * its frame (`buildJobs`: schema probes and eager helper jobs) apart
  * from those of the timed `toRdd.count()` (`execJobs`), plus the
  * codegen layer: janino compiles
  * (`CodegenMetrics` compilation count) and compile time
  * (`CodeGenerator.compileTime`) per rep. In local mode executor tasks
  * compile in the driver JVM, so both counters cover every compile the
  * query paid. The missing Spark-UI view for a headless
  * optimization loop: "is this query executor-bound or driver-bound,
  * and in which stage?"
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.QueryProfile q28_minhash_pairs q182_char_span_dedup"`
  */
object QueryProfile {
  private final class Probe extends SparkListener {
    case class StageAgg(var name: String, var tasks: Int = 0, var taskTimeMs: Long = 0,
        var shuffleReadB: Long = 0, var shuffleWriteB: Long = 0,
        var spillB: Long = 0, var wallMs: Long = 0, var inputB: Long = 0,
        var outRows: Long = 0)
    val stages = scala.collection.mutable.LinkedHashMap[Int, StageAgg]()
    var jobWallMs: Long = 0
    var nJobs: Int = 0
    private val jobStart = scala.collection.mutable.Map[Int, Long]()
    /** Submission times of the jobs started since [[reset]]. */
    val startTimes = scala.collection.mutable.ArrayBuffer[Long]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart(e.jobId) = e.time; startTimes += e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobStart.remove(e.jobId).foreach { t0 =>
        jobWallMs += (e.time - t0); nJobs += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val a = stages.getOrElseUpdate(si.stageId, StageAgg(si.name))
      a.name = si.name // onTaskEnd may have created the row with ""
      a.wallMs = (for {c <- si.completionTime; s <- si.submissionTime}
        yield c - s).getOrElse(0L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.getOrElseUpdate(e.stageId, StageAgg(""))
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.taskTimeMs += m.executorRunTime
        a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputB += m.inputMetrics.bytesRead
        a.outRows += m.outputMetrics.recordsWritten
      }
    }
    def reset(): Unit = {
      stages.clear(); jobWallMs = 0; nJobs = 0; jobStart.clear(); startTimes.clear()
    }
  }

  /** (janino compiles so far, their total compile time in ns), JVM-wide. */
  private def codegenCounters(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  def main(args: Array[String]): Unit = {
    System.setProperty("graft.lane", "bench")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "2").toInt.max(1)
    val names = args.filterNot(_.startsWith("--"))
    val spark = GraftSession.local(cpus, "graft-profile")
    spark.sparkContext.setLogLevel("ERROR")
    Bench.warmUp(spark, sfDir)
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    def mb(b: Long): String = f"${b / 1048576.0}%.1fMB"
    names.foreach { name =>
      (1 to reps).foreach { rep =>
        probe.reset()
        spark.sparkContext.setJobDescription(s"$name rep$rep")
        val (compiles0, compileNs0) = codegenCounters()
        var builtAtMs = 0L
        val (sec, rows) = Bench.timedRun(spark, name) {
          val df = SparkEntry.queries(name)(spark, sfDir)
          // a build job has finished before the entry returns; a job of
          // the timed count is submitted after it
          builtAtMs = System.currentTimeMillis()
          df
        }
        val wallMs = (sec * 1000).toLong
        Thread.sleep(300) // let straggling listener events drain
        val (compiles1, compileNs1) = codegenCounters()
        val buildJobs = probe.startTimes.count(_ < builtAtMs)
        val sumStageWall = probe.stages.values.map(_.wallMs).sum
        println(f"==== $name rep$rep wall=${wallMs / 1000.0}%.2fs rows=$rows " +
          f"jobs=${probe.nJobs} buildJobs=$buildJobs " +
          f"execJobs=${probe.startTimes.size - buildJobs} jobWall=${probe.jobWallMs / 1000.0}%.2fs " +
          f"driverGap=${(wallMs - probe.jobWallMs) / 1000.0}%.2fs " +
          f"stageWallSum=${sumStageWall / 1000.0}%.2fs " +
          f"compiles=${compiles1 - compiles0} " +
          f"compileMs=${(compileNs1 - compileNs0) / 1e6}%.1f")
        if (rep == reps) { // only print stage detail on the last (warm) rep
          probe.stages.toSeq.sortBy(-_._2.taskTimeMs).take(12).foreach {
            case (id, a) =>
              println(f"  stage$id%5d wall=${a.wallMs / 1000.0}%6.2fs " +
                f"taskSum=${a.taskTimeMs / 1000.0}%7.2fs n=${a.tasks}%4d " +
                f"in=${mb(a.inputB)}%9s sr=${mb(a.shuffleReadB)}%9s " +
                f"sw=${mb(a.shuffleWriteB)}%9s spill=${mb(a.spillB)}%9s  ${a.name.take(80)}")
          }
        }
      }
    }
    spark.stop()
  }
}
