package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, JsonUtil}

/** The benchmark's JVM side. `run.py` generates the inputs, then starts
  * this main once per run with a properties file naming the lanes to
  * run, their inputs and the run's time budget. The main sets the
  * session up once, cold (`setup_s`), runs each lane's untimed warm-up
  * rounds (the first of them is the round the checker verifies), then
  * timed rounds of every lane, interleaved, until the budget is spent.
  * It writes one JSON result file: end-to-end costs, per-layer counters
  * when tracing, and the program outputs that `check.py` verifies
  * against its own computation.
  *
  *   java -cp <classpath> graft.perfbench.Main <run.properties>
  */
object Main {

  final class Conf(p: java.util.Properties) {
    def str(k: String): String = Option(p.getProperty(k)).getOrElse(sys.error(s"missing $k"))
    def int(k: String): Int = str(k).toInt
    def dbl(k: String): Double = str(k).toDouble
    def list(k: String): Seq[String] = str(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Shared state of one run: the live session, the trace switch and,
    * when tracing, the listeners the lanes read.
    */
  final class Ctx(val conf: Conf, val trace: Boolean, val work: String) {
    var spark: SparkSession = _
    val sparkStats = new SparkStats
    val planStats = new PlanStats
    val streamStats = new StreamStats

    def drain(): Unit = BenchBus.drain(spark.sparkContext)

    /** Counters of the trace listeners, bus drained first. */
    def counters(): Map[String, Double] = {
      if (!trace) Map.empty
      else {
        drain()
        sparkStats.snapshot(System.currentTimeMillis()) ++ streamStats.snapshot() ++ Map(
          "plan_ms" -> planStats.planMs.get.toDouble,
          "write_ms" -> planStats.writeMs.get.toDouble)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties
    val in = Files.newBufferedReader(Paths.get(args(0)), StandardCharsets.UTF_8)
    try props.load(in) finally in.close()
    val conf = new Conf(props)
    val ctx = new Ctx(conf, conf.int("trace") == 1, conf.str("work"))
    val lanes: Seq[Lane] = conf.list("lanes").map {
      case "stream" => new StreamLane(ctx)
      case "nightly" => new NightlyLane(ctx)
      case "registry" => new RegistryLane(ctx)
      case other => sys.error(s"unknown lane $other")
    }
    // Registry queries that persist fixtures use their in-memory frames
    // on this lane, as under the engine's own bench main.
    System.setProperty("graft.lane", "bench")

    val (setupS, sessionMs) = setUp(ctx, lanes)
    val out = new StringBuilder
    out ++= "{\"setup_s\":" + num(setupS)
    out ++= ",\"session_start_ms\":" + num(sessionMs)
    System.err.println(s"[perfbench] setup $setupS s, session $sessionMs ms")
    // warm-up: each lane's untimed rounds, the first of them checked;
    // then rounds of every lane in turn, timed, until the budget is spent
    lanes.foreach(l => (0 until conf.int("warm_rounds")).foreach(_ => l.round(timed = false)))
    val budgetNs = (conf.dbl("budget_s") * 1e9).toLong
    val t0 = System.nanoTime()
    do lanes.foreach(_.round(timed = true))
    while (System.nanoTime() - t0 < budgetNs)
    val heapMb = retainedHeapMb()
    val lanesJson = lanes.map(l => JsonUtil.quote(l.name) + ":" + l.result())
    out ++= ",\"lanes\":{" + lanesJson.mkString(",") + "}"
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    out ++= ",\"jvm_gc_ms\":" + num(gcMs.toDouble)
    out ++= ",\"heap_retained_mb\":" + num(heapMb)
    ctx.spark.stop()
    out ++= ",\"peak_rss_mb\":" + num(peakRssMb()) + "}"
    Files.writeString(Paths.get(conf.str("out")), out.toString)
  }

  /** The cold set-up: from the launcher's start stamp (JVM start and
    * class loading) through the first `GraftSession.local` and every
    * lane's input preparation. Returns (seconds, session-start ms); the
    * session stays up for the lanes.
    */
  private def setUp(ctx: Ctx, lanes: Seq[Lane]): (Double, Double) = {
    val t0 = ctx.conf.str("launch_ms").toLong * 1000000L - wallToNanoOffset()
    val s0 = System.nanoTime()
    ctx.spark = GraftSession.local(ctx.conf.int("cores"), "perfbench")
    val sessionMs = (System.nanoTime() - s0) / 1e6
    if (ctx.trace) {
      ctx.spark.sparkContext.addSparkListener(ctx.sparkStats)
      ctx.spark.listenerManager.register(ctx.planStats)
      ctx.spark.streams.addListener(ctx.streamStats)
    }
    lanes.foreach(_.prepare())
    ((System.nanoTime() - t0) / 1e9, sessionMs)
  }

  /** Offset that turns a wall-clock epoch instant into `System.nanoTime`
    * scale, so the launcher's start stamp can open the first set-up.
    */
  private def wallToNanoOffset(): Long =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** Heap in use right after a full collection at the end of the run,
    * outside every measured call: what the program keeps alive. The
    * first collection hands unreachable broadcasts, shuffles and RDDs to
    * Spark's `ContextCleaner`, which drops their blocks on its own thread;
    * the second, after a pause, frees those blocks, so the sample does
    * not depend on how far the cleaner got.
    */
  private def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The JVM's high-water resident set (VmHWM), in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => JsonUtil.quote(k) + ":" + v }.mkString("{", ",", "}")

  def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  def writeLines(path: String, lines: Iterable[String]): Unit =
    Files.write(Paths.get(path), lines.asJava, StandardCharsets.UTF_8): Unit
}

/** One lane of the pipeline. `prepare` runs inside the set-up. The lane
  * first runs `warm_rounds` untimed rounds: the JIT compiles its code
  * paths, and the first round, when the lane is checked, keeps the
  * outputs the checker reads. Timed rounds follow and, when checked,
  * must reproduce the first round's outputs. A lane's costs are program
  * CPU time (`Cpu`) over the calls it measures, and its per-layer
  * numbers are per-round means over the timed rounds (peaks as peaks).
  */
abstract class Lane(ctx: Main.Ctx) {
  def name: String
  def prepare(): Unit

  /** Runs round `n` (0 is the first, checked one); returns the lane's own
    * per-layer numbers of the round (empty when not tracing).
    */
  protected def runRound(n: Int, timed: Boolean): Map[String, Double]

  /** The lane's JSON object: operations, metrics, layers, and what the
    * checker reads.
    */
  def result(): String

  private val layerSums = scala.collection.mutable.Map.empty[String, Double]
  private var rounds, timedRounds = 0

  def round(timed: Boolean): Unit = {
    ctx.streamStats.resetPeaks()
    val before = ctx.counters()
    val t0 = System.nanoTime()
    val c0 = Cpu.ns()
    val own = runRound(rounds, timed)
    System.err.println(f"[perfbench] $name round $rounds: ${(System.nanoTime() - t0) / 1e9}%.2f s wall, " +
      f"${(Cpu.ns() - c0) / 1e9}%.2f s program CPU${if (timed) "" else ", untimed"}")
    rounds += 1
    if (timed) {
      timedRounds += 1
      val wallMs = (System.nanoTime() - t0) / 1e6
      (Layers.delta(before, ctx.counters(), wallMs) ++ own).foreach { case (k, v) =>
        layerSums(k) = if (Layers.peaks(k)) math.max(layerSums.getOrElse(k, 0.0), v)
        else layerSums.getOrElse(k, 0.0) + v
      }
    }
  }

  protected def layers: Map[String, Double] = layerSums.map { case (k, v) =>
    k -> (if (Layers.peaks(k)) v else v / timedRounds)
  }.toMap
}

/** The program's CPU time: the CPU time of the JVM's Java threads (the
  * driver, Spark's task, stream-execution and listener threads, dead
  * ones included), read as the process's CPU time (at the operating
  * system's 10 ms accounting grain) less that of the JVM's own threads:
  * JIT compilers, garbage collectors, the VM thread and the code-cache
  * sweeper. Spark generates and compiles new code for every new plan, so
  * the JIT keeps working through a run, and the share the JVM's own
  * threads take in a window depends on how far compilation has got and
  * on whether a collection fell inside it, not on the work in the window;
  * collection time is reported on its own (`jvm.gc_ms`). The JVM's own
  * threads are never retired during a run (compiler threads are fixed by
  * `-XX:-UseDynamicNumberOfCompilerThreads`, collector threads are only
  * ever added), so none takes its CPU time with it.
  */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jvm = sun.management.ManagementFactoryHelper.getHotspotThreadMBean

  def ns(): Long =
    os.getProcessCpuTime - jvm.getInternalThreadCpuTimes.asScala.values.map(_.longValue).sum

  /** The body's result and the program CPU milliseconds it took. */
  def ms[A](body: => A): (A, Double) = {
    val c0 = ns()
    val a = body
    (a, (ns() - c0) / 1e6)
  }
}

/** Per-layer numbers of one timed round: trace counter deltas between two
  * snapshots (peaks kept as peaks), plus the wall time no Spark job was
  * running. Empty when not tracing.
  */
object Layers {
  val peaks = Set("state.rows_peak", "state.bytes_peak")

  def delta(a: Map[String, Double], b: Map[String, Double], wallMs: Double): Map[String, Double] =
    if (b.isEmpty) Map.empty
    else {
      val d = b.map { case (k, v) => k -> (if (peaks(k)) v else v - a.getOrElse(k, 0.0)) }
      d - "busy_ms" + ("spark.nonjob_ms" -> (wallMs - d("busy_ms")))
    }
}
