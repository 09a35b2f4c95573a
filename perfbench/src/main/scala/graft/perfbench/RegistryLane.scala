package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.{JsonUtil, SparkEntry}

import Main._

/** `registry_tail`: a fixed list of `SparkEntry.queries` over seeded
  * sf-shaped tables, each run the way the engine's bench main times it:
  * build the DataFrame, then `queryExecution.toRdd.count()`, which
  * materializes every output column. Persisted RDDs are released after
  * each query, as the bench main does. A round is `registry.reps` passes
  * over the list; a timed round's cost is the program CPU (`Cpu`) of one
  * pass (the queries' build and count, not the release). When checked, round
  * 0 also writes every result to parquet, outside the measured calls,
  * for the DuckDB check, which holds every round's row counts against
  * the oracle's too.
  */
final class RegistryLane(ctx: Ctx) extends Lane(ctx) {
  val name = "registry"
  private val tables = ctx.conf.str("registry.tables")
  private val queries = ctx.conf.list("registry.queries")
  private val reps = ctx.conf.int("registry.reps")
  private val checked = ctx.conf.int("registry.check") == 1
  private val out = s"${ctx.work}/registry"

  def prepare(): Unit =
    Seq("events", "documents", "embeddings", "nation").foreach { t =>
      ctx.spark.read.parquet(s"$tables/$t.parquet").schema
    }

  private def sweep(): Unit =
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** One query: (CPU ms, rows, layer parts, the DataFrame). */
  private def one(q: String): (Double, Long, Map[String, Double], DataFrame) = {
    val fn = SparkEntry.queries(q)
    val c0 = Cpu.ns()
    val t0 = System.nanoTime()
    val df = fn(ctx.spark, tables)
    val t1 = System.nanoTime()
    // tracing forces the plan first so execution is timed on its own
    if (ctx.trace) df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    val rows = df.queryExecution.toRdd.count()
    val t3 = System.nanoTime()
    val cpuMs = (Cpu.ns() - c0) / 1e6
    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      val ph = PlanStats.phaseMs(df.queryExecution)
      Map(
        "registry.build_ms" -> (t1 - t0) / 1e6,
        "registry.analysis_ms" -> ph.getOrElse("analysis", 0L).toDouble,
        "registry.optimization_ms" -> ph.getOrElse("optimization", 0L).toDouble,
        "registry.planning_ms" -> ph.getOrElse("planning", 0L).toDouble,
        "registry.exec_ms" -> (t3 - t2) / 1e6,
        "registry.pinned_rdds_left" ->
          ctx.spark.sparkContext.getPersistentRDDs.size.toDouble)
    }
    (cpuMs, rows, layers, df)
  }

  private val rows = scala.collection.mutable.Map.empty[String, Set[Long]].withDefaultValue(Set.empty)
  private val passCpuS = Seq.newBuilder[Double]
  private var ops = 0

  protected def runRound(n: Int, timed: Boolean): Map[String, Double] = {
    if (n == 0) {
      Files.createDirectories(Paths.get(out))
      Files.writeString(Paths.get(s"$out/oracle_sql.json"), queries
        .map(q => JsonUtil.quote(q) + ":" + JsonUtil.quote(SparkEntry.oracleSql(q)))
        .mkString("{", ",", "}"))
    }
    val layerSums = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var cpuMs = 0.0
    for (rep <- 0 until reps; q <- queries) {
      val (ms, k, layers, df) = one(q)
      // outside the measured calls: round 0's result goes to parquet for
      // the oracle check; the frame is built, so only its final plan reruns
      if (checked && n == 0 && rep == 0) df.write.parquet(s"$out/$q")
      sweep()
      cpuMs += ms
      rows(q) += k
      ops += 1
      layers.foreach { case (key, v) => layerSums(key) += v / reps }
    }
    if (timed) passCpuS += cpuMs / 1000 / reps
    layerSums.toMap
  }

  def result(): String =
    obj(Seq(
      "ops" -> ops.toString,
      "consistent" -> "true",
      "metrics" -> nums(Map("registry_cpu_s" -> median(passCpuS.result()))),
      "layers" -> nums(layers),
      "rows" -> obj(rows.toSeq.map { case (k, v) => k -> v.toSeq.sorted.mkString("[", ",", "]") }),
      "results" -> JsonUtil.quote(out)))
}
