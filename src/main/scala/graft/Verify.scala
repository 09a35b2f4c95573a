package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.FileUtil

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * The session comes from [[GraftSession.local]] so correctness is
  * verified under the SAME engine configuration Bench measures (AQE,
  * skew-join, parquet pushdown, nanos handling) — a results bug caused
  * by a production setting must not be invisible to the oracle.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional trailing args name a subset of queries to dump (local
    // spot-checks); the driver always calls with exactly two args.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // Clear the oracle-visible fixture root: its dirs are size-scoped
    // (name-N) and the oracle SQL globs name-*, so a stale corpus from
    // an earlier run at a different scale factor would double the
    // glob's rows. After this, the only matches are what THIS run's
    // queries persist.
    // SparkEntry.FixtureDir is the single source of truth — the same
    // value the oracle SQL globs and persistedRealistic writes, so the
    // clear can never drift onto a different directory.
    FileUtil.fullyDelete(new java.io.File(SparkEntry.FixtureDir))
    // oracle_sql.json FIRST: it is pure metadata, and the downstream
    // compare degenerates to {} without it. Writing it before the query
    // loop means any driver-side time cap that kills the JVM mid-dump
    // leaves a usable PARTIAL artifact (every query dumped so far still
    // gets compared) instead of losing the whole round's signal.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonUtil.quote(k)}: ${JsonUtil.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val work = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
    // Dump on a small thread pool: per-query wall at sf0.01 is mostly
    // fixed planning/scheduling overhead, and Spark schedules concurrent
    // jobs from multiple threads fine (results land in independent
    // dirs; the registry holds no shared catalog state). 4 threads cuts
    // the 110-query sequential ~20 min to well under any driver cap.
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt)
    val tasks = work.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val target = s"$outDir/$name"
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(target)
            System.err.println(f"[verify] ${done.incrementAndGet()}%3d/${work.size} $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
          } catch {
            case e: Throwable =>
              System.err.println(s"[verify] ${done.incrementAndGet()}/${work.size} $name FAILED: ${e.getMessage}")
              // Remove any stale result from a previous run: a leftover
              // parquet dir would let the compare silently validate old
              // output and mask the regression.
              FileUtil.fullyDelete(new java.io.File(target))
          }
          System.err.flush()
        }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    spark.stop()
  }
}
