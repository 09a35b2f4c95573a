#!/usr/bin/env python3
"""Trip-pipeline benchmark: one run of one workload.

    python3 perfbench/run.py --workload trip_pipeline --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds the program and
the harness once (sbt, offline) into `.bench_build/`; every later run
launches `java` directly. A run generates its inputs from the seed,
starts one JVM on `local[nproc]`, runs the workload's lanes, checks the
outputs against `check.py`'s independent computation, removes its
working files and prints one JSON object as its last line. `--trace 1`
prints the per-layer metrics instead of the end-to-end ones.

Every workload runs all three lanes of the pipeline, because every run
reports every end-to-end metric: its own lanes on full-size inputs, the
others as probes. Untimed rounds of every lane warm the
JVM up, the first of them checked; then rounds of every lane,
interleaved, are timed for `--seconds` (at least one). The costs are the
program's CPU time (README, "Why CPU time").
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

# Registry list: README "Registry list" says why each query is here.
REGISTRY = [
    "q04_daily_kpis", "q05_kpi_single_date", "q17_dedup_exact", "q31_ann_topk",
    "q106_pca_project", "q107_pca_quality", "q101_warc_ingest", "q41_asof_join",
]
REGISTRY_PROBE = ["q04_daily_kpis", "q05_kpi_single_date"]

# Input sizes per lane: the workload's own lanes run at "full", the
# other lanes at "probe". "tiny" is the size the benchmark's tests use.
# `reps` is how many passes over its query list a registry round makes.
# The nightly probe is full size: on 2000 trips its compaction, one
# sample a round, spread up to 0.24 between runs.
SIZES = {
    "full": {
        "stream": dict(n_trips=3000, n_slices=4),
        "nightly": dict(n_trips=6000, n_epochs=3, n_days=3),
        "registry": dict(n_events=100000, n_docs=5000, n_vecs=2000, reps=1),
    },
    "probe": {
        "stream": dict(n_trips=1200, n_slices=2),
        "nightly": dict(n_trips=6000, n_epochs=3, n_days=3),
        "registry": dict(n_events=10000, n_docs=500, n_vecs=200, reps=2),
    },
    "tiny": {
        "stream": dict(n_trips=300, n_slices=4),
        "nightly": dict(n_trips=600, n_epochs=2, n_days=2),
        "registry": dict(n_events=2000, n_docs=200, n_vecs=100, reps=1),
    },
}

# The lanes each workload runs at full size and checks; every other
# lane runs as a probe, so every run reports every
# end-to-end metric.
WORKLOADS = {"trip_pipeline": ("stream", "nightly"), "registry_tail": ("registry",)}
LANE_ORDER = ("stream", "nightly", "registry")

END_TO_END = {
    "setup_s": "s", "peak_rss_mb": "MB", "heap_retained_mb": "MB",
    "stream_cpu_us_per_event": "us", "table_write_cpu_us_per_row": "us",
    "kpi_day_cpu_ms": "ms", "kpi_day_compacted_cpu_ms": "ms", "compact_cpu_ms": "ms",
    "registry_cpu_s": "s",
}
PER_LAYER = {
    "session.start_ms": "ms", "jvm.gc_ms": "ms",
    "ingest.events_in": "count", "ingest.events_decoded": "count",
    "ingest.events_quarantined": "count", "ingest.source_ms": "ms",
    "ingest.decode_ms": "ms",
    "stream.batches": "count", "stream.trigger_ms_sum": "ms",
    "stream.add_batch_ms_sum": "ms", "stream.query_planning_ms_sum": "ms",
    "stream.wal_commit_ms_sum": "ms", "stream.commit_offsets_ms_sum": "ms",
    "stream.fixed_ms_sum": "ms", "stream.batch_ms_p50": "ms",
    "state.rows_peak": "count", "state.rows_removed": "count",
    "state.bytes_peak": "bytes", "state.commit_ms_sum": "ms",
    "state.update_ms_sum": "ms", "state.removal_ms_sum": "ms",
    "correlate.ms": "ms",
    "sink.append_ms": "ms", "sink.files_written": "count",
    "sink.bytes_written": "bytes", "sink.table_files": "count",
    "sink.read_merged_ms": "ms", "sink.compact_ms": "ms",
    "kpi.plan_ms_sum": "ms", "kpi.jobs_per_day": "count",
    "kpi.bytes_read_per_day": "bytes",
    "registry.build_ms": "ms", "registry.analysis_ms": "ms",
    "registry.optimization_ms": "ms", "registry.planning_ms": "ms",
    "registry.exec_ms": "ms", "registry.pinned_rdds_left": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_ms": "ms", "spark.task_cpu_ms": "ms",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.nonjob_ms": "ms",
}

JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
    # the JIT reaches its steady state within the warm-up, and its
    # compiler threads live for the whole run (README, "Why CPU time")
    "-XX:CompileThresholdScaling=0.1", "-XX:-UseDynamicNumberOfCompilerThreads",
    # HotSpot's internal-thread CPU counters, for the program's CPU time
    "--add-exports", "java.management/sun.management=ALL-UNNAMED",
    "-Duser.timezone=UTC", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def build():
    """Compile program + harness once per checkout; returns the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("no program sources under src/main/scala next to perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the benchmark")
    jars = spark_jars()
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_hash()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("sources") == digest:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dperfbench.spark.jars=" + jars]
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.call(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as lf:
        out = lf.read().strip().splitlines()
    if rc != 0 or not out:
        fail("build failed, see %s" % log)
    cp = out[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"sources": digest, "classpath": cp}, f)
    return cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def generate(lane, size, seed, d):
    s = {k: v for k, v in SIZES[size][lane].items() if k != "reps"}
    if lane == "stream":
        return gen.stream_feed(d, seed, **s)
    if lane == "nightly":
        return gen.nightly_feed(d, seed, **s)
    return gen.registry_tables(d, seed, **s)


def run_jvm(cp, props, work, timeout):
    pfile = os.path.join(work, "run.properties")
    with open(pfile, "w") as f:
        for k, v in props.items():
            f.write("%s=%s\n" % (k, str(v).replace("\\", "\\\\")))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [
        "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
        "-Dgraft.fixture.dir=" + os.path.join(work, "fixtures"),
        "-cp", cp, "graft.perfbench.Main", pfile]
    props["launch_ms"] = int(time.time() * 1000)
    with open(pfile, "a") as f:
        f.write("launch_ms=%d\n" % props["launch_ms"])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # on a timeout or an interruption the JVM must not outlive the run
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log, errors="replace") as lf:
            tail = lf.read()[-4000:]
        fail("JVM run failed (%s):\n%s" % (rc, tail), code=1)
    with open(log, errors="replace") as lf:
        sys.stderr.writelines(ln for ln in lf if ln.startswith("[perfbench]"))
    with open(props["out"]) as f:
        return json.load(f)


def lane_problems(lane, res, feed, info):
    r = res["lanes"][lane]
    bad = [] if r["consistent"] else ["%s: a timed round's outputs differ from the first round's" % lane]
    if lane == "stream":
        bad += check.check_stream(feed, r["check"], r["completed_ids"])
    elif lane == "nightly":
        bad += check.check_nightly(feed, info["epochs"], r["check"], r["completed_ids"],
                                   r["kpi_dirs"])
    else:
        bad += check.check_registry(feed, r["results"],
                                    {k: [int(n) for n in v] for k, v in r["rows"].items()})
    return bad


def _terminated(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None):
    # a SIGTERM unwinds like an error: the JVM is stopped and the run
    # directory removed
    signal.signal(signal.SIGTERM, _terminated)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs and every lane checked, for the benchmark's tests")
    ap.add_argument("--cores", type=int, default=0, help="default: nproc")
    a = ap.parse_args(argv)

    cp = build()
    primary = WORKLOADS[a.workload]
    tiny = a.size == "tiny"
    checked = [x for x in LANE_ORDER if x in primary or tiny]
    work = os.path.join(BUILD, "run-%d-%d" % (os.getpid(), int(time.time() * 1000)))
    os.makedirs(work)
    try:
        feeds, info = {}, {}
        sizes = {lane: "tiny" if tiny else ("full" if lane in primary else "probe")
                 for lane in LANE_ORDER}
        for lane in LANE_ORDER:
            feeds[lane] = os.path.join(work, "in", lane)
            info[lane] = generate(lane, sizes[lane], a.seed, feeds[lane])
        props = {
            "lanes": ",".join(LANE_ORDER), "trace": a.trace, "budget_s": a.seconds,
            "warm_rounds": 2,
            "cores": a.cores or cores(), "work": os.path.join(work, "out"),
            "out": os.path.join(work, "result.json"),
            "stream.feed": feeds["stream"], "nightly.feed": feeds["nightly"],
            "nightly.epochs": info["nightly"]["epochs"],
            "nightly.days": ",".join(info["nightly"]["days"]),
            "registry.tables": feeds["registry"],
            "registry.queries": ",".join(REGISTRY if "registry" in primary or tiny
                                         else REGISTRY_PROBE),
            "registry.reps": SIZES[sizes["registry"]]["registry"]["reps"],
        }
        for lane in LANE_ORDER:
            props[lane + ".check"] = int(lane in checked)
        t0 = time.time()
        res = run_jvm(cp, props, work, timeout=150)
        t1 = time.time()
        attempted = failed = 0
        problems = []
        for lane in checked:
            bad = lane_problems(lane, res, feeds[lane], info[lane])
            ops = int(res["lanes"][lane]["ops"])
            attempted += ops
            if bad:
                failed += ops
                problems += bad
        print("[perfbench] jvm %.1f s, check %.1f s" % (t1 - t0, time.time() - t1), file=sys.stderr)
        for p in problems:
            print("perfbench: check failed: " + p, file=sys.stderr)
        if a.trace:
            # per-layer numbers of the workload's own lanes, added up
            # over those lanes (peaks: the larger)
            layers = {k: 0.0 for k in PER_LAYER}
            for lane in primary:
                for k, v in res["lanes"][lane]["layers"].items():
                    if k in layers:
                        layers[k] = max(layers[k], v) if k.endswith("_peak") else layers[k] + v
            layers["session.start_ms"] = res["session_start_ms"]
            layers["jvm.gc_ms"] = res["jvm_gc_ms"]
            metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in sorted(layers.items())}
        else:
            vals = {k: res[k] for k in ("setup_s", "peak_rss_mb", "heap_retained_mb")}
            for lane in LANE_ORDER:
                vals.update(res["lanes"][lane]["metrics"])
            metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps({"correct": not problems, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
