"""The benchmark's own tests.

    python3 perfbench/test_perfbench.py            # checker and generator tests
    PERFBENCH_E2E=1 python3 perfbench/test_perfbench.py   # also a tiny full run

The end-to-end test builds the program if needed and runs every lane of
the pipeline on tiny inputs, with every lane checked.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(HERE), ".bench_build")


class Scratch(unittest.TestCase):
    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix="test-", dir=SCRATCH)

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)


def tree_bytes(root):
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


class GeneratorTest(Scratch):
    def test_same_seed_same_inputs(self):
        for lane in ("stream", "nightly", "registry"):
            a, b, c = (os.path.join(self.dir, lane + x) for x in "abc")
            run.generate(lane, "tiny", 7, a)
            run.generate(lane, "tiny", 7, b)
            run.generate(lane, "tiny", 8, c)
            self.assertEqual(tree_bytes(a), tree_bytes(b), lane)
            self.assertNotEqual(tree_bytes(a), tree_bytes(c), lane)

    def test_feed_has_every_line_class(self):
        feed = os.path.join(self.dir, "feed")
        gen.stream_feed(feed, 3, n_trips=300, n_slices=4)
        starts, ends, bad = [], [], 0
        for side, acc in (("start", starts), ("end", ends)):
            for p in sorted(os.listdir(os.path.join(feed, side))):
                with open(os.path.join(feed, side, p)) as f:
                    for ln in f:
                        rec = check.decode(ln.rstrip("\n"))
                        if rec is None:
                            bad += 1
                        else:
                            acc.append(rec)
        started = {e["trip_id"] for e in starts}
        self.assertGreater(bad, 0)
        self.assertTrue(any(e["trip_id"] not in started for e in ends))  # orphans
        self.assertTrue(any(not check.quad_complete(e) for e in ends))  # null quads
        self.assertLess(len(started), len(starts))  # redelivered starts


class KpiCheckTest(Scratch):
    def write_docs(self, docs):
        out = os.path.join(self.dir, "kpi")
        for day, m in docs.items():
            os.makedirs(os.path.join(out, day[:7]), exist_ok=True)
            with open(os.path.join(out, day[:7], day + ".json"), "w") as f:
                json.dump({"date": day, "metrics": m, "timestamp": "x"}, f)
        return out

    def test_wrong_kpi_document_is_rejected(self):
        completed = {"t1": ("2024-03-04T01:00:00.000Z", 12.5),
                     "t2": ("2024-03-04T02:00:00.000Z", 7.25),
                     "t3": ("2024-03-05T02:00:00.000Z", 30.1)}
        expect = check.kpi_docs(completed)
        good = self.write_docs(expect)
        self.assertEqual(check.compare_kpi_docs(check.read_kpi_docs(good), expect), [])
        wrong = json.loads(json.dumps(expect))
        wrong["2024-03-04"]["total_fare"] += 0.01
        shutil.rmtree(good)
        bad = self.write_docs(wrong)
        self.assertTrue(check.compare_kpi_docs(check.read_kpi_docs(bad), expect))
        wrong = json.loads(json.dumps(expect))
        del wrong["2024-03-05"]
        shutil.rmtree(bad)
        self.assertTrue(check.compare_kpi_docs(check.read_kpi_docs(self.write_docs(wrong)), expect))


class RegistryCheckTest(Scratch):
    SQL = ("SELECT event_type, count(*) AS n, sum(value) AS total "
           "FROM events GROUP BY event_type")

    def results(self, sql):
        import duckdb
        tables = os.path.join(self.dir, "tables")
        gen.registry_tables(tables, 5, n_events=500, n_docs=20, n_vecs=10)
        res = os.path.join(self.dir, "results")
        os.makedirs(os.path.join(res, "q"))
        with open(os.path.join(res, "oracle_sql.json"), "w") as f:
            json.dump({"q": self.SQL}, f)
        con = duckdb.connect()
        con.execute("CREATE VIEW events AS SELECT * FROM '%s/events.parquet'" % tables)
        con.execute("COPY (%s) TO '%s/q/part-0.parquet' (FORMAT parquet)" % (sql, res))
        return tables, res

    def test_matching_result_is_accepted(self):
        tables, res = self.results(self.SQL)
        self.assertEqual(check.check_registry(tables, res, {"q": [5]}), [])

    def test_wrong_registry_result_is_rejected(self):
        wrong = self.SQL.replace("sum(value)", "sum(value) + 1e-9")
        tables, res = self.results(wrong)
        self.assertTrue(check.check_registry(tables, res, {"q": [5]}))

    def test_wrong_timed_row_count_is_rejected(self):
        tables, res = self.results(self.SQL)
        self.assertTrue(check.check_registry(tables, res, {"q": [5, 4]}))


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E"), "set PERFBENCH_E2E=1 for the tiny full run")
class TinyRunTest(unittest.TestCase):
    def tiny_run(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "5", "--seconds", "1", "--size", "tiny", "--trace", str(trace)],
            capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertTrue(res["correct"], p.stderr[-3000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreater(res["attempted"], 0)
        return res["metrics"]

    def test_tiny_run_is_correct(self):
        m = self.tiny_run("trip_pipeline", 0)
        self.assertEqual(set(m), set(run.END_TO_END))
        self.assertTrue(all(v["value"] > 0 for v in m.values()), m)

    def test_tiny_traced_run_prints_every_layer(self):
        m = self.tiny_run("registry_tail", 1)
        self.assertEqual(set(m), set(run.PER_LAYER))
        self.assertGreater(m["registry.exec_ms"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
