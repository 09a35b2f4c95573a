"""Independent checks of the program's outputs.

Nothing here calls the program. The trip checks re-read the generated
feed with Python's own JSON parser and replay the faithful semantics of
the reference pipeline; the registry check runs each query's oracle SQL
in DuckDB over the same parquet tables. Each check returns a list of
problems; an empty list means the outputs are correct.
"""
import datetime as _dt
import glob
import hashlib
import json
import os
from decimal import Decimal

QUAD = ("rate_code", "passenger_count", "payment_type", "trip_type")
WATERMARK_DELAY_MS = 600_000


def decode(line):
    """Decoded event dict, or None for a line the decoder must quarantine."""
    try:
        rec = json.loads(line)
    except ValueError:
        return None
    if not isinstance(rec, dict) or rec.get("trip_id") is None:
        return None
    return rec


def ts_ms(s):
    t = _dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=_dt.timezone.utc)
    return int(t.timestamp() * 1000)


def read_side(paths):
    lines, events = 0, []
    for p in paths:
        with open(p, encoding="utf-8") as f:
            for ln in f:
                lines += 1
                rec = decode(ln.rstrip("\n"))
                if rec is not None:
                    events.append(rec)
    return lines, events


def quad_complete(e):
    return all(e.get(k) is not None for k in QUAD)


def kpi_docs(completed):
    """Per-day KPI documents over {trip_id: (pickup, fare)} of Completed trips."""
    by_day = {}
    for pickup, fare in completed.values():
        by_day.setdefault(pickup[:10], []).append(fare)
    docs = {}
    for day, fares in by_day.items():
        total = float(sum(Decimal(repr(f)) for f in fares))
        docs[day] = {"trip_date": day, "total_fare": total, "count_trips": len(fares),
                     "average_fare": total / len(fares),
                     "max_fare": max(fares), "min_fare": min(fares)}
    return docs


def _identities(prog, lines, starts, ends, completed, completions):
    """The reconciliation identities, each side from a different source."""
    bad = []
    started = {e["trip_id"] for e in starts}
    ended = {e["trip_id"] for e in ends}
    decoded = len(starts) + len(ends)
    if lines != prog["decoded"] + prog["quarantined"]:
        bad.append("input lines %d != decoded %d + quarantined %d"
                   % (lines, prog["decoded"], prog["quarantined"]))
    if decoded != prog["decoded"]:
        bad.append("decoded %d, expected %d" % (prog["decoded"], decoded))
    rows = prog["started"] + prog["completed"] + prog["expired"]
    if len(started) != rows:
        bad.append("distinct started trips %d != Started+Completed+Expired rows %d"
                   % (len(started), rows))
    drops = prog["completions"] + prog["orphan_drops"] + prog["null_quad_drops"]
    if len(ended) != drops:
        bad.append("distinct ended trips %d != completions + orphan + null-quad drops %d"
                   % (len(ended), drops))
    orphans = len(ended - started)
    nullq = len({t for t in ended & started} - {e["trip_id"] for e in ends if quad_complete(e)})
    expect = {"completed": len(completed), "completions": len(completions),
              "orphan_drops": orphans, "null_quad_drops": nullq}
    for k, v in expect.items():
        if prog[k] != v:
            bad.append("%s %d, expected %d" % (k, prog[k], v))
    return bad


def _ids(path):
    with open(path, encoding="utf-8") as f:
        return {ln.strip() for ln in f if ln.strip()}


def check_stream(feed, prog, completed_ids_path):
    """Replay the time-ordered feed trigger by trigger: trigger k reads
    start and end slice k; within a trigger starts apply before ends; a
    start (re)sets the trip to Started, a complete-quad end on a stored
    trip completes it, any other end changes nothing (faithful mode)."""
    sides = {s: sorted(glob.glob(os.path.join(feed, s, "*.jsonl"))) for s in ("start", "end")}
    lines, starts, ends, state, ever = 0, [], [], {}, set()
    max_ts, bad = None, []
    for sp, ep in zip(sides["start"], sides["end"]):
        ns, s_ev = read_side([sp])
        ne, e_ev = read_side([ep])
        lines += ns + ne
        starts += s_ev
        ends += e_ev
        wm = None if max_ts is None else max_ts - WATERMARK_DELAY_MS
        batch_max = max_ts
        for e in s_ev:
            t = ts_ms(e["pickup_datetime"])
            state[e["trip_id"]] = ("Started", e["pickup_datetime"], None)
            batch_max = t if batch_max is None else max(batch_max, t)
            if wm is not None and t <= wm + 60_000:
                bad.append("feed: start %s is within a minute of the watermark" % e["trip_id"])
        for e in e_ev:
            t = ts_ms(e["dropoff_datetime"])
            batch_max = t if batch_max is None else max(batch_max, t)
            if wm is not None and t <= wm + 60_000:
                bad.append("feed: end %s is within a minute of the watermark" % e["trip_id"])
            cur = state.get(e["trip_id"])
            if cur is not None and quad_complete(e):
                state[e["trip_id"]] = ("Completed", cur[1], e["fare_amount"])
                ever.add(e["trip_id"])
        max_ts = batch_max
    completed = {t for t, v in state.items() if v[0] == "Completed"}
    bad += _identities(prog, lines, starts, ends, completed, ever)
    got = _ids(completed_ids_path)
    if got != completed:
        bad.append("Completed trip set differs: %d missing, %d extra"
                   % (len(completed - got), len(got - completed)))
    return bad


def check_nightly(feed, epochs, prog, completed_ids_path, kpi_dirs):
    """Replay the epoch loads with batch semantics: per epoch the latest
    start per trip joins its latest complete-quad end (Completed) or
    nothing (Started); the table keeps the row of the highest epoch."""
    lines, starts, ends, table, ever = 0, [], [], {}, set()
    for e in range(epochs):
        d = os.path.join(feed, "epoch-%02d" % e)
        ns, s_ev = read_side(sorted(glob.glob(os.path.join(d, "start", "*.jsonl"))))
        ne, e_ev = read_side(sorted(glob.glob(os.path.join(d, "end", "*.jsonl"))))
        lines += ns + ne
        starts += s_ev
        ends += e_ev
        latest_end = {}
        for x in e_ev:
            if quad_complete(x):
                key = (x["dropoff_datetime"], x["fare_amount"])
                if x["trip_id"] not in latest_end or key > latest_end[x["trip_id"]][0]:
                    latest_end[x["trip_id"]] = (key, x)
        for x in s_ev:
            end = latest_end.get(x["trip_id"])
            if end is None:
                table[x["trip_id"]] = ("Started", x["pickup_datetime"], None)
            else:
                table[x["trip_id"]] = ("Completed", x["pickup_datetime"], end[1]["fare_amount"])
                ever.add(x["trip_id"])
    completed = {t: (v[1], v[2]) for t, v in table.items() if v[0] == "Completed"}
    bad = _identities(prog, lines, starts, ends, completed, ever)
    got = _ids(completed_ids_path)
    if got != set(completed):
        bad.append("Completed trip set differs: %d missing, %d extra"
                   % (len(set(completed) - got), len(got - set(completed))))
    expect = kpi_docs(completed)
    for kd in kpi_dirs:
        bad += compare_kpi_docs(read_kpi_docs(kd), expect)
    return bad


def read_kpi_docs(kpi_dir):
    docs = {}
    for p in sorted(glob.glob(os.path.join(kpi_dir, "*", "*.json"))):
        with open(p, encoding="utf-8") as f:
            doc = json.load(f)
        docs[doc["date"]] = doc
    return docs


def _close(a, b):
    return a == b or abs(a - b) <= 1e-9 * max(abs(a), abs(b))


def compare_kpi_docs(got, expect):
    """Per-day documents: the same days, and metrics equal (sums and
    averages to 1e-9 relative, counts and extremes exactly)."""
    bad = []
    if set(got) != set(expect):
        return ["KPI days %s, expected %s" % (sorted(got), sorted(expect))]
    for day, m in expect.items():
        g = got[day].get("metrics", {})
        for k, v in m.items():
            ok = _close(g.get(k, float("nan")), v) if k in ("total_fare", "average_fare") \
                else g.get(k) == v
            if not ok:
                bad.append("KPI %s %s = %r, expected %r" % (day, k, g.get(k), v))
    return bad


# --- registry: the oracle rule of the engine's compare tool ---------------

def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append("\x1f".join(r[i].hex() if isinstance(r[i], float) else repr(r[i])
                               for i in order))
    out.sort()
    return hashlib.md5("\x1e".join(out).encode()).hexdigest()


def check_registry(tables_dir, results_dir, rows_seen):
    """Each query's parquet result against DuckDB running its oracle SQL
    over the same tables: equal row counts, column names and DuckDB
    types, and an equal hash of the rows sorted by value with columns
    sorted by name (floats compared bit for bit). `rows_seen` holds the
    row counts the timed runs produced for each query."""
    import duckdb
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings", "nation"):
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, tables_dir, t))
    with open(os.path.join(results_dir, "oracle_sql.json"), encoding="utf-8") as f:
        oracle = json.load(f)
    bad = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            bad.append("%s: no result" % name)
            continue
        sp = con.sql("SELECT * FROM read_parquet(%r)" % files)
        sp_types = dict(zip(sp.columns, map(str, sp.types)))
        sp_cols, sp_rows = list(sp.columns), sp.fetchall()
        orc = con.sql(sql)
        o_types = dict(zip(orc.columns, map(str, orc.types)))
        o_cols, o_rows = list(orc.columns), orc.fetchall()
        if len(sp_rows) != len(o_rows) or set(rows_seen.get(name, [])) != {len(o_rows)}:
            bad.append("%s: rows %d (timed runs %s), oracle %d"
                       % (name, len(sp_rows), rows_seen.get(name), len(o_rows)))
        elif sorted(sp_cols) != sorted(o_cols):
            bad.append("%s: columns %s, oracle %s" % (name, sorted(sp_cols), sorted(o_cols)))
        elif sp_types != o_types:
            bad.append("%s: types %s, oracle %s" % (name, sp_types, o_types))
        elif _canon(sp_rows, sp_cols) != _canon(o_rows, o_cols):
            bad.append("%s: values differ from the oracle" % name)
    return bad
