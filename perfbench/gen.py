"""Seeded input generators for the trip-pipeline benchmark.

Every generator takes the seed as an argument and writes plain files; the
program only ever sees those files. The same seed gives byte-identical
inputs.

Trip feeds are JSON lines in the wire shape the program's stream decoder
reads (`EventReader.decodeStartStream` / `decodeEndStream`): the telemetry
quad is written as `5.0`-style floats and timestamps as ISO-8601 UTC.
Each feed mixes these line classes on purpose:

- malformed lines (truncated JSON, non-JSON text, JSON with no or a null
  `trip_id`, empty lines), which the decoder must quarantine;
- orphan ends (an end whose trip never started), dropped in faithful mode;
- ends whose telemetry quad is null, which never complete their trip;
- redelivered duplicates of well-formed lines.

The registry tables follow the schemas of the engine's sf test tables
(events, documents, embeddings, nation) at a chosen size.
"""
import datetime as _dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = _dt.datetime(2024, 3, 4, tzinfo=_dt.timezone.utc)
# file mtimes for the streaming source: it admits files in mtime order
MTIME_BASE = 1_700_000_000
QUAD = ("rate_code", "passenger_count", "payment_type", "trip_type")


def iso(ms):
    t = T0 + _dt.timedelta(milliseconds=ms)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + "%03dZ" % (ms % 1000)


def start_line(tid, p_ms, rng):
    return json.dumps({
        "trip_id": tid,
        "pickup_location_id": rng.randrange(1, 266),
        "dropoff_location_id": rng.randrange(1, 266),
        "vendor_id": rng.randrange(1, 3),
        "pickup_datetime": iso(p_ms),
        "estimated_dropoff_datetime": iso(p_ms + 900_000),
        "estimated_fare_amount": round(rng.uniform(5, 80), 2),
    }, separators=(",", ":"))


def end_line(tid, d_ms, rng, null_quad):
    rec = {
        "trip_id": tid,
        "dropoff_datetime": iso(d_ms),
        "rate_code": 1.0,
        "passenger_count": float(rng.randrange(1, 5)),
        "trip_distance": round(rng.uniform(0.3, 25), 2),
        "fare_amount": round(rng.uniform(4, 90), 2),
        "tip_amount": round(rng.uniform(0, 12), 2),
        "payment_type": float(rng.randrange(1, 4)),
        "trip_type": 1.0,
    }
    if null_quad:
        for k in QUAD:
            rec[k] = None
    return json.dumps(rec, separators=(",", ":"))


def malformed_line(rng, i):
    kind = i % 5
    if kind == 0:  # truncated inside the trip_id string
        return '{"trip_id":"t-%07d' % rng.randrange(10**7)
    if kind == 1:
        return "#%08x not json at all" % rng.getrandbits(32)
    if kind == 2:  # well-formed JSON, no key
        return json.dumps({"pickup_location_id": rng.randrange(1, 266)})
    if kind == 3:  # well-formed JSON, null key
        return json.dumps({"trip_id": None, "fare_amount": 12.5})
    return ""


# Shares of each trip class and line class (README "Inputs" documents them).
# The null-quad share is the reference trip-end feed's: 531 of its 4,999
# ends (FIXTURES.md, section 2). That feed has no start-only trips, orphan
# ends, duplicates or malformed lines; their shares are not measured, only
# chosen small so that the drop, eviction and quarantine paths run.
SHARE_NULL_QUAD = 531 / 4999
SHARE_START_ONLY = 0.01
SHARE_ORPHAN = 0.01
SHARE_DUPLICATE = 0.01
SHARE_MALFORMED = 0.01


def _trip_class(rng):
    r = rng.random()
    if r < SHARE_START_ONLY:
        return "start_only"
    r -= SHARE_START_ONLY
    if r < SHARE_NULL_QUAD:
        return "null_quad"
    r -= SHARE_NULL_QUAD
    if r < SHARE_ORPHAN:
        return "orphan"
    return "normal"


def _write_lines(path, lines):
    with open(path, "w", encoding="utf-8") as f:
        for ln in lines:
            f.write(ln + "\n")


def stream_feed(out, seed, n_trips, n_slices, slice_min=30):
    """Time-ordered feed for `TripStreamJob`: slice k of the event-time
    range goes to `start/slice-k.jsonl` and `end/slice-k.jsonl`, both
    stamped with the same mtime, so one trigger reads start and end
    slice k. Trip duration is 3-15 minutes; a redelivered line lands in
    its own slice, or in the next one when its event time is in the last
    five minutes of its slice (so it is never behind the watermark).
    """
    rng = random.Random(seed * 1_000_003 + 17)
    slice_ms = slice_min * 60_000
    span = n_slices * slice_ms
    starts = [[] for _ in range(n_slices)]
    ends = [[] for _ in range(n_slices)]

    def place(bucket, ts, line):
        k = ts // slice_ms
        bucket[k].append(line)
        if rng.random() < SHARE_DUPLICATE:
            late_in_slice = ts - k * slice_ms > slice_ms - 5 * 60_000
            kk = k + 1 if late_in_slice and k + 1 < n_slices else k
            bucket[kk].append(line)

    for i in range(n_trips):
        cls = _trip_class(rng)
        p = rng.randrange(0, span - 20 * 60_000) // 1000 * 1000
        d = p + rng.randrange(3 * 60, 15 * 60) * 1000
        tid = ("o-%07d" if cls == "orphan" else "t-%07d") % i
        if cls != "orphan":
            place(starts, p, start_line(tid, p, rng))
        if cls != "start_only":
            place(ends, d, end_line(tid, d, rng, cls == "null_quad"))
    for side in (starts, ends):
        for k in range(n_slices):
            n_bad = max(1, int(len(side[k]) * SHARE_MALFORMED))
            side[k].extend(malformed_line(rng, j) for j in range(n_bad))
            rng.shuffle(side[k])
    for name, side in (("start", starts), ("end", ends)):
        os.makedirs(os.path.join(out, name), exist_ok=True)
        for k in range(n_slices):
            p = os.path.join(out, name, "slice-%04d.jsonl" % k)
            _write_lines(p, side[k])
            os.utime(p, (MTIME_BASE + k * 60, MTIME_BASE + k * 60))
    return {"slices": n_slices, "trips": n_trips}


def nightly_feed(out, seed, n_trips, n_epochs, n_days, parts=8):
    """Epoch-batched feed for the nightly lane: `epoch-e/{start,end}/`
    holds the lines that arrive in load e, split over `parts` files.
    Beyond the stream feed's classes, 10% of trips are late completers
    (start alone in epoch e, start again plus end in e+1) and 5% are
    redelivered whole in a later epoch.
    """
    rng = random.Random(seed * 1_000_003 + 29)
    day_ms = 86_400_000
    starts = [[] for _ in range(n_epochs)]
    ends = [[] for _ in range(n_epochs)]

    def add(bucket, e, line):
        bucket[e].append(line)
        if rng.random() < SHARE_DUPLICATE:
            bucket[e].append(line)

    for i in range(n_trips):
        cls = _trip_class(rng)
        p = rng.randrange(0, n_days * day_ms - 20 * 60_000) // 1000 * 1000
        d = p + rng.randrange(3 * 60, 15 * 60) * 1000
        tid = ("o-%07d" if cls == "orphan" else "t-%07d") % i
        s, en = start_line(tid, p, rng), end_line(tid, d, rng, cls == "null_quad")
        e = rng.randrange(n_epochs)
        r = rng.random()
        if cls == "orphan":
            add(ends, e, en)
        elif cls == "start_only":
            add(starts, e, s)
        elif r < 0.10 and e + 1 < n_epochs:  # late completer
            add(starts, e, s)
            add(starts, e + 1, s)
            add(ends, e + 1, en)
        elif r < 0.15 and e + 1 < n_epochs:  # whole-trip redelivery
            later = rng.randrange(e + 1, n_epochs)
            for ee in (e, later):
                add(starts, ee, s)
                add(ends, ee, en)
        else:
            add(starts, e, s)
            add(ends, e, en)
    for name, side in (("start", starts), ("end", ends)):
        for e in range(n_epochs):
            lines = side[e]
            n_bad = max(1, int(len(lines) * SHARE_MALFORMED))
            lines.extend(malformed_line(rng, j) for j in range(n_bad))
            rng.shuffle(lines)
            d = os.path.join(out, "epoch-%02d" % e, name)
            os.makedirs(d, exist_ok=True)
            for j in range(parts):
                _write_lines(os.path.join(d, "part-%02d.jsonl" % j), lines[j::parts])
    days = [(T0 + _dt.timedelta(days=k)).strftime("%Y-%m-%d") for k in range(n_days)]
    return {"epochs": n_epochs, "days": days, "trips": n_trips}


WORDS = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast row "
         "agg key query scan batch delta").split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def registry_tables(out, seed, n_events, n_docs, n_vecs):
    """The sf-shaped tables the registry queries read, seeded."""
    rng = np.random.default_rng(seed * 7919 + 3)
    os.makedirs(out, exist_ok=True)
    base = np.datetime64("2024-01-01T00:00:00", "us")
    ts = base + np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_events)).astype("timedelta64[us]")
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_events, dtype=np.int64)),
        "event_type": pa.array(rng.choice(["click", "error", "purchase", "signup", "view"], n_events)),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n_events)]),
    })
    pq.write_table(events, os.path.join(out, "events.parquet"))

    lens = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    texts, off = [], 0
    for n in lens:
        texts.append(" ".join(WORDS[w] for w in words[off:off + n]))
        off += n
    for i in rng.choice(n_docs, max(1, n_docs // 500), replace=False):  # exact dups
        texts[i] = texts[(i + 1) % n_docs]
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs)),
        "source": pa.array(["src%d" % (i % 20) for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    pq.write_table(documents, os.path.join(out, "documents.parquet"))

    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centers = rng.normal(0, 1, (10, 64))
    emb = centers[labels] + rng.normal(0, 0.8, (n_vecs, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    pq.write_table(embeddings, os.path.join(out, "embeddings.parquet"))

    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array(["NATION_%d" % i for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    pq.write_table(nation, os.path.join(out, "nation.parquet"))
    return {"events": n_events, "documents": n_docs, "embeddings": n_vecs}
