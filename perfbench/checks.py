"""Output checks and metric derivation for one benchmark run.

`verify` compares a run's outputs with expectations that never come
from the engine: the OHLCV generator's own answers, and DuckDB running
the registry's oracle SQL (`SparkEntry.oracleSql`) over the same input
files. `end_to_end` and `per_layer` turn the JVM's raw record (samples,
per-span Spark counters, streaming progress) into the metrics the
benchmark prints.
"""
import datetime as dt
import decimal
import glob
import hashlib
import json
import math
import os
import re
import statistics

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _check(name, ok, detail=""):
    return {"name": name, "ok": bool(ok), "detail": "" if ok else detail}


# ---------------------------------------------------------------- checks

def _close(a, b):
    return a is not None and abs(a - b) <= 1e-6 * max(1.0, abs(b))


def verify_ohlcv(rec, inp):
    with open(os.path.join(inp, "expected.json")) as f:
        expected = json.load(f)
    vals = rec["values"]
    out = []
    passes = vals.get("passes", 0)
    for coin, days in expected.items():
        for d in range(passes):
            want = days[d]
            key = f"dash/{coin}/{want['day']}"
            got = {k.rsplit("/", 1)[1]: v for k, v in vals.items() if k.startswith(key + "/")}
            ok = (got.get("rows") == want["rows"] and got.get("max_high") == want["max_high"]
                  and got.get("min_low") == want["min_low"]
                  and got.get("top_start") == want["top_start"]
                  and _close(got.get("top_vol"), want["top_vol"])
                  and got.get("day_rows") == want["day_rows"]
                  and _close(got.get("day_vol"), want["day_vol"])
                  and got.get("day_high") == want["day_high"]
                  and got.get("day_low") == want["day_low"]
                  and got.get("day_trades") == want["day_trades"])
            out.append(_check(f"{coin} dashboard after {want['day']}", ok,
                              f"got {got} want {want}"))
        if passes:
            rows = vals.get(f"ingest/{coin}/rows")
            out.append(_check(f"{coin} ingest row count", rows == days[passes - 1]["rows"],
                              f"got {rows} want {days[passes - 1]['rows']}"))
    return out


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6) + 0.0
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6) + 0.0
    if isinstance(v, int):
        return v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def fingerprint(columns, rows):
    """(row count, order-independent hash) over rows given as dicts:
    columns sorted by name, floats rounded to 6 places, rows sorted."""
    cols = sorted(columns)
    canon = sorted((repr(tuple(_canon(r[c]) for c in cols)) for r in rows))
    return len(canon), hashlib.sha1("\n".join(canon).encode()).hexdigest()[:16]


EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected")


def _sha(text):
    return hashlib.sha1(text.encode()).hexdigest()[:16]


def verify_oracle(rec, workload, corpus, refresh):
    """Each output's fingerprint against the oracle's. The oracle's
    fingerprint comes from expected/<workload>.json when it was computed
    there for the same corpus and the same oracle SQL; otherwise DuckDB
    runs the SQL now (and --refresh-expected stores the result)."""
    import pyarrow.parquet as pq
    path = os.path.join(EXPECTED, f"{workload}.json")
    store = {}
    if os.path.exists(path):
        with open(path) as f:
            store = json.load(f)
    variant = store.setdefault(os.path.basename(os.path.dirname(corpus)), {})
    con = None
    out = []
    for name in rec["outputs"]:
        files = glob.glob(os.path.join(rec["run_dir"], "w", "out", name, "*.parquet"))
        if not files:
            out.append(_check(f"{name} output", False, "no output written"))
            continue
        got_t = pq.read_table(files)
        got = fingerprint(got_t.column_names, got_t.to_pylist())
        sql = rec["oracle"].get(name)
        if sql is None:
            # no oracle registered: the weaker rows-only check
            out.append(_check(f"{name} returns rows", got[0] > 0, "0 rows"))
            continue
        want = variant.get(name)
        if not want or want["sql"] != _sha(sql):
            con = con or _duckdb(rec, corpus)
            try:
                res = con.execute(sql)
                cols = [d[0] for d in res.description]
                rows, h = fingerprint(cols, [dict(zip(cols, r)) for r in res.fetchall()])
            except Exception as e:  # an oracle that cannot run is a failed check
                out.append(_check(f"{name} oracle", False, str(e)[:300]))
                continue
            want = variant[name] = {"sql": _sha(sql), "columns": sorted(cols),
                                    "rows": rows, "hash": h}
        if want["columns"] != sorted(got_t.column_names):
            out.append(_check(f"{name} matches oracle", False,
                              f"columns {sorted(got_t.column_names)} vs {want['columns']}"))
            continue
        out.append(_check(f"{name} matches oracle", got == (want["rows"], want["hash"]),
                          f"spark {got} oracle {want}"))
    if con is not None:
        con.close()
        if refresh:
            os.makedirs(EXPECTED, exist_ok=True)
            with open(path, "w") as f:
                json.dump(store, f, indent=1, sort_keys=True)
    return out


def _duckdb(rec, corpus):
    import duckdb
    tmp = os.path.join(rec["run_dir"], "duckdb")
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar=false")
    con.execute("SET threads=4")
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET temp_directory='{tmp}'")
    for t in TABLES:
        path = os.path.join(corpus, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def verify(workload, rec, inp, refresh=False):
    if workload == "ohlcv_day":
        return verify_ohlcv(rec, inp)
    return verify_oracle(rec, workload, os.path.join(inp, "corpus"), refresh)


# --------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def pctl(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def metric(value, unit, n=1):
    return {"value": float(value), "unit": unit, "n": n}


def _samples(rec, prefix):
    """Every sample whose key starts with one of `prefix` (a tuple)."""
    return [v for k, xs in rec["samples"].items() if k.startswith(prefix) for v in xs]


OP_SAMPLES = {"ohlcv_day": ("tick_ms",), "drain_curate": ("read/", "serve/")}


def end_to_end(rec):
    """Medians over the run's passes. The read phase alone and per-call
    latencies spread too much between runs on a shared host to carry a
    bound; they are per-layer metrics."""
    s = rec["samples"]
    passes = [w + r for w, r in zip(s["write_s"], s["read_s"])]
    return {
        "setup_s": metric(median(s["setup_s"]), "s", len(s["setup_s"])),
        "pass_s": metric(median(passes), "s", len(passes)),
        "write_s": metric(median(s["write_s"]), "s", len(s["write_s"])),
        "store_mb": metric(median(s["store_mb"]), "MB", len(s["store_mb"])),
    }


MODULES = [
    "sources.Warehouse", "sources.Ohlcv", "sources.Interchange",
    "sources.DedupLayout", "sources.TextLayout", "sources.SubstrLayout",
    "sources.VectorLayout", "sources.LogCompaction",
    "streaming.DedupStream", "streaming.TextStream", "streaming.SubstrStream",
    "streaming.VectorStream",
    "operators.SimilarityQueries", "operators.TextQueries",
    "operators.DedupQueries", "operators.SubstrDedup",
    "CacheLife", "StoreMaintain", "Doctor"]
# StreamDrain's own step lines ("[drain] <step>   <seconds> s")
DRAIN_STEPS = {"base: dedup.materialize": "base_dedup", "base: text.materialize": "base_text",
               "base: substr.materialize": "base_substr",
               "base: vectors.materialize": "base_vectors", "land: held-out slices": "land",
               "drain: dedup ingest": "ingest_dedup", "drain: text ingest": "ingest_text",
               "drain: substr ingest": "ingest_substr", "drain: vector ingest": "ingest_vector",
               "maintain: all families": "maintain"}
STREAMS = ["dedup", "text", "substr", "vector"]
STORE_READS = ["dedup_clusters", "dedup_minhash_pairs", "dedup_substr_winnow_clean_tokens",
               "dedup_substr_winnow_spans", "dedup_survivors", "sim_ann_kmeans",
               "sim_knn_ann_auto", "sim_knn_ann_hier", "sim_knn_ann_kmeans",
               "text_token_freq"]
SPARK_FIELDS = [("jobs", "jobs", "count", 1), ("stages", "stages", "count", 1),
                ("tasks", "tasks", "count", 1), ("task_run_ms", "run_ms", "ms", 1),
                ("task_cpu_ms", "cpu_ms", "ms", 1), ("gc_ms", "gc_ms", "ms", 1),
                ("shuffle_write_mb", "shuffle_write", "MB", 1e-6),
                ("shuffle_read_mb", "shuffle_read", "MB", 1e-6),
                ("spill_mb", "spill", "MB", 1e-6), ("input_mb", "input", "MB", 1e-6),
                ("output_mb", "output", "MB", 1e-6)]


def drain_steps(log_path):
    """The first drain's step timings and its Doctor verdict, from the
    lines StreamDrain and Doctor print."""
    steps = {}
    if os.path.exists(log_path):
        with open(log_path) as f:
            for line in f:
                m = re.match(r"\[drain\] (.+?)\s+([0-9.]+) s$", line.strip())
                step = DRAIN_STEPS.get(m.group(1).strip()) if m else None
                if step and step not in steps:
                    steps[step] = float(m.group(2))
                m = re.match(r"\[doctor\] (\d+) checks, (\d+) failed$", line.strip())
                if m and "doctor_checks" not in steps:
                    steps["doctor_checks"], steps["doctor_failed"] = map(int, m.groups())
    return steps


def per_layer(workload, rec):
    """Per-layer metrics of a traced run. Spark counters cover the first
    lifecycle pass (spans `p1.*`), whose work is fixed by the inputs, so
    job and stage counts repeat exactly; metrics of layers the workload
    does not exercise read 0."""
    counters = [c for c in rec["counters"] if c["span"].startswith("p1.")]

    def tot(field, keep=lambda c: True):
        return sum(c[field] for c in counters if keep(c))

    spans = rec["spans"]
    p1_wall_ms = sum(s["end_ms"] - s["start_ms"] for s in spans
                     if s["name"] in ("p1.write", "p1.read"))
    m = {}
    for name, field, unit, scale in SPARK_FIELDS:
        m[f"spark.{name}"] = metric(tot(field) * scale, unit)
    m["spark.slot_busy_frac"] = metric(
        tot("run_ms") / (p1_wall_ms * rec["cores"]) if p1_wall_ms else 0.0, "ratio")
    for mod in MODULES + ["unattributed"]:
        by = lambda c, mod=mod: c["module"] == mod
        m[f"{mod}.jobs"] = metric(tot("jobs", by), "count")
        m[f"{mod}.task_run_ms"] = metric(tot("run_ms", by), "ms")

    s, vals = rec["samples"], rec["values"]
    # Pipeline (ohlcv_day)
    ticks = s.get("tick_ms", [])
    p1_ticks = sum(1 for x in spans if x["name"] == "p1.tick")
    tenth = max(len(ticks) // 10, 1)
    m["pipeline.tick_p50_ms"] = metric(median(ticks), "ms", len(ticks))
    m["pipeline.tick_p95_ms"] = metric(pctl(ticks, 0.95), "ms", len(ticks))
    m["pipeline.tick_jobs"] = metric(
        tot("jobs", lambda c: c["span"] == "p1.tick") / p1_ticks if p1_ticks else 0, "count")
    m["pipeline.tick_growth"] = metric(
        (sum(ticks[-tenth:]) / sum(ticks[:tenth])) if ticks else 0, "ratio", len(ticks))
    m["pipeline.closeout_s"] = metric(median(s.get("closeout_ms", [])) / 1e3, "s",
                                      len(s.get("closeout_ms", [])))
    m["pipeline.dashboard_s"] = metric(median(s.get("dashboard_ms", [])) / 1e3, "s",
                                       len(s.get("dashboard_ms", [])))
    m["warehouse.files"] = metric(vals.get("warehouse.files", 0), "count")
    m["warehouse.bytes_per_row"] = metric(vals.get("warehouse.bytes_per_row", 0), "B")

    # both workloads: the read phase and the unit-call latency
    ops = _samples(rec, OP_SAMPLES[workload])
    m["lifecycle.read_s"] = metric(median(s["read_s"]), "s", len(s["read_s"]))
    m["lifecycle.op_p50_ms"] = metric(median(ops), "ms", len(ops))

    # the store day's phases (drain_curate), first pass
    first = lambda k: (s.get(k) or [0])[0] / 1e3
    m["lifecycle.drain_s"] = metric(first("drain_ms"), "s")
    m["lifecycle.drain_jobs"] = metric(tot("jobs", lambda c: c["span"] == "p1.drain"), "count")
    m["lifecycle.store_read_s"] = metric(first("store_read_ms"), "s")
    m["lifecycle.serve_s"] = metric(first("serve_ms"), "s")
    steps = drain_steps(os.path.join(rec["run_dir"], "jvm.log"))
    for step in DRAIN_STEPS.values():
        m[f"drain.{step}_s"] = metric(steps.get(step, 0), "s")

    # serving: first-touch latency per curation stage, first pass
    queries = {k[len("serve/"):]: first(k) for k in s if k.startswith("serve/")}
    qjobs = {}
    for c in counters:
        if c["span"].startswith("p1.serve."):
            q = c["span"][len("p1.serve."):]
            qjobs[q] = qjobs.get(q, 0) + c["jobs"]
    m["serve.jobs"] = metric(sum(qjobs.values()), "count", len(qjobs))
    m["serve.stage_max_ms"] = metric(max(queries.values(), default=0) * 1e3, "ms", len(queries))
    m["serve.queries_ge10_jobs"] = metric(sum(1 for j in qjobs.values() if j >= 10), "count")
    m["serve.store_writes"] = metric(vals.get("serve.store_writes", 0), "count")

    # streaming (drain): micro-batch progress, streams in start order
    streams = rec.get("streams", [])
    for i, name in enumerate(STREAMS):
        b = streams[i] if i < len(streams) else []
        ms = [x[0] for x in b]
        rows = sum(x[1] for x in b)
        m[f"stream.{name}.batch_p50_ms"] = metric(median(ms), "ms", len(ms))
        m[f"stream.{name}.rows_per_s"] = metric(rows / (sum(ms) / 1e3) if sum(ms) else 0, "1/s")
    m["drain.root_files"] = metric(vals.get("drain.root_files", 0), "count")
    m["doctor.checks"] = metric(steps.get("doctor_checks", 0), "count")
    m["doctor.failed"] = metric(steps.get("doctor_failed", 0), "count")
    for q in STORE_READS:
        m[f"read.{q}_ms"] = metric(first(f"read/{q}") * 1e3, "ms")

    m["jvm.peak_rss_mb"] = metric(vals.get("peak_rss_mb", 0), "MB")
    # process CPU (driver, local executors, JIT, GC) over the first pass
    m["jvm.pass_cpu_s"] = metric(sum(x["cpu_ms"] for x in spans
                                     if x["name"] in ("p1.write", "p1.read")) / 1e3, "s")
    # the listeners' own event-handling time over the traced run's wall
    m["trace.overhead_frac"] = metric(
        vals.get("trace.busy_ms", 0) / vals["trace.wall_ms"] if vals.get("trace.wall_ms") else 0,
        "ratio")
    return m
