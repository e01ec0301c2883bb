"""Output checks and metric reports for perfbench/run.py."""
import datetime
import decimal
import hashlib
import math
import statistics

import duckdb
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# per-layer metrics, in BENCHMARK.json order; a metric that does not apply
# to a workload reads 0
PER_EXEC = ["build_s", "analysis_s", "optimization_s", "planning_s", "exec_s",
            "jobs", "stages", "tasks", "slot_busy_share", "task_run_s",
            "task_cpu_s", "task_gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
            "shuffle_fetch_wait_s", "spill_bytes", "input_bytes", "scan_time_s"]
STREAM = ["batches", "trigger_ms", "add_batch_ms", "wal_commit_ms",
          "commit_offsets_ms", "backlog_rows_max", "generator_late_ms",
          "sink_write_ms", "state_rows_total", "state_rows_updated",
          "state_memory_bytes", "state_commit_ms", "rocksdb_flush_ms",
          "rocksdb_checkpoint_ms", "rocksdb_sst_bytes", "drain_rows_per_s_local1"]
RUN = ["p50_latency_ms", "tail_latency_ms", "codegen_errors", "error_rate", "gc_s", "heap_peak_mb",
       "peak_rss_mb", "trace_overhead_ms"]
PER_LAYER = PER_EXEC + STREAM + RUN
UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "batches": "count",
         "slot_busy_share": "ratio", "error_rate": "ratio", "codegen_errors": "count",
         "backlog_rows_max": "rows", "state_rows_total": "rows",
         "state_rows_updated": "rows", "drain_rows_per_s_local1": "rows/s",
         "heap_peak_mb": "MB", "peak_rss_mb": "MB", "queries_per_s": "1/s",
         "drain_rows_per_s": "rows/s", "throughput_per_s": "1/s"}


def unit(name):
    if name in UNITS:
        return UNITS[name]
    for suffix, u in (("_bytes", "bytes"), ("_ms", "ms"), ("_s", "s")):
        if name.endswith(suffix):
            return u
    return "count"


# ---------------------------------------------------------------- checks

def canon(v):
    """One representation per value across pyarrow (Spark output) and DuckDB."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return 0.0 if v == 0 else v
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon(x)) for k, x in v.items()))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    return v


def rows(table):
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return cols, [tuple(canon(x) for x in r) for r in zip(*data)]


def _sort_key(row):
    # exact columns first, then doubles at a precision coarser than the
    # tolerance, so rows that differ only within it still line up
    return (repr(tuple(x for x in row if not isinstance(x, float))),
            repr(tuple(round(x, 3) for x in row if isinstance(x, float))))


def _near(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= DOUBLE_ABS + DOUBLE_REL * abs(a)
    return a == b


# Doubles leave every query rounded to 6 decimals (graft.Q.norm), and the
# engine's alternative tiers agree with each other to 1e-9 relative (the scan
# arm vs the window arm, DashboardScanSpec). A double therefore matches its
# oracle when it is within one unit of the 6th decimal plus that relative
# precision; every other value must be equal.
DOUBLE_ABS = 1.0000001e-6
DOUBLE_REL = 1e-9


def compare(want, got):
    """None when `got` equals the oracle's rows in any order, else the
    problem. Also returns how many doubles differed within the tolerance."""
    wc, wr = rows(want)
    gc, gr = rows(got)
    if wc != gc:
        return f"columns {gc} vs oracle {wc}", 0
    if len(wr) != len(gr):
        return f"{len(gr)} rows vs oracle {len(wr)}", 0
    if sorted(map(repr, wr)) == sorted(map(repr, gr)):
        return None, 0
    near = bad = 0
    example = None
    for w, g in zip(sorted(wr, key=_sort_key), sorted(gr, key=_sort_key)):
        for c, x, y in zip(wc, w, g):
            if x == y:
                continue
            if _near(x, y):
                near += 1
            else:
                bad += 1
                example = example or f"{c}: {y!r} vs oracle {x!r}"
    return (f"{bad} cells differ from the oracle, e.g. {example}" if bad else None), near


def oracle_table(sql, data_dir, cache_dir):
    key = hashlib.sha256((sql + data_dir.name).encode()).hexdigest()[:24]
    f = cache_dir / f"{key}.parquet"
    if not f.exists():
        con = duckdb.connect(config={"memory_limit": "1GB", "threads": 2})
        con.execute("SET enable_progress_bar = false")
        for t in TABLES:
            p = data_dir / f"{t}.parquet"
            if p.exists():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        cache_dir.mkdir(parents=True, exist_ok=True)
        pq.write_table(con.execute(sql).arrow(), f.with_suffix(".tmp"))
        con.close()
        f.with_suffix(".tmp").rename(f)
    return pq.read_table(f)


def check_batch(res, check_dir, data_dir, cache_dir):
    """Compare each check-pass output with its DuckDB oracle. Returns
    ({query: problem or None}, {query: doubles within tolerance})."""
    problems, near = {}, {}
    for c in res["check"]:
        q = c["query"]
        sql = res["oracle_sql"].get(q)
        if c["error"]:
            problems[q] = f"failed: {c['error']}"
        elif sql is None:
            problems[q] = "no DuckDB oracle to check against"
        else:
            problems[q], near[q] = compare(oracle_table(sql, data_dir, cache_dir),
                                           pq.read_table(check_dir / q))
    return problems, near


# ---------------------------------------------------------------- metrics

def tail(values):
    """Highest whole percentile with at least ten samples above it (nearest
    rank). Below 20 samples no percentile above the median has ten samples
    beyond it, and the maximum is reported instead."""
    s = sorted(values)
    n = len(s)
    if n < 20:
        return s[-1], 100, n
    p = math.floor(100 * (n - 10) / n)
    rank = max(1, math.ceil(p / 100 * n))
    return s[rank - 1], p, n


def batch_report(res, setup_s, trace, checks, near):
    ex = res["executions"]
    timed = [e for e in ex if not e["traced"]]
    ok = [e["seconds"] for e in timed if not e["error"]]
    ran = res["warmup"] + ex  # warm-up round (-1) and timed rounds
    n_fail = sum(1 for e in ran if e["error"]) + sum(1 for v in checks.values() if v)
    attempted = len(ran) + len(checks)
    p50 = statistics.median(ok) if ok else 0.0
    t, tp, tn = tail(ok) if ok else (0.0, 0, 0)
    qps = len(ok) / res["timed_wall_s"] if ok and not trace else 0.0
    rounds = res["round_s"]
    per_query = {}
    for q in res["queries"]:
        mine = [e for e in ex if e["query"] == q]
        per_query[q] = {
            "warmup_s": [e["seconds"] for e in res["warmup"] if e["query"] == q],
            "seconds": [e["seconds"] for e in mine],
            "traced": [e["traced"] for e in mine],
            "check_s": next(c["seconds"] for c in res["check"] if c["query"] == q),
            "check": checks.get(q) or "ok",
            "doubles_within_tolerance": near.get(q, 0),
            "layers": layer_means([e for e in mine if e["traced"]], res["env"]["cpus"])}
    named = {
        "setup_s": setup_s, "query_p50_s": p50, "query_tail_s": t,
        "queries_per_s": qps, "error_rate": n_fail / attempted,
        "peak_rss_mb": res["peak_rss_mb"]}
    problems = {q: v for q, v in checks.items() if v}
    problems.update({f"{e['query']} (round {e['round']})": e["error"] for e in ran if e["error"]})
    if res["codegen_errors"]:
        problems["codegen"] = f"{res['codegen_errors']} generated-code compile errors"
    artifact = {
        "named_metrics": named, "query_tail": {"percentile": tp, "n": tn},
        "rounds": len(rounds), "round_s": rounds,
        "drift": rounds[-1] / rounds[0] if rounds else None,
        "per_query": per_query, "problems": problems}
    if trace:
        traced = [e for e in ex if e["traced"]]
        layers = layer_means(traced, res["env"]["cpus"])
        diffs = []
        for q in res["queries"]:
            a = [e["seconds"] for e in ex if e["query"] == q and e["traced"] and not e["error"]]
            b = [e["seconds"] for e in ex if e["query"] == q and not e["traced"] and not e["error"]]
            if a and b:
                diffs.append(statistics.median(a) - statistics.median(b))
        layers.update({
            "codegen_errors": res["codegen_errors"], "error_rate": n_fail / attempted,
            "gc_s": res["gc_s"], "heap_peak_mb": res["heap_peak_mb"],
            "peak_rss_mb": res["peak_rss_mb"],
            "p50_latency_ms": p50 * 1000, "tail_latency_ms": t * 1000,
            "trace_overhead_ms": 1000 * statistics.median(diffs) if diffs else 0.0})
        metrics = layer_metrics(layers)
        artifact["layers"] = layers
    else:
        metrics = e2e_metrics(setup_s, qps)
    return {"metrics": metrics, "artifact": artifact,
            "correct": not problems, "attempted": attempted, "failed": n_fail,
            "problems": problems,
            "cache": "inputs pre-touched; warehouse artifacts built by the check pass"}


def layer_means(execs, cpus):
    if not execs:
        return {k: 0.0 for k in PER_EXEC}
    out = {k: statistics.fmean(e.get(k, 0.0) for e in execs)
           for k in PER_EXEC if k != "slot_busy_share"}
    wall = sum(e["seconds"] for e in execs)
    out["slot_busy_share"] = sum(e.get("task_run_s", 0.0) for e in execs) / (wall * cpus)
    return out


def stream_report(res, setup_s, trace):
    lat = res["open_latency_ms"]
    done = [x for x in lat if x >= 0]
    bad = res["n_bad_chunks"] + (1 if res["sampled_mismatches"] else 0)
    attempted = res["chunks"]
    p50 = statistics.median(done) if done else 0.0
    p99 = sorted(done)[max(0, math.ceil(0.99 * len(done)) - 1)] if done else 0.0
    drain = statistics.median(res["drain_rows_per_s"])
    named = {"setup_s": setup_s, "tick_latency_p50_ms": p50,
             "tick_latency_p99_ms": p99, "drain_rows_per_s": drain,
             "error_rate": bad / attempted, "peak_rss_mb": res["peak_rss_mb"]}
    problems = {}
    if res["n_bad_chunks"]:
        problems["chunks"] = (f"{res['n_bad_chunks']} chunks missing or with a wrong "
                              f"row count, e.g. {res['bad_chunks'][:5]}")
    if res["sampled_mismatches"]:
        problems["cascade"] = (f"{res['sampled_mismatches']} sampled-key rows differ "
                               "from Pipeline.indicatorCascadeBatch")
    if res["codegen_errors"]:
        problems["codegen"] = f"{res['codegen_errors']} generated-code compile errors"
    artifact = {"named_metrics": named, "tick_latency_n": len(done),
                "offered_ticks_per_s": res["offered_ticks_per_s"],
                "drain_rows_per_s_runs": res["drain_rows_per_s"],
                "problems": problems}
    if trace:
        open_b = [p for p in res["progress"] if p["phase"] == "open"]

        def med(key):
            xs = [p["duration_ms"].get(key, 0) for p in open_b]
            return statistics.median(xs) if xs else 0.0

        def rsum(key):
            return sum(p["rocksdb"].get(key, 0) for p in open_b)

        last = open_b[-1] if open_b else {}
        nb = max(1, res["traced_batches"])
        acc = res["trace_acc"] or {}
        tr = res["traced_chunks"] or []
        on = [c["latency_ms"] for c in tr if c["traced"] and c["latency_ms"] >= 0]
        off = [c["latency_ms"] for c in tr if not c["traced"] and c["latency_ms"] >= 0]
        layers = {k: 0.0 for k in PER_EXEC}
        layers.update({k: acc.get(k, 0.0) / nb for k in PER_EXEC if k in acc})
        layers.update({
            "batches": len(open_b), "trigger_ms": med("triggerExecution"),
            "add_batch_ms": med("addBatch"), "wal_commit_ms": med("walCommit"),
            "commit_offsets_ms": med("commitOffsets"),
            "backlog_rows_max": res["backlog_rows_max"],
            "generator_late_ms": max(res["generator_late_ms"], default=0.0),
            "sink_write_ms": statistics.median(res["sink_write_ms"]) if res["sink_write_ms"] else 0.0,
            "state_rows_total": last.get("state_rows_total", 0),
            "state_rows_updated": sum(p["state_rows_updated"] for p in open_b),
            "state_memory_bytes": last.get("state_memory_bytes", 0),
            "state_commit_ms": statistics.median([p["state_commit_ms"] for p in open_b]) if open_b else 0.0,
            "rocksdb_flush_ms": rsum("rocksdbCommitFlushLatency"),
            "rocksdb_checkpoint_ms": rsum("rocksdbCommitCheckpointLatency"),
            "rocksdb_sst_bytes": last.get("rocksdb", {}).get("rocksdbSstFileSize", 0),
            "drain_rows_per_s_local1": res["drain_rows_per_s_local1"] or 0.0,
            "codegen_errors": res["codegen_errors"], "error_rate": bad / attempted,
            "gc_s": res["gc_s"], "heap_peak_mb": res["heap_peak_mb"],
            "peak_rss_mb": res["peak_rss_mb"],
            "p50_latency_ms": p50, "tail_latency_ms": p99,
            "trace_overhead_ms": (statistics.median(on) - statistics.median(off)) if on and off else 0.0})
        metrics = layer_metrics(layers)
        artifact["layers"] = layers
    else:
        metrics = e2e_metrics(setup_s, drain)
    return {"metrics": metrics, "artifact": artifact,
            "correct": not problems, "attempted": attempted, "failed": bad,
            "problems": problems, "cache": "not applicable (generated ticks)"}


def e2e_metrics(setup_s, throughput):
    """The BENCHMARK.json end-to-end metrics. `throughput_per_s` is
    queries/s on batch workloads and drain rows/s on the stream."""
    vals = {"setup_s": (setup_s, "s"), "throughput_per_s": (throughput, "1/s")}
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def layer_metrics(layers):
    return {k: {"value": float(layers.get(k, 0.0)), "unit": unit(k)} for k in PER_LAYER}


QUERY_COLS = ["build_s", "analysis_s", "optimization_s", "planning_s", "exec_s",
              "jobs", "stages", "tasks", "task_run_s", "shuffle_read_bytes"]


def print_table(workload, artifact):
    """The workload's metrics by name and unit; when traced, also the
    per-layer table and the per-query layer split."""
    print(f"== perfbench {workload}")
    for k, v in artifact["named_metrics"].items():
        print(f"  {k:<24} {v:>14.6g} {unit(k)}")
    if "layers" in artifact:
        print("== per layer (traced)")
        for k in PER_LAYER:
            print(f"  {k:<24} {artifact['layers'].get(k, 0.0):>14.6g} {unit(k)}")
        per_query = artifact.get("per_query", {})
        if per_query:
            print("  " + "query".ljust(24) + "".join(c.rjust(19) for c in QUERY_COLS))
            for q, d in per_query.items():
                print("  " + q.ljust(24) + "".join(f"{d['layers'].get(c, 0.0):>19.4g}"
                                                   for c in QUERY_COLS))
    for k, v in artifact["problems"].items():
        print(f"  PROBLEM {k}: {v}")
