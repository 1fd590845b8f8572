"""The benchmark's arithmetic, kept apart from the harness so it can be
tested on its own (test_perfbench.py): percentiles with their sample
count, geometric means, span self time, error accounting, and the
end-to-end and per-layer metrics computed from the harness's raw run
record."""
import math
import statistics

# The analytics mix by module: each query gets its own per-layer
# `<module>.<query>.*` metrics.
PER_QUERY = {
    "graph": ["g11_pagerank", "g16_prob_bsp"],
    "llm": ["llm_dedup_clusters"],
    "operators": ["tpch_q9", "tpch_q6", "w1_top1_per_group"],
}
STREAM_DURATIONS = {
    "trigger_ms": "triggerExecution", "addBatch_ms": "addBatch",
    "walCommit_ms": "walCommit", "commitOffsets_ms": "commitOffsets",
    "queryPlanning_ms": "queryPlanning", "latestOffset_ms": "latestOffset",
    "getBatch_ms": "getBatch",
}


def percentile(values, q):
    """Linear-interpolated percentile (q in [0, 1]) and the sample count.
    Returns (None, 0) for no samples."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, 0
    pos = (n - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def geomean(values):
    xs = list(values)
    if not xs or any(x <= 0 for x in xs):
        return None
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def median(values, default=0.0):
    xs = list(values)
    return statistics.median(xs) if xs else default


def mean(values, default=0.0):
    xs = list(values)
    return sum(xs) / len(xs) if xs else default


def covered(intervals, lo=None, hi=None):
    """Total length of the union of [start, end] intervals, each clipped
    to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> self time: the span's duration minus the part of it
    its direct children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        dur = s["end_ms"] - s["start_ms"]
        out[s["id"]] = dur - covered(kids, s["start_ms"], s["end_ms"])
    return out


def account(ops):
    """(attempted, failed, error_rate): a thrown op and an op with a wrong
    result both count as failed; neither contributes a latency."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    return attempted, failed, (failed / attempted if attempted else 0.0)


def fingerprints_match(got, want, rel=1e-7):
    """Compare two result fingerprints (see fingerprint.py): row count and
    row hash exactly; each float column's sum and row-weighted sum to a
    relative tolerance of its sum of |x|."""
    if got is None or want is None:
        return False
    if got["rows"] != want["rows"] or got["hash"] != want["hash"]:
        return False
    if set(got["floats"]) != set(want["floats"]):
        return False
    for col, (s, sabs, n, ws) in want["floats"].items():
        gs, _, gn, gws = got["floats"][col]
        if gn != n or abs(gs - s) > rel * (sabs + 1.0) or abs(gws - ws) > rel * (sabs + 1.0):
            return False
    return True


def wall_s(ops):
    if not ops:
        return 0.0
    start = min(o["start_ms"] for o in ops) / 1e3
    end = max(o["start_ms"] / 1e3 + o["latency_s"] for o in ops)
    return end - start


def rate(ops):
    ok = [o for o in ops if o["ok"]]
    w = wall_s(ops)
    return len(ok) / w if w > 0 else 0.0


def trace_overhead(untraced, traced):
    """Traced ops/s over untraced ops/s, each as ops per second of summed
    op latency over the op names both phases ran, so a round that has an
    op the other lacks (a compaction) does not skew the ratio."""
    names = {o["name"] for o in untraced if o["ok"]} & {o["name"] for o in traced if o["ok"]}

    def ops_per_s(ops):
        lat = [o["latency_s"] for o in ops if o["ok"] and o["name"] in names]
        return len(lat) / sum(lat) if lat and sum(lat) > 0 else 0.0

    base = ops_per_s(untraced)
    return ops_per_s(traced) / base if base > 0 else 0.0


def _lat(ops, pred=lambda o: True):
    return [o["latency_s"] for o in ops if o["ok"] and pred(o)]


def _read_latencies(ops):
    """Reads: every analytics query and kv_churn read op; for stream_cdc
    the derived-table read that checks each round's fold."""
    reads = _lat(ops, lambda o: o["kind"] == "read")
    reads += [o["extra"]["read_s"] for o in ops if o["ok"] and "read_s" in o["extra"]]
    return reads


def end_to_end(raw, ops):
    """The bounded metrics, with sample counts: name -> (value, unit, n)."""
    lat = _lat(ops)
    p50, n = percentile(lat, 0.5)
    p90, _ = percentile(lat, 0.9)
    by_name = {}
    for o in ops:
        if o["ok"]:
            by_name.setdefault(o["name"], []).append(o["latency_s"])
    return {
        "setup_s": (raw["setup_s"], "s", 1),
        "ops_per_s": (rate(ops), "1/s", len(lat)),
        "op_p50_s": (p50, "s", n),
        "op_p90_s": (p90, "s", n),
        "query_geomean_s": (geomean(median(v) for v in by_name.values()), "s", len(by_name)),
    }


def workload_specific(raw, ops):
    """End-to-end metrics that exist only on some workloads (0 elsewhere):
    name -> (value, unit, n)."""
    ok = [o for o in ops if o["ok"]]
    puts = [o["latency_s"] for o in ok if o["name"] in ("put", "delete")]
    puts += [o["extra"]["commit_s"] for o in ok if "commit_s" in o["extra"]]
    fresh = [o["extra"]["freshness_s"] for o in ok if "freshness_s" in o["extra"]]
    rows = sum(o["extra"].get("source_rows", 0.0) for o in ok)
    w = wall_s(ops)
    _, _, err = account(raw["warmup"] + raw["ops"])
    p50, pn = percentile(puts, 0.5)
    f50, fn = percentile(fresh, 0.5)
    f90, _ = percentile(fresh, 0.9)
    reads = _read_latencies(ops)
    r50, rn = percentile(reads, 0.5)
    r90, _ = percentile(reads, 0.9)
    return {
        "read_p50_s": (r50 or 0.0, "s", rn),
        "read_p90_s": (r90 or 0.0, "s", rn),
        "put_p50_s": (p50 or 0.0, "s", pn),
        "kv_space_amp": (raw["end_metrics"].get("kv_space_amp", 0.0), "ratio", 1),
        "freshness_p50_s": (f50 or 0.0, "s", fn),
        "freshness_p90_s": (f90 or 0.0, "s", fn),
        "stream_rows_per_s": (rows / w if w > 0 and fresh else 0.0, "1/s", fn),
        "error_rate": (err, "ratio", len(raw["warmup"]) + len(raw["ops"])),
    }


def per_layer(raw, untraced, traced):
    """The traced run's per-layer metrics: name -> (value, unit, n)."""
    report = raw["trace"]
    spans = report["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def subtree(s):
        out = [s]
        for c in kids.get(s["id"], []):
            out += subtree(c)
        return out

    ok = [o for o in traced if o["ok"]]
    roots = {s["op"]: s for s in spans if s["parent"] < 0}
    per_op = []
    for o in ok:
        root = roots.get(o["id"])
        if root is None:
            continue
        tree = subtree(root)
        tot = {k: sum(x[k] for x in tree) for k in (
            "jobs", "stages", "tasks", "task_busy_ms", "shuffle_write_b",
            "shuffle_read_b", "spill_b", "input_rows", "input_b", "executions",
            "analysis_ms", "optimization_ms", "planning_ms")}
        intervals = [tuple(iv) for x in tree for iv in x["task_intervals"]]
        wall_ms = root["end_ms"] - root["start_ms"]
        tot["gap_ms"] = wall_ms - covered(intervals, root["start_ms"], root["end_ms"])
        per_op.append(tot)
    n = len(per_op)

    def m(key, scale=1.0):
        return (mean(p[key] for p in per_op) * scale, n)

    out = {}
    for name, key, unit, scale in [
            ("spark.jobs", "jobs", "count", 1), ("spark.stages", "stages", "count", 1),
            ("spark.tasks", "tasks", "count", 1),
            ("spark.driver_gap_s", "gap_ms", "s", 1e-3),
            ("spark.task_busy_s", "task_busy_ms", "s", 1e-3),
            ("spark.shuffle_write_mb", "shuffle_write_b", "MB", 1e-6),
            ("spark.shuffle_read_mb", "shuffle_read_b", "MB", 1e-6),
            ("spark.spill_mb", "spill_b", "MB", 1e-6),
            ("spark.input_rows", "input_rows", "count", 1),
            ("spark.input_mb", "input_b", "MB", 1e-6),
            ("plans.analysis_ms", "analysis_ms", "ms", 1),
            ("plans.optimization_ms", "optimization_ms", "ms", 1),
            ("plans.planning_ms", "planning_ms", "ms", 1),
            ("plans.executions", "executions", "count", 1)]:
        v, k = m(key, scale)
        out[name] = (v, unit, k)
    out["jvm.gc_s"] = (mean(o["gc_s"] for o in ok), "s", len(ok))
    out["jvm.heap_peak_mb"] = (max((o["heap_peak_mb"] for o in ok), default=0.0), "MB", len(ok))

    def med_lat(pred):
        xs = _lat(traced, pred)
        return (median(xs), len(xs))

    for module in ("operators", "graph", "llm"):
        v, k = med_lat(lambda o, mod=module: o["module"] == mod)
        out[f"{module}.wall_s"] = (v, "s", k)
    jobs_by_op = {}
    for o, p in zip([o for o in ok if o["id"] in roots], per_op):
        jobs_by_op.setdefault(o["name"], []).append(p["jobs"])
    for module, names in PER_QUERY.items():
        for q in names:
            v, k = med_lat(lambda o, q=q: o["name"] == q)
            out[f"{module}.{q}.wall_s"] = (v, "s", k)
            out[f"{module}.{q}.jobs"] = (mean(jobs_by_op.get(q, [])), "count", k)
    for op in ("put", "delete", "merge", "compact"):
        # stream_cdc's puts, deletes and merges sit inside its rounds
        xs = _lat(traced, lambda o, op=op: o["name"] == op)
        xs += [o["extra"][f"{op}_s"] for o in ok if f"{op}_s" in o["extra"]]
        out[f"write.{op}_s"] = (median(xs), "s", len(xs))
    written = [o["extra"]["written_bytes"] / 1e6 for o in ok if "written_bytes" in o["extra"]]
    out["write.bytes_written_mb"] = (mean(written), "MB", len(written))
    out["write.amp"] = (raw["end_metrics"].get("write_amp", 0.0), "ratio", 1)
    for op in ("resolve", "asof", "changes", "lookup"):
        v, k = med_lat(lambda o, op=op: o["name"] == op)
        out[f"sources.kv.{op}_s"] = (v, "s", k)
    reads = [o["extra"]["read_s"] for o in ok if "read_s" in o["extra"]]
    if reads:
        out["sources.kv.resolve_s"] = (median(reads), "s", len(reads))
    shaped = [o["extra"] for o in ok if "log_files" in o["extra"]]
    amps = [e["stored_rows"] / e["live_cells"] for e in shaped
            if e.get("live_cells", 0) > 0 and "stored_rows" in e]
    out["sources.kv.read_amp"] = (median(amps), "ratio", len(amps))
    out["sources.kv.log_files"] = (median(e["log_files"] for e in shaped), "count", len(shaped))
    out["sources.kv.log_mb"] = (median(e["log_mb"] for e in shaped), "MB", len(shaped))

    data = [p for p in report["progress"] if "addBatch" in p["durations"]]
    for name, key in STREAM_DURATIONS.items():
        xs = [p["durations"].get(key, 0) for p in data]
        out[f"streaming.{name}"] = (mean(xs), "ms", len(xs))
    stateful = [p for p in data if p["state_rows"] > 0 or p["state_bytes"] > 0]
    out["streaming.state_commit_ms"] = (mean(p["state_commit_ms"] for p in stateful), "ms", len(stateful))
    out["streaming.state_rows"] = (mean(p["state_rows"] for p in stateful), "count", len(stateful))
    out["streaming.state_mb"] = (mean(p["state_bytes"] / 1e6 for p in stateful), "MB", len(stateful))
    bj = [b["jobs"] for b in report["batch_jobs"]]
    out["streaming.jobs_per_trigger"] = (mean(bj), "count", len(bj))
    out["streaming.input_rows"] = (mean(p["input_rows"] for p in data), "count", len(data))

    out["trace.overhead"] = (trace_overhead(untraced, traced), "ratio", len(traced))
    out.update(workload_specific(raw, untraced))
    return out
