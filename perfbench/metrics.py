"""Turn a run's records (`records.jsonl`) and summary into metrics.

Pure functions only, so the benchmark's own tests can exercise them.
All per-layer times and counts are per operation: the mean over the
traced operations of a run.
"""
import math
import statistics

MB = 1048576.0

# Span kinds in nesting order, outermost first, with the layer each
# one's self time is charged to.
SPAN_LAYERS = [("op", "op"), ("entry", "entry"), ("lake", "lake"), ("batch", "stream"),
               ("sql", "sql"), ("job", "exec")]
RANK = {k: i for i, (k, _) in enumerate(SPAN_LAYERS)}
LAYER = dict(SPAN_LAYERS)

LAKE_CALL_METRIC = {
    "append": "lake.append_ms", "append_part": "lake.append_part_ms",
    "merge": "lake.merge_ms", "merge_dv": "lake.merge_dv_ms",
    "delete": "lake.delete_ms", "delete_dv": "lake.delete_dv_ms",
    "delete_keys": "lake.delete_keys_ms", "update": "lake.update_ms",
    "update_dv": "lake.update_dv_ms", "sql_merge_cdf": "lake.sql_dml_cdf_ms",
    "sql_delete_cdf": "lake.sql_dml_cdf_ms", "read": "lake.read_ms",
    "read_at": "lake.read_at_ms", "changes": "lake.changes_ms", "changes_typed": "lake.changes_typed_ms",
    "compact": "lake.compact_ms", "vacuum": "lake.vacuum_ms", "snapshot": "lake.snapshot_ms",
}
STREAM_PHASES = {"latestOffset": "stream.latest_offset_ms", "getBatch": "stream.get_batch_ms",
                 "queryPlanning": "stream.query_planning_ms", "addBatch": "stream.add_batch_ms",
                 "walCommit": "stream.wal_commit_ms", "commitOffsets": "stream.commit_offsets_ms"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(values):
    """The highest percentile (at most p90) that has at least ten samples
    beyond it, by nearest rank. Returns (value, percentile, samples).

    With 100 or more samples this is p90; with fewer, the percentile
    drops so that ten samples stay above it (p78 of 46 samples). Below
    twenty samples not even the median has ten beyond it, and the
    median is returned.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0, 0
    if n < 20:
        return median(xs), 50, n
    p = min(90, math.floor(100 * (n - 10) / n))
    rank = max(1, math.ceil(p * n / 100))
    return xs[rank - 1], p, n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals`, clipped to [lo, hi] if given."""
    segs = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            segs.append((a, b))
    segs.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def build_tree(spans):
    """Parent for each span of one operation: the innermost span of an
    outer kind that contains its start; a job goes under its own SQL
    execution when that execution is among the spans. Returns
    {id(span): parent span or None}."""
    by_exec = {s["exec"]: s for s in spans if s["t"] == "sql"}
    parent = {}
    ordered = sorted(spans, key=lambda s: RANK[s["t"]])
    for s in ordered:
        if s["t"] == "op":
            parent[id(s)] = None
            continue
        if s["t"] == "job" and s.get("exec", -1) in by_exec:
            parent[id(s)] = by_exec[s["exec"]]
            continue
        best = None
        for c in ordered:
            if RANK[c["t"]] >= RANK[s["t"]]:
                break
            if c["start"] <= s["start"] <= c["end"]:
                if best is None or (c["end"] - c["start"]) <= (best["end"] - best["start"]):
                    best = c
        parent[id(s)] = best
    return parent


def layer_self_times(spans):
    """Self time per layer (ms) over one operation's spans: each instant
    of the operation is charged to the innermost span open at it, so the
    layers partition the operation's wall time. A span's share is its
    duration minus the part its children cover; concurrent children
    (parallel jobs) are counted once, not once each."""
    parent = build_tree(spans)
    depth = {}

    def depth_of(s):
        if id(s) not in depth:
            p = parent[id(s)]
            depth[id(s)] = 0 if p is None else depth_of(p) + 1
        return depth[id(s)]

    ops = [s for s in spans if s["t"] == "op"]
    lo = min(s["start"] for s in ops) if ops else float("-inf")
    hi = max(s["end"] for s in ops) if ops else float("inf")
    cuts = sorted({min(max(t, lo), hi) for s in spans for t in (s["start"], s["end"])})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        open_ = [s for s in spans if s["start"] <= a and s["end"] >= b]
        if open_:
            inner = max(open_, key=lambda s: (depth_of(s), RANK[s["t"]]))
            layer = LAYER[inner["t"]]
            out[layer] = out.get(layer, 0.0) + (b - a)
    return out


def group_by_op(records):
    """Splits records into operations: {op id: {"op": rec, "spans": [...],
    "tasks": [...], "catalyst": [...], "batches": [...], "stages": [...]}}.

    Driver-side spans carry their op id; listener records are assigned
    by time (one client, so operations never overlap)."""
    ops = {r["op"]: {"op": r, "spans": [r], "tasks": [], "catalyst": [], "batches": [],
                     "stages": []}
           for r in records if r["t"] == "op"}
    windows = sorted((o["op"]["start"], o["op"]["end"], k) for k, o in ops.items())

    def owner(t):
        for a, b, k in windows:
            if a - 1 <= t <= b + 1:
                return k
        return None

    ends = {}
    for r in records:
        if r["t"] in ("job_end", "sql_end"):
            ends[(r["t"][:-4], r["job" if r["t"] == "job_end" else "exec"])] = r["end"]
    job_of_stage = {}
    for r in records:
        t = r["t"]
        if t in ("entry", "lake") and r["op"] in ops:
            ops[r["op"]]["spans"].append(r)
        elif t in ("job", "sql"):
            k = owner(r["start"])
            if k is None:
                continue
            ident = r["job"] if t == "job" else r["exec"]
            end = ends.get((t, ident), ops[k]["op"]["end"])
            ops[k]["spans"].append(dict(r, end=max(end, r["start"])))
            if t == "job":
                for st in r["stages"]:
                    job_of_stage[st] = k
        elif t == "catalyst":
            k = owner(r["end"])
            if k is not None:
                ops[k]["catalyst"].append(r)
        elif t == "batch":
            k = owner(r["start"])
            if k is not None:
                b = dict(r, end=r["start"] + r.get("triggerExecution", 0))
                ops[k]["batches"].append(b)
                ops[k]["spans"].append(dict(b, t="batch"))
    for r in records:
        if r["t"] in ("task", "stage") and r["stage"] in job_of_stage:
            ops[job_of_stage[r["stage"]]]["tasks" if r["t"] == "task" else "stages"].append(r)
    return ops


# The end-to-end metrics a run reports in its result line (the ones
# BENCHMARK.json gates on); the others are printed only.
E2E_REPORTED = ["setup_s", "ops_per_s"]


def end_to_end(records, summary, workload):
    """The end-to-end metrics of a run. Returns ({name: (value, unit)}
    for E2E_REPORTED, {name: (value, unit)} of the printed-only ones,
    info dict)."""
    ops = [r for r in records if r["t"] == "op"]
    lat = [(o["end"] - o["start"]) / 1e3 for o in ops]
    p90, pct, n = tail_percentile(lat)
    timed = sum(summary["pass_s"]) or 1e-9
    m = {
        "setup_s": (summary["setup_s"], "s"),
        "ops_per_s": (len(ops) / timed, "1/s"),
    }
    extra = {"op_p50_s": (median(lat), "s"), "op_p90_s": (p90, "s"),
             "peak_rss_mb": (summary["vm_hwm_mb"], "MB")}
    if workload == "lake_dml":
        lake = summary.get("lake", {})
        reads = [(o["end"] - o["start"]) / 1e3 for o in ops if o.get("class") == "read"]
        writes = [(o["end"] - o["start"]) / 1e3 for o in ops if o.get("class") == "write"]
        extra["read_p50_s"] = (median(reads), "s")
        extra["write_p50_s"] = (median(writes), "s")
        extra["write_amp"] = (lake.get("written_bytes", 0) / max(lake.get("user_bytes", 0), 1), "ratio")
        extra["space_amp"] = (lake.get("disk_bytes", 0) / max(lake.get("live_bytes", 0), 1), "ratio")
    if workload == "stream":
        windows = [(o["start"] - 1, o["end"] + 1) for o in ops]
        batches = [r for r in records if r["t"] == "batch"
                   and any(a <= r["start"] <= b for a, b in windows)]
        trig = [b.get("triggerExecution", 0) for b in batches]
        b90, bpct, bn = tail_percentile(trig)
        extra["batch_p50_ms"] = (median(trig), "ms")
        extra["batch_p90_ms"] = (b90, "ms")
        extra["stream_rows_per_s"] = (sum(b["input_rows"] for b in batches) / max(sum(trig), 1) * 1e3, "1/s")
        extra["_batch_tail"] = (bpct, bn)
    info = {"op_tail": (pct, n), "ops": len(ops)}
    return m, extra, info


def per_layer(records, summary, cores, host):
    """The traced run's per-layer metrics: {name: (value, unit)}."""
    all_ops = group_by_op(records)
    traced = [o for o in all_ops.values() if o["op"].get("traced")]
    untraced = [o for o in all_ops.values() if not o["op"].get("traced")]
    n = max(len(traced), 1)
    wall_ms = sum(o["op"]["end"] - o["op"]["start"] for o in traced) or 1e-9
    m = {}

    def per_op(name, total, unit):
        m[name] = (total / n, unit)

    def spans(o, kind, name=None):
        return [s for s in o["spans"] if s["t"] == kind and (name is None or s["name"] == name)]

    per_op("entry.build_s", sum(s["end"] - s["start"] for o in traced
                                for s in spans(o, "entry", "entry.build")) / 1e3, "s")
    per_op("entry.action_s", sum(s["end"] - s["start"] for o in traced
                                 for s in spans(o, "entry", "entry.action")) / 1e3, "s")

    cats = [c for o in traced for c in o["catalyst"]]
    per_op("catalyst.executions", len(cats), "count")
    for ph in ("analysis", "optimization", "planning"):
        per_op(f"catalyst.{ph}_s", sum(c.get(f"{ph}_ms", 0) for c in cats) / 1e3, "s")
    m["catalyst.share"] = (sum(c.get(f"{ph}_ms", 0) for c in cats
                               for ph in ("analysis", "optimization", "planning")) / wall_ms, "ratio")

    jobs = [s for o in traced for s in spans(o, "job")]
    tasks = [t for o in traced for t in o["tasks"]]
    per_op("exec.jobs", len(jobs), "count")
    per_op("exec.stages", sum(len(o["stages"]) for o in traced), "count")
    per_op("exec.tasks", len(tasks), "count")
    job_cover = {id(o): union_length([(s["start"], s["end"]) for s in spans(o, "job")],
                                     o["op"]["start"], o["op"]["end"]) for o in traced}
    per_op("exec.job_s", sum(job_cover.values()) / 1e3, "s")
    run_ms = sum(t["run_ms"] for t in tasks)
    per_op("exec.task_s", run_ms / 1e3, "s")
    per_op("exec.task_cpu_s", sum(t["cpu_ns"] for t in tasks) / 1e9, "s")
    m["exec.parallel_eff"] = (run_ms / (wall_ms * cores), "ratio")
    for key, name in (("shuffle_read", "exec.shuffle_read_mb"), ("shuffle_write", "exec.shuffle_write_mb"),
                      ("spill", "exec.spill_mb"), ("input", "exec.input_mb"), ("output", "exec.output_mb")):
        per_op(name, sum(t[key] for t in tasks) / MB, "MB")
    per_op("exec.gc_s", sum(t["gc_ms"] for t in tasks) / 1e3, "s")

    residual = sum((o["op"]["end"] - o["op"]["start"]) - job_cover[id(o)] for o in traced)
    per_op("driver.residual_s", residual / 1e3, "s")
    m["driver.residual_frac"] = (residual / wall_ms, "ratio")

    selfs = {}
    for o in traced:
        for layer, ms in layer_self_times(o["spans"]).items():
            selfs[layer] = selfs.get(layer, 0.0) + ms
    for _, layer in SPAN_LAYERS:
        per_op(f"self.{layer}_s", selfs.get(layer, 0.0) / 1e3, "s")

    lake_spans = [s for o in traced for s in spans(o, "lake")]
    by_metric = {}
    for s in lake_spans:
        by_metric.setdefault(LAKE_CALL_METRIC[s["name"]], []).append(s["end"] - s["start"])
    for name in sorted(set(LAKE_CALL_METRIC.values())):
        m[name] = (median(by_metric.get(name, [])), "ms")
    writes = [(s, o) for o in traced for s in spans(o, "lake") if o["op"].get("class") == "write"]
    for size in ("point", "bulk"):
        m[f"lake.write_{size}_ms"] = (median([s["end"] - s["start"] for s, _ in writes
                                             if s.get("size") == size]), "ms")
    lake = summary.get("lake", {})
    passes = max(lake.get("passes", 0), 1)
    m["lake.commits"] = (lake.get("commits", 0) / passes, "count")
    mutating = [o for o in traced if o["op"].get("class") in ("write", "maintenance")]
    m["lake.jobs_per_commit"] = (sum(len(spans(o, "job")) for o in mutating) / max(len(mutating), 1), "count")
    m["lake.files_written"] = (lake.get("files_written", 0) / passes, "count")
    m["lake.bytes_written_mb"] = (lake.get("written_bytes", 0) / passes / MB, "MB")
    m["lake.live_files"] = (lake.get("live_files", 0) / passes, "count")

    batches = [b for o in traced for b in o["batches"]]
    per_op("stream.batches", len(batches), "count")
    per_op("stream.input_rows", sum(b["input_rows"] for b in batches), "count")
    for key, name in STREAM_PHASES.items():
        m[name] = (median([b.get(key, 0) for b in batches]), "ms")
    trig = sum(b.get("triggerExecution", 0) for b in batches)
    m["stream.machinery_frac"] = (1 - sum(b.get("addBatch", 0) for b in batches) / trig if trig else 0.0,
                                  "ratio")
    m["stream.state_commit_ms"] = (median([b["state_commit_ms"] for b in batches]), "ms")
    m["stream.state_rows"] = (median([b["state_rows"] for b in batches]), "count")

    n_all = max(len(all_ops), 1)
    m["jvm.gc_s"] = (summary["jvm_gc_s"] / n_all, "s")
    m["jvm.cpu_s"] = (summary["jvm_cpu_s"] / n_all, "s")
    m["jvm.cpu_util"] = (summary["jvm_cpu_s"] / (summary["timed_wall_s"] * cores), "ratio")
    m["jvm.heap_peak_mb"] = (summary["jvm_heap_peak_mb"], "MB")

    m["host.calib_ms"] = (host[0], "ms")
    m["host.loadavg"] = (host[1], "load")
    t50 = median([(o["op"]["end"] - o["op"]["start"]) / 1e3 for o in traced])
    u50 = median([(o["op"]["end"] - o["op"]["start"]) / 1e3 for o in untraced])
    m["trace.op_p50_s"] = (t50, "s")
    m["trace.untraced_op_p50_s"] = (u50, "s")
    m["trace.overhead_frac"] = (tracing_overhead(list(all_ops.values())), "ratio")
    return m


def untraced_gates(records):
    """Names of traced gate operations without a Catalyst record. Every
    gate runs at least one SQL execution (its digest), so a missing
    record means listener events were lost."""
    return sorted({o["op"]["name"] for o in group_by_op(records).values()
                   if o["op"].get("traced") and o["op"].get("kind") == "gate"
                   and not o["catalyst"]})


def tracing_overhead(ops):
    """Median over operation names of (median traced latency / median
    untraced latency) - 1: pairing by name keeps the mix of the two
    halves from posing as overhead."""
    lat = {}
    for o in ops:
        d = lat.setdefault(o["op"]["name"], ([], []))
        d[0 if o["op"].get("traced") else 1].append(o["op"]["end"] - o["op"]["start"])
    ratios = [median(t) / median(u) for t, u in lat.values() if t and u and median(u) > 0]
    return median(ratios) - 1 if ratios else 0.0


def per_key(records):
    """Per operation name: count, median latency and mean self time per
    layer of the traced operations (the committed per-key breakdown)."""
    out = {}
    for o in group_by_op(records).values():
        if not o["op"].get("traced"):
            continue
        d = out.setdefault(o["op"]["name"], {"n": 0, "lat": [], "self": {}})
        d["n"] += 1
        d["lat"].append((o["op"]["end"] - o["op"]["start"]) / 1e3)
        for layer, ms in layer_self_times(o["spans"]).items():
            d["self"][layer] = d["self"].get(layer, 0.0) + ms / 1e3
    return {k: {"n": d["n"], "p50_s": round(median(d["lat"]), 4),
                "self_s": {l: round(v / d["n"], 4) for l, v in sorted(d["self"].items())}}
            for k, d in sorted(out.items())}
