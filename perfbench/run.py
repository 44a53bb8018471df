#!/usr/bin/env python3
"""graft's benchmark: one closed-loop workload run with checked results.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --workload NAME --record     # refresh reference digests

Run from the root of a graft checkout. The first run builds graft and
the driver with sbt and caches both under `.bench_build/` (or
$CARGO_TARGET_DIR). The inputs are the sf0.1 tables in `data/sf0.1/`.
Untraced runs print the end-to-end metrics; traced runs (--trace 1) print the per-layer
metrics. Every metric is printed on its own line with its unit, and
the last line is one JSON object with `correct`, `attempted`, `failed`
and `metrics`. The exit code is 0 only if every result was correct.
"""
import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import jvm  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

REFS = os.path.join(HERE, "refs", "digests.json")
DATA = os.path.join(HERE, "data", "sf0.1")
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_refs():
    if not os.path.exists(REFS):
        return {}
    with open(REFS) as f:
        return json.load(f)


def run_once(workload, seed, seconds, trace, record, state, java, data, deadline):
    work = os.path.join(state, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if workload == "lake_dml":
        refs, count = {}, 4
    else:
        all_refs = load_refs()
        keys = workloads.GATES[workload]
        refs = {} if record else {k: all_refs[k] for k in keys if k in all_refs}
        if not record and len(refs) < len(keys):
            raise RuntimeError(f"no reference digest for {sorted(set(keys) - set(refs))}")
        count = 2 if record else 32
    spec = {
        "workload": workload, "cores": os.cpu_count(), "data": data, "work": work,
        "out": work, "seconds": 1e9 if record else seconds, "trace": trace,
        "refs": refs, "prime": [] if record else workloads.prime(workload),
        "passes": workloads.passes(workload, seed, count),
        "lake": {"key_mod": workloads.KEY_MOD},
    }
    with open(os.path.join(work, "spec.json"), "w") as f:
        json.dump(spec, f)
    rc = jvm.run_java(java, ["graftbench.Main", os.path.join(work, "spec.json")], work,
                      os.path.join(work, "driver.log"), timeout_s=max(10, deadline - time.time()))
    summary_path = os.path.join(work, "summary.json")
    if rc != 0 or not os.path.exists(summary_path):
        with open(os.path.join(work, "driver.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"driver exited with {rc}:\n{tail}")
    with open(summary_path) as f:
        summary = json.load(f)
    with open(os.path.join(work, "records.jsonl")) as f:
        records = [json.loads(line) for line in f]
    if trace:
        spans = os.path.join(state, "spans")
        os.makedirs(spans, exist_ok=True)
        shutil.copy(os.path.join(work, "records.jsonl"),
                    os.path.join(spans, f"{workload}-seed{seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    return summary, records


def record_refs(summary):
    """Stores the digests of a record run; fails on a key whose result
    differed between its executions."""
    unstable = {k: v for k, v in summary["digests"].items() if len(v) != 1}
    if unstable or summary["errors"]:
        log(f"not recorded: unstable {sorted(unstable)} errors {summary['errors'][:5]}")
        return 1
    refs = load_refs()
    refs.update({k: v[0] for k, v in summary["digests"].items()})
    os.makedirs(os.path.dirname(REFS), exist_ok=True)
    with open(REFS, "w") as f:
        json.dump(dict(sorted(refs.items())), f, indent=1)
        f.write("\n")
    log(f"recorded {len(summary['digests'])} digests")
    return 0


def confirm_refs(workload, verify_out, java, state):
    """Digests of graft.Verify's result directories must equal the
    reference digests of the workload's keys."""
    refs = load_refs()
    keys = workloads.GATES[workload]
    work = os.path.join(state, "work", f"confirm-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    cmd_out = os.path.join(work, "digests.txt")
    rc = jvm.run_java(java, ["graftbench.Main", "--digest", work]
                      + [os.path.join(verify_out, k) for k in keys], work, cmd_out)
    with open(cmd_out) as f:
        got = {p[0]: {"rows": int(p[1]), "digest": p[2]}
               for p in (line.split() for line in f) if len(p) == 3 and p[0] in keys}
    shutil.rmtree(work, ignore_errors=True)
    bad = [k for k in keys if got.get(k) != refs.get(k)]
    for k in keys:
        print(f"{'same' if k not in bad else 'DIFFERENT':9s} {k} {got.get(k)}")
    return 0 if rc == 0 and not bad else 1


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="run two passes and store each key's reference digest")
    ap.add_argument("--save", help="also write the run's full record (JSON) here")
    ap.add_argument("--confirm", metavar="VERIFY_OUT",
                    help="compare the reference digests with the results graft.Verify "
                         "wrote to VERIFY_OUT (after tools/check.py passed on them)")
    a = ap.parse_args(argv)

    missing = jvm.missing_sources()
    if missing:
        log(f"not a graft checkout: missing {', '.join(missing)}")
        return 2
    state = jvm.state_dir()
    java = jvm.build(log)
    if a.confirm:
        return confirm_refs(a.workload, a.confirm, java, state)
    host = jvm.host_calibration()
    deadline = time.time() + RUN_LIMIT_S
    try:
        summary, records = run_once(a.workload, a.seed, a.seconds, a.trace, a.record,
                                    state, java, DATA, deadline)
    except RuntimeError as e:
        log(str(e))
        return 1
    if a.record:
        return record_refs(summary)

    ops = [r for r in records if r["t"] == "op"]
    attempted = len(ops)
    failed = sum(1 for r in ops if not r["ok"])
    pass_errors = [e for e in summary["errors"] if e.startswith(("pass ", "set-up"))]
    failed = min(attempted, failed + len(pass_errors))
    for e in summary["errors"][:20]:
        log(f"wrong result: {e}")
    correct = failed == 0 and not summary["errors"] and attempted > 0

    e2e, extra, info = metrics.end_to_end(records, summary, a.workload)
    host_m = {"host.calib_ms": (host[0], "ms"), "host.loadavg": (host[1], "load")}
    pct, n = info["op_tail"]
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  passes {summary['passes']}  "
          f"ops {attempted}  failed {failed}  pass_s {[round(x, 2) for x in summary['pass_s']]}  "
          f"setup (jvm+session, inputs, prime) {[round(x, 2) for x in summary['setup_parts_s']]}")
    for name, (v, unit) in list(e2e.items()) + list(extra.items()) + (
            [] if a.trace else list(host_m.items())):
        if name.startswith("_"):
            continue
        note = f"   (p{pct} of {n} samples)" if name == "op_p90_s" else ""
        if name == "batch_p90_ms":
            note = f"   (p{extra['_batch_tail'][0]} of {extra['_batch_tail'][1]} batches)"
        print(f"{name:26s} {v:14.6f} {unit}{note}")
    print(f"{'fail_frac':26s} {failed / max(attempted, 1):14.6f} ratio")
    if a.trace:
        lost = metrics.untraced_gates(records)
        if lost:
            log(f"incomplete trace: no Catalyst record for traced {', '.join(lost)}")
            return 1
        layer = metrics.per_layer(records, summary, summary["cores"], host)
        for name, (v, unit) in layer.items():
            print(f"{name:26s} {v:14.6f} {unit}")
        out_metrics = layer
    else:
        out_metrics = e2e
    if a.save:
        with open(a.save, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                       "passes": summary["passes"], "ops": attempted, "failed": failed,
                       "end_to_end": {k: v for k, (v, _) in {**e2e, **extra}.items()
                                      if not k.startswith("_")},
                       "per_layer": {k: v for k, (v, _) in out_metrics.items()} if a.trace else None,
                       "per_key": metrics.per_key(records) if a.trace else None,
                       "host": {k: v for k, (v, _) in host_m.items()}}, f, indent=1)
            f.write("\n")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out_metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
