"""The benchmark's workloads and their seeded operation lists.

A pass is one list of operations; a run executes whole passes until its
time budget is spent (at least one). The seed fixes the order of the
operations within each pass and, for `lake_dml`, the mutation keys; the multiset of
operations in a pass is the same for every seed, so runs with different
seeds measure the same work.
"""
import random

# Gate keys of graft.SparkEntry.queries per gate workload: each
# family's five-number summary of warm per-key time, i.e. its slowest
# and fastest keys and the keys nearest its quartiles (measured with
# graft.Bench; see README.md and baseline/family_times.json).
GATES = {
    "olap": ["q56_pagerank", "q78_pareto", "q20_sessionize",
             "q10_pivot", "q35_like"],
    "llm_text": ["d38_substring_dedup", "m02_resize", "s02_ann_lsh",
                 "d04_langid", "s04_quantize"],
    "stream": ["st19_stream_cdf_apply", "st11_stream_funnel", "mv02_join_view",
               "mv08_topk_view", "st04_stream_join"],
}

# Each lake table's operations in their fixed order: every write type with
# a point delta, then with a bulk delta, then the table's reads and
# maintenance. The seed interleaves the four sequences and picks the
# keys, so every table sees the same kinds of state from seed to seed.
LAKE_SEQUENCES = {
    "cow": ["append", "merge", "update", "delete", "delete_keys", "read", "read_at",
            "compact", "snapshot", "vacuum"],
    "dv": ["merge_dv", "update_dv", "delete_dv", "read"],
    "cdf": ["sql_merge_cdf", "sql_delete_cdf", "changes_typed"],
    "part": ["append_part", "changes"],
}
LAKE_WRITES = ["append", "merge", "merge_dv", "delete", "delete_dv", "delete_keys",
               "update", "update_dv", "sql_merge_cdf", "sql_delete_cdf", "append_part"]
TABLE_OF = {c: t for t, calls in LAKE_SEQUENCES.items() for c in calls if c in LAKE_WRITES}
# The lake tables hold the orders whose key is a multiple of KEY_MOD.
KEY_MOD = 10
POINT_KEYS = 32
# `orders` in data/sf0.1 has the keys 0 .. ORDERS - 1.
ORDERS = 150_000

# A gate pass runs the slowest key (the first) once and every other key
# REPEAT times, so the median operation is one of the median key's
# REPEAT executions rather than a single sample, while the slowest key
# (9.5 s for stream) still runs in every pass.
REPEAT = 3

NAMES = ["olap", "llm_text", "lake_dml", "stream"]


def lake_universe():
    return list(range(0, ORDERS, KEY_MOD))


def lake_pass(rng, pass_no):
    """One pass of lake_dml operations: every write type with a point
    delta (tens of keys) and a bulk delta (a quarter of the keys), the
    reads, compact and vacuum. Each table's operations keep their order
    in LAKE_SEQUENCES; the seed interleaves the tables."""
    universe = lake_universe()
    fresh = 10**9 + pass_no * 10**7
    seqs = {}
    for table, calls in LAKE_SEQUENCES.items():
        ops = []
        for call in calls:
            if call not in LAKE_WRITES:
                op = {"kind": "lake", "call": call, "table": table}
                if call in ("read_at", "changes", "changes_typed"):
                    op["frac"] = rng.random()
                ops.append(op)
                continue
            for size, n in (("point", POINT_KEYS), ("bulk", len(universe) // 4)):
                if call.startswith("append"):
                    keys = list(range(fresh, fresh + n))
                    fresh += n
                else:
                    keys = sorted(rng.sample(universe, n))
                ops.append({"kind": "lake", "call": call, "table": table, "size": size,
                            "keys": keys, "bump": rng.randint(1, 999)})
        seqs[table] = ops
    # An operation's rank is its place in the fixed order, the same in
    # every pass and for every seed.
    for i, op in enumerate(op for ops in seqs.values() for op in ops):
        op["rank"] = i
    # A uniformly random interleaving that keeps each sequence's order.
    slots = [t for t, ops in seqs.items() for _ in ops]
    rng.shuffle(slots)
    cursor = {t: 0 for t in seqs}
    out = []
    for t in slots:
        out.append(seqs[t][cursor[t]])
        cursor[t] += 1
    return out


def passes(workload, seed, count):
    """`count` passes of `workload` in the order fixed by `seed`."""
    rng = random.Random(f"{workload}:{seed}")
    out = []
    for p in range(count):
        if workload == "lake_dml":
            out.append(lake_pass(rng, p))
        else:
            slowest, *rest = GATES[workload]
            keys = [slowest] + [k for k in rest for _ in range(REPEAT)]
            ops = [{"kind": "gate", "key": k, "rank": i} for i, k in enumerate(keys)]
            rng.shuffle(ops)
            out.append(ops)
    return out


def prime(workload):
    """Checked operations of set-up, run in the session the timed passes
    then use: for a gate workload every key once, so that a timed
    execution is at least a key's second; for lake_dml a point write
    of every write type."""
    if workload == "lake_dml":
        rng = random.Random("lake_dml:prime")
        keys = sorted(rng.sample(lake_universe(), POINT_KEYS))
        return [{"kind": "lake", "call": c, "table": TABLE_OF[c], "size": "point",
                 "keys": list(range(2 * 10**9, 2 * 10**9 + POINT_KEYS)) if c.startswith("append") else keys,
                 "bump": 1} for c in LAKE_WRITES]
    return [{"kind": "gate", "key": k} for k in GATES[workload]]

