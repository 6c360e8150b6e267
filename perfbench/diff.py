#!/usr/bin/env python3
"""Compare two benchmark records by the work counters that do not move with
host load, and name what changed.

    python3 perfbench/diff.py BEFORE.json AFTER.json

Records come from ``run.py --trace 1 --record FILE``. Counters are compared
per workload (``per_layer``) and per query (``detail.per_query_counters``);
a counter is reported when it moved by more than the workload's tolerance,
as a share of the BEFORE value. Given an untraced and a traced record of the same
workload and seed, it also reports the tracing overhead on each end-to-end
metric. Exits 1 when any counter changed.
"""
import argparse
import json
import sys

# Counts and bytes a code change can move but a busy host cannot.
WORK_COUNTERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "entry.build_jobs",
    "shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes",
    "store.reads", "store.writes", "store.renames", "store.exists",
    "store.lists", "store.deletes", "replica.rows_written_per_event",
    "replica.files_written", "view.jobs", "read.store_ops",
)

# The analyst_queries counters repeat exactly run to run. The cdc ones are
# per micro-batch, and the open-loop tail's batch boundaries move with
# timing, so they need a wider margin.
TOLERANCE = {"analyst_queries": 0.05, "cdc": 0.2}


def changed(before, after, tolerance):
    """(name, before, after) for every counter that moved beyond tolerance."""
    out = []
    for name in sorted(set(before) | set(after)):
        a, b = before.get(name), after.get(name)
        if a is None or b is None:
            out.append((name, a, b))
        elif abs(b - a) > tolerance * abs(a) and a != b:
            out.append((name, a, b))
    return out


def compare(before, after):
    """Lines naming each changed counter; empty when the work is unchanged."""
    lines = []
    if before.get("workload") != after.get("workload"):
        return [f"different workloads: {before.get('workload')} vs {after.get('workload')}"]
    w = before["workload"]
    tolerance = TOLERANCE[w]
    pick = lambda r: {k: v for k, v in r.get("per_layer", {}).items() if k in WORK_COUNTERS}  # noqa: E731
    for name, a, b in changed(pick(before), pick(after), tolerance):
        lines.append(f"{w}: {name} {a} -> {b}")
    qa = before.get("detail", {}).get("per_query_counters", {})
    qb = after.get("detail", {}).get("per_query_counters", {})
    for q in sorted(set(qa) | set(qb)):
        for name, a, b in changed(qa.get(q, {}), qb.get(q, {}), tolerance):
            lines.append(f"{w} {q}: {name} {a} -> {b}")
    return lines


def tracing_overhead(untraced, traced):
    """Traced over untraced, per end-to-end metric of the same workload."""
    if untraced.get("trace") or not traced.get("trace"):
        return {}
    if (untraced.get("workload"), untraced.get("seed")) != (traced.get("workload"), traced.get("seed")):
        return {}
    return {k: traced["metrics"][k] / v for k, v in untraced["metrics"].items()
            if k in traced.get("metrics", {}) and v}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("before")
    ap.add_argument("after")
    a = ap.parse_args()
    with open(a.before) as f:
        before = json.load(f)
    with open(a.after) as f:
        after = json.load(f)
    for k, r in sorted(tracing_overhead(before, after).items()):
        print(f"tracing overhead {k}: x{r:.3f}")
    lines = compare(before, after) if before.get("trace") and after.get("trace") else []
    for line in lines:
        print(line)
    if before.get("trace") and after.get("trace") and not lines:
        print("work counters unchanged")
    sys.exit(1 if lines else 0)


if __name__ == "__main__":
    main()
