#!/usr/bin/env python3
"""The repo benchmark: one command per workload.

    python3 perfbench/run.py --workload analyst_queries --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. It builds the program and the harness
from source (once per source tree), generates the workload's inputs from
the seed, runs the workload in one JVM at local[nproc], checks the outputs
against independent DuckDB oracles, and prints a record line followed by
the result line (the last line of stdout):

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics plus the span breakdown. ``--record FILE`` also writes the full
record (host context, per-query detail, counters) for ``perfbench/diff.py``.
A run that fails still prints its result line, with ``correct`` false, the
failures named in the record and no value for a metric it could not
measure; its run directory (with ``harness.log``) is kept.
See perfbench/README.md for the metrics and workloads.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ("analyst_queries", "cdc")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
CDC_TABLES = ["events", "pets"]

# analyst_queries: corpus scale and sample size. The scale keeps the
# per-query constant (closure build, Catalyst, ~50 ms per Spark job) the
# dominant cost, as it is for most queries at sf0.1.
CORPUS_SF = 0.01
SAMPLE = 8
# The sample is part of the workload's definition, drawn once with this
# seed; the run's --seed drives the corpus and the invocation order.
SAMPLE_DRAW = 17
# Queries that read fixed paths outside the corpus directory, or have no
# oracle, cannot run against a generated corpus.
NOT_SAMPLED = {"a2_tsv_load", "a2b_tsv_ragged"}

# cdc, backfill phase: the backlog, landed before the stream starts and
# drained in big batches over a large key space.
BACKFILL_EVENTS, BACKFILL_KEYS, BACKFILL_FILES, BACKFILL_MAX_FILES = 13_500, 200_000, 27, 9
# cdc, tail phase: one small file of Zipf-skewed keys every TAIL_INTERVAL_MS
# and one analyst read every TAIL_READ_INTERVAL_MS.
TAIL_FILE_ROWS, TAIL_INTERVAL_MS, TAIL_READ_INTERVAL_MS, TAIL_ZIPF = 40, 150, 500, 1.2

END_TO_END = {"latency_s": "s", "throughput_per_s": "1/s", "setup_s": "s",
              "peak_rss_mb": "MB"}


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(f"{ROOT}/src/main/**/*", recursive=True) +
                   glob.glob(f"{HERE}/src/**/*", recursive=True) +
                   [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt unless this source tree is built."""
    if not os.path.isdir(f"{ROOT}/src/main/scala") or not os.path.isfile(f"{HERE}/build.sbt"):
        raise SystemExit("perfbench: no program sources next to perfbench/ "
                         "(run from the root of a checkout)")
    stamp = f"{HERE}/target/perfbench.stamp"
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=780)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(stamp, "w") as f:
        f.write(digest)


def java_cmd(run_dir, args):
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{HERE}/target/scala-2.13/classes:{spark_home}/jars/*", "perfbench.Harness"]
    return cmd + args


# ---------------------------------------------------------------- host


def host_sample():
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": " ".join(load), "cpu": cpu}


def host_context(before, after, heap_mb):
    d = [b - a for a, b in zip(before["cpu"], after["cpu"])]
    total = sum(d) or 1
    return {"loadavg_before": before["loadavg"], "loadavg_after": after["loadavg"],
            "iowait_share": round(d[4] / total, 4),
            "steal_share": round(d[7] / total, 4) if len(d) > 7 else 0.0,
            "nproc": os.cpu_count(), "heap_mb": heap_mb}


# ---------------------------------------------------------------- inputs


def query_sample(seed):
    """A stratified draw of SAMPLE queries, in an order shuffled by ``seed``.

    Strata are the family letter (a/b/c/d/e) crossed with sub-second vs
    >= 1 s in the r17 record. Slots are handed out one at a time: to a
    family that has none yet, else to the family furthest below its share
    of SAMPLE; within that family, to the speed class furthest below its
    share. So every family is measured and both margins stay close to
    their shares. Each stratum's queries are drawn with SAMPLE_DRAW."""
    with open(f"{HERE}/r17_query_seconds.json") as f:
        secs = json.load(f)["seconds"]
    strata = {}
    for q, s in sorted(secs.items()):
        if q not in NOT_SAMPLED:
            strata.setdefault((q[0], s >= 1.0), []).append(q)
    total = sum(len(v) for v in strata.values())
    alloc = dict.fromkeys(strata, 0)

    def below_share(side, value):
        keys = [k for k in strata if k[side] == value]
        return SAMPLE * sum(len(strata[k]) for k in keys) / total - sum(alloc[k] for k in keys)

    for _ in range(SAMPLE):
        fam = max({k[0] for k in strata},
                  key=lambda f: (sum(alloc[k] for k in strata if k[0] == f) == 0,
                                 below_share(0, f), f))
        k = max((k for k in strata if k[0] == fam and alloc[k] < len(strata[k])),
                key=lambda k: (below_share(1, k[1]), k))
        alloc[k] += 1
    draw = random.Random(SAMPLE_DRAW)
    picked = [q for k in sorted(strata) for q in draw.sample(strata[k], alloc[k])]
    random.Random(seed).shuffle(picked)
    return picked


def make_inputs(workload, seed, run_dir):
    """Write the workload's inputs; return (harness options, oracle inputs)."""
    import gen
    inputs = f"{run_dir}/inputs"
    if workload == "analyst_queries":
        gen.corpus(f"{inputs}/corpus", seed, CORPUS_SF)
        return {"queries": ",".join(query_sample(seed))}, None
    backlog = gen.changelog(seed, BACKFILL_EVENTS, BACKFILL_KEYS)
    gen.write_change_files(backlog, f"{inputs}/backfill", -(-backlog.num_rows // BACKFILL_FILES))
    n_files = 60_000 // TAIL_INTERVAL_MS + 10  # more than a run can land
    tail = gen.changelog(seed + 1_000_003, n_files * TAIL_FILE_ROWS, BACKFILL_KEYS,
                         zipf=TAIL_ZIPF, pos0=2 * BACKFILL_EVENTS, late_span=60)
    names = gen.write_change_files(tail, f"{inputs}/tail", TAIL_FILE_ROWS, prefix="tail")
    keys = [str(k) for k in tail.column("user_id").drop_null().to_pylist()[:64]]
    files = {n: tail.slice(i * TAIL_FILE_ROWS, TAIL_FILE_ROWS) for i, n in enumerate(names)}
    return ({"backfill_events": str(backlog.num_rows), "max_files": str(BACKFILL_MAX_FILES),
             "interval_ms": str(TAIL_INTERVAL_MS), "read_interval_ms": str(TAIL_READ_INTERVAL_MS),
             "read_keys": ",".join(keys)},
            {"backlog": backlog, "files": files})


# ---------------------------------------------------------------- harness


HARNESS_TIMEOUT_S = 150


def run_harness(workload, seed, seconds, trace, run_dir, opts, errors):
    """Run the JVM side of one workload; its measurements, or {} with the
    failure named in ``errors``."""
    opts["spawned_ns"] = str(time.time_ns())
    cmd = java_cmd(run_dir, [workload, run_dir, str(seconds), str(trace)] +
                   [f"{k}={v}" for k, v in opts.items()])
    try:
        with open(f"{run_dir}/harness.log", "w") as log:
            proc = subprocess.run(cmd, cwd=f"{run_dir}/tmp", stdout=log, stderr=subprocess.STDOUT,
                                  timeout=HARNESS_TIMEOUT_S, env=dict(os.environ, MALLOC_ARENA_MAX="2"))
    except subprocess.TimeoutExpired:
        errors.append(f"harness: killed after {HARNESS_TIMEOUT_S} s")
        return {}
    if proc.returncode != 0:
        errors.append(f"harness: exit code {proc.returncode}")
    try:
        with open(f"{run_dir}/measure.json") as f:
            m = json.load(f)
    except (OSError, ValueError) as e:
        errors.append(f"harness: no measurements ({type(e).__name__}: {e})")
        return {}
    errors += m["errors"]
    return m


# ---------------------------------------------------------------- checks


def check(workload, m, run_dir, oracle_in):
    import oracle
    import pyarrow as pa
    fails = []
    if workload == "analyst_queries":
        con = oracle.corpus_connection(f"{run_dir}/inputs/corpus", TABLES)
        for q, sql in sorted(m.get("oracle_sql", {}).items()):
            if sql is None:
                fails.append(f"{q}: no oracle SQL")
                continue
            try:
                err = oracle.check_query(con, f"{run_dir}/check/{q}", sql)
            except Exception as e:  # an oracle that cannot run is a failed check
                err = f"oracle error {str(e)[:200]}"
            if err:
                fails.append(f"{q}: {err}")
        return fails, len(m.get("oracle_sql", {}))
    landed = pa.concat_tables([oracle_in["backlog"]] +
                              [oracle_in["files"][n] for n in m.get("tail_landed", [])])
    con = oracle.connect()
    fails += oracle.check_cdc(con, landed, m["check_root"], f"{run_dir}/check", CDC_TABLES)
    for t in CDC_TABLES:
        if m.get(f"audit_rows_{t}", -1) != 0:
            fails.append(f"audit {t}: {m.get(f'audit_rows_{t}')} disagreeing groups")
    return fails, 1 + 1 + 3 * len(CDC_TABLES)


def duckdb_reference(run_dir, m):
    """DuckDB's time for each sampled query's oracle SQL on the same corpus
    and host (a reference column, not a gated metric)."""
    import oracle
    con = oracle.corpus_connection(f"{run_dir}/inputs/corpus", TABLES)
    out = {}
    for q, sql in sorted(m.get("oracle_sql", {}).items()):
        if sql:
            ts = []
            for _ in range(3):
                t = time.perf_counter()
                con.sql(sql).fetchall()
                ts.append(time.perf_counter() - t)
            out[q] = round(min(ts), 4)
    return out


# ---------------------------------------------------------------- metrics


def guarded(errors, name, fn):
    """``fn()``, or None with the failure named in ``errors`` when the run
    did not produce what the metric needs (no samples, too few, no output)."""
    try:
        return fn()
    except Exception as e:
        errors.append(f"metric {name}: {type(e).__name__}: {str(e)[:200]}")
        return None


def end_to_end(workload, m, errors):
    """(metrics, workload-named extras) from the harness measurements."""
    g = lambda name, fn: guarded(errors, name, fn)  # noqa: E731
    rec = {}
    if workload == "analyst_queries":
        lat = [s["latency_s"] for s in m["samples"]]
        n_q = len(m["oracle_sql"])  # the sampled queries
        passes = {}
        for s in m["samples"]:
            passes.setdefault(s["pass"], []).append(s["latency_s"])
        # only passes in which every query succeeded, so each times the same mix
        whole = [p for p, xs in passes.items() if len(xs) == n_q]
        # per pass: mean query latency, and queries per second of pass wall
        lat_s = g("latency_s", lambda: stats.median([sum(passes[p]) / n_q for p in whole]))
        thr = g("throughput_per_s", lambda: stats.median([n_q / m["pass_wall_s"][p] for p in whole]))
        rec["query_total_s"] = g("query_total_s", lambda: stats.median([sum(passes[p]) for p in whole]))
        rec["query_p50_s"] = g("query_p50_s", lambda: stats.percentile(lat, 0.5))
        rec["query_p90_s"] = stats.percentile(lat, 0.9) if len(lat) >= 100 else None
        rec["invocations"] = len(lat)
        rec["passes"] = len(whole)
        per_q = {}
        for s in m["samples"]:
            per_q.setdefault(s["q"], []).append(s["latency_s"])
        rec["per_query_median_s"] = {q: stats.median(v) for q, v in sorted(per_q.items())}
        by_req = m.get("layers", {}).get("by_request", {})
        if by_req:
            rec["per_query_counters"] = {
                q: {k: v / len(per_q[q]) for k, v in by_req.get(f"query:{q}", {}).items()}
                for q in sorted(per_q)}
    else:
        bf = m["backfill"]
        rec["cdc_events_per_s"] = thr = g("throughput_per_s", lambda: bf["events"] / bf["drain_s"])
        rec["backfill_batches"] = bf["batches"]
        rec["backfill_freshness_p50_s"] = g("backfill_freshness_p50_s",
                                            lambda: stats.median(bf["freshness_s"]))
        fresh = m["freshness_s"]
        rec["freshness_p50_s"] = lat_s = g("latency_s", lambda: stats.percentile(fresh, 0.5))
        rec["freshness_p90_s"] = g("freshness_p90_s", lambda: stats.percentile(fresh, 0.9))
        reads = [r["latency_s"] for r in m["reads"]]
        rec["read_p50_s"] = g("read_p50_s", lambda: stats.percentile(reads, 0.5))
        rec["reads"] = len(reads)
        rec["tail_files"] = len(m["tail_landed"])
        rec["events"] = bf["events"] + rec["tail_files"] * TAIL_FILE_ROWS
        rec["tail_batches"] = len(m["batches"]) - bf["batches"]
        rec["gen_lateness_max_s"] = max(m["lateness_s"], default=0.0)
    metrics = {"latency_s": lat_s, "throughput_per_s": thr,
               "setup_s": m["setup_s"], "peak_rss_mb": m["peak_rss_mb"]}
    return metrics, rec


def per_layer(workload, m, rec, errors):
    """Per-layer metrics of a traced run. Times and counts are per
    operation (query invocation or micro-batch) unless named otherwise."""
    import oracle
    g = lambda name, fn: guarded(errors, name, fn)  # noqa: E731
    lay = m.get("layers", {})
    c = lay.get("counters", {})
    by_file = lay.get("by_file", {})
    f = lambda name, key: by_file.get(name, {}).get(key, 0)  # noqa: E731
    cdc = workload == "cdc"
    samples, batches = m.get("samples", []), m.get("batches", [])
    ops = max(1, len(batches if cdc else samples))
    events = rec.get("events", 0) if cdc else 0
    wall, cores = lay.get("window_s", m.get("wall_s")) or 1.0, lay.get("cores", 1)
    tasks = max(1, c.get("tasks", 0))
    out = {
        "entry.build_s": 0.0 if cdc else g("entry.build_s",
                                           lambda: stats.median([s["build_s"] for s in samples])),
        "entry.build_jobs": c.get("build_jobs", 0) / ops,
        "catalyst.analysis_s": c.get("analysis_ms", 0) / 1e3 / ops,
        "catalyst.optimization_s": c.get("optimization_ms", 0) / 1e3 / ops,
        "catalyst.planning_s": c.get("planning_ms", 0) / 1e3 / ops,
        "spark.jobs": c.get("jobs", 0) / ops,
        "spark.stages": c.get("stages", 0) / ops,
        "spark.tasks": c.get("tasks", 0) / ops,
        "spark.task_run_s": c.get("task_run_ms", 0) / 1e3 / ops,
        "spark.scheduler_delay_s": c.get("sched_delay_ms", 0) / 1e3 / ops,
        "spark.busy_share": c.get("task_run_ms", 0) / 1e3 / (wall * cores),
        "spark.empty_task_share": c.get("empty_tasks", 0) / tasks,
        "spark.task_failures": c.get("task_failures", 0),
        "shuffle.write_bytes": c.get("shuffle_write_bytes", 0) / ops,
        "shuffle.read_bytes": c.get("shuffle_read_bytes", 0) / ops,
        "shuffle.fetch_wait_s": c.get("fetch_wait_ms", 0) / 1e3 / ops,
        "spill.bytes": c.get("spill_bytes", 0) / ops,
        "jvm.gc_s": m.get("gc_s", 0.0) / ops,
        "stream.trigger_overhead_s": (c.get("trigger_overhead_ms", 0) / 1e3 /
                                      max(1, c.get("progress", 0))),
        "stream.files_per_batch": c.get("batch_files", 0) / ops if cdc else 0.0,
        "stream.backlog_files_max": c.get("backlog_files_max", 0),
        "stream.wait_s": g("stream.wait_s", lambda: stats.median(m["wait_s"])) if cdc else 0.0,
        "cdc.batch_s": 0.0, "cdc.stage_s": f("CdcStream.scala", "job_ms") / 1e3 / ops,
        "cdc.staged_rows": 0.0, "cdc.dlq_rows": 0.0,
        "replica.commit_s": f("BucketedReplica.scala", "job_ms") / 1e3 / ops,
        "replica.bytes_written": f("BucketedReplica.scala", "bytes_written") / ops,
        "replica.files_written": f("BucketedReplica.scala", "files_written") / ops,
        "replica.rows_written_per_event": (f("BucketedReplica.scala", "records_written") / events
                                           if events else 0.0),
        "view.fold_s": f("IncrementalAgg.scala", "job_ms") / 1e3 / ops,
        "view.jobs": f("IncrementalAgg.scala", "jobs") / ops,
        "read.view_s": 0.0, "read.point_s": 0.0, "read.cut_s": 0.0, "read.store_ops": 0.0,
        "gen.lateness_max_s": rec.get("gen_lateness_max_s", 0.0),
    }
    for k in ("reads", "writes", "renames", "exists", "lists", "deletes"):
        out[f"store.{k}"] = 0.0
    if cdc:
        out["cdc.batch_s"] = g("cdc.batch_s", lambda: stats.median([b["apply_s"] for b in batches]))
        # rows the program staged and dead-lettered, read from its output
        out["cdc.staged_rows"] = g("cdc.staged_rows",
                                   lambda: oracle.row_count(f"{m['check_root']}/staging") / ops)
        out["cdc.dlq_rows"] = g("cdc.dlq_rows",
                                lambda: oracle.row_count(f"{m['check_root']}/dlq") / ops)
        for k in ("reads", "writes", "renames", "exists", "lists", "deletes"):
            out[f"store.{k}"] = sum(b["store"][k] for b in batches) / ops
        for kind in ("view", "point", "cut"):
            xs = [r["service_s"] for r in m.get("reads", []) if r["kind"] == kind]
            out[f"read.{kind}_s"] = g(f"read.{kind}_s", lambda: stats.median(xs))
        out["read.store_ops"] = (sum(r["store_ops"] for r in m.get("reads", [])) /
                                 max(1, len(m.get("reads", []))))
    return out


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    if "bytes" in name:
        return "bytes"
    for suffix, unit in (("_s", "s"), ("_share", "ratio"), ("_per_event", "rows/event")):
        if name.endswith(suffix):
            return unit
    return "count"


def span_breakdown(run_dir, m):
    """What the blocking path is made of, per request kind (query,
    backfill, tail batch, read): the requests' count and total time, and the
    self time of each span name (jobs by call-site file) summed over them.
    Self time = span duration minus the union of its children;
    ``unattributed(<kind>)`` is the requests' own self time. For the cdc
    tail it also splits mean freshness into the applying batch's time and
    the wait before that batch starts, which no span covers."""
    spans = []
    path = f"{run_dir}/spans.jsonl"
    if os.path.exists(path):
        with open(path) as f:
            spans = [json.loads(line) for line in f if line.strip()]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def covered(s):
        iv = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                    for c in kids.get(s["id"], []))
        tot, cur_a, cur_b = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    tot += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        return tot + (cur_b - cur_a if cur_b is not None else 0)

    kind_of = {s["id"]: s["name"].split(":")[0] for s in spans if s["parent"] == 0}
    groups = {}
    for s in spans:
        kind = kind_of.get(s["req"], "other")
        grp = groups.setdefault(kind, {"requests": 0, "requests_s": 0.0, "self_s": {}})
        dur = s["end_ns"] - s["start_ns"]
        if s["parent"] == 0:
            grp["requests"] += 1
            grp["requests_s"] += dur / 1e9
            key = f"unattributed({kind})"
        else:
            key = s["name"]
        grp["self_s"][key] = grp["self_s"].get(key, 0.0) + (dur - covered(s)) / 1e9
    out = {"spans": len(spans), "by_request": {
        kind: {"requests": grp["requests"], "requests_s": round(grp["requests_s"], 4),
               "self_s": {k: round(v, 4) for k, v in sorted(grp["self_s"].items(), key=lambda kv: -kv[1])}}
        for kind, grp in sorted(groups.items())}}
    fresh, wait = m.get("freshness_s", []), m.get("wait_s", [])
    if fresh and len(fresh) == len(wait):
        out["tail_freshness"] = {
            "files": len(fresh), "mean_s": round(sum(fresh) / len(fresh), 4),
            "batch_s": round(sum(f - w for f, w in zip(fresh, wait)) / len(fresh), 4),
            "unattributed(cdc wait)_s": round(sum(wait) / len(wait), 4)}
    return out


# ---------------------------------------------------------------- main


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="also write the full record to this file")
    a = ap.parse_args()

    build()
    run_dir = os.path.abspath(f"{ROOT}/.perfbench_runs/{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(f"{run_dir}/tmp")
    passed = False
    try:
        errors, m = [], {}
        before = after = host_sample()
        try:
            opts, oracle_in = make_inputs(a.workload, a.seed, run_dir)
        except Exception as e:
            errors.append(f"inputs: {type(e).__name__}: {str(e)[:300]}")
        else:
            before = host_sample()
            m = run_harness(a.workload, a.seed, a.seconds, a.trace, run_dir, opts, errors)
            after = host_sample()
        attempted = m.get("attempted", 0)
        if m:
            try:
                check_fails, n_checks = check(a.workload, m, run_dir, oracle_in)
            except Exception as e:  # a check that cannot run is a failed check
                check_fails, n_checks = [f"{type(e).__name__}: {str(e)[:300]}"], 1
            errors += [f"check {x}" for x in check_fails]
            attempted += n_checks
            metrics, rec = guarded(errors, "end_to_end", lambda: end_to_end(a.workload, m, errors)) or (
                dict.fromkeys(END_TO_END), {})
        else:
            metrics, rec = dict.fromkeys(END_TO_END), {}
        record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                  "trace": a.trace, "metrics": metrics, "detail": rec,
                  "host": host_context(before, after, m.get("heap_max_mb"))}
        if a.trace:
            layers = (per_layer(a.workload, m, rec, errors) if m else
                      dict.fromkeys(per_layer(a.workload, {}, {}, [])))
            layers["trace.latency_s"] = metrics["latency_s"]  # vs latency_s untraced: the overhead
            record["per_layer"] = layers
            record["trace_breakdown"] = span_breakdown(run_dir, m)
            if a.workload == "analyst_queries" and m:
                record["duckdb_s"] = guarded(errors, "duckdb_s", lambda: duckdb_reference(run_dir, m))
            shown, units = layers, {k: unit_of(k) for k in layers}
        else:
            shown, units = metrics, END_TO_END
        record["errors"] = errors
        if a.record:
            with open(a.record, "w") as f:
                json.dump(record, f, indent=1, sort_keys=True)
        print(json.dumps({"record": {k: record[k] for k in ("workload", "seed", "detail", "host", "errors")}}))
        if a.trace:
            print(json.dumps({"trace_breakdown": record["trace_breakdown"]}))
        print(json.dumps({
            "correct": not errors,
            "attempted": max(1, attempted, len(errors)),
            "failed": len(errors),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()}}))
        passed = not errors
    finally:
        if passed:
            shutil.rmtree(run_dir, ignore_errors=True)
        else:  # keep the evidence: inputs, harness.log, outputs
            sys.stderr.write(f"perfbench: failed; run directory kept at {run_dir}\n")


if __name__ == "__main__":
    main()
