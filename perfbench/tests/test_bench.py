"""Tests of the benchmark's own code: python3 -m unittest discover perfbench/tests"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import diff  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def write(self, seed, tmp):
        out = os.path.join(tmp, str(seed) + "-" + str(len(os.listdir(tmp))))
        gen.corpus(f"{out}/corpus", seed, 0.001)
        gen.write_change_files(gen.changelog(seed, 3000, 500, zipf=1.2), f"{out}/chg", 400)
        return digest(f"{out}/corpus"), digest(f"{out}/chg")

    def test_same_seed_same_bytes_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as tmp:
            a, b, c = self.write(7, tmp), self.write(7, tmp), self.write(8, tmp)
        self.assertEqual(a, b)
        self.assertNotEqual(a[0], c[0])
        self.assertNotEqual(a[1], c[1])

    def test_changelog_mix(self):
        t = gen.changelog(3, 20000, 1000)
        ops = t.column("op").to_pylist()
        for op, share in (("INSERT", 0.2), ("DELETE", 0.2), ("UPDATE", 0.6)):
            self.assertAlmostEqual(ops.count(op) / len(ops), share, delta=0.02)
        self.assertAlmostEqual(t.column("user_id").null_count / len(ops), 0.01, delta=0.005)
        pos = t.column("pos").to_pylist()
        self.assertTrue(any(b < a for a, b in zip(pos, pos[1:])), "some rows arrive late")


def flat(rows):
    cols = list(zip(*rows))
    return pa.table([pa.array(c, f.type) for c, f in zip(cols, gen.FLAT)], schema=gen.FLAT)


class LatestWinsTest(unittest.TestCase):
    def test_hand_written_changelog(self):
        # (op, tbl, pos, ts_ns, user_id, value, event_type), in delivery order
        rows = [
            ("INSERT", "pets", 1, 1, 1, 1.0, "signup"),
            ("UPDATE", "pets", 3, 3, 1, 3.0, "click"),
            ("UPDATE", "pets", 2, 2, 1, 2.0, "view"),        # out of order: loses to pos 3
            ("INSERT", "pets", 4, 4, 2, 4.0, "signup"),
            ("DELETE", "pets", 5, 5, 2, 5.0, "error"),
            ("INSERT", "pets", 6, 6, 2, 6.0, "signup"),      # delete then reinsert: live again
            ("INSERT", "pets", 7, 7, 3, 7.0, "signup"),
            ("DELETE", "pets", 8, 8, 3, 8.0, "error"),       # ends as a tombstone
            ("UPDATE", "pets", 9, 9, None, 9.0, "view"),     # null key: dead letter only
            ("UPDATE", "events", 10, 10, 1, 10.0, "view"),   # same key, other table
            ("UPDATE", "events", 10, 10, 1, 10.0, "view"),   # duplicate delivery
        ]
        got = oracle.latest_wins(oracle.connect(), flat(rows))
        self.assertEqual(got, [
            ("UPDATE", "events", 10, 10, 1, 10.0, "view"),
            ("UPDATE", "pets", 3, 3, 1, 3.0, "click"),
            ("INSERT", "pets", 6, 6, 2, 6.0, "signup"),
            ("DELETE", "pets", 8, 8, 3, 8.0, "error"),
        ])


class PercentileTest(unittest.TestCase):
    def test_refuses_a_tail_it_has_not_seen(self):
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(range(99), 0.9)
        self.assertEqual(stats.percentile(range(1, 101), 0.9), 90)
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(range(19), 0.5)
        self.assertEqual(stats.percentile(range(1, 21), 0.5), 10)


class QuerySampleTest(unittest.TestCase):
    def test_every_family_and_both_speeds(self):
        picked = run.query_sample(1)
        self.assertEqual(len(picked), run.SAMPLE)
        self.assertEqual({q[0] for q in picked}, set("abcde"))
        with open(os.path.join(run.HERE, "r17_query_seconds.json")) as f:
            secs = json.load(f)["seconds"]
        self.assertEqual(sum(secs[q] >= 1.0 for q in picked), 2)
        self.assertEqual(sorted(run.query_sample(2)), sorted(picked), "the seed only reorders")


class FailedRunTest(unittest.TestCase):
    def test_metrics_without_samples_are_null_and_named(self):
        # one query failed in every pass, so no pass is whole
        m = {"oracle_sql": {"q1": "", "q2": ""}, "pass_wall_s": [1.0, 1.0],
             "samples": [{"q": "q1", "pass": p, "latency_s": 0.5, "build_s": 0.1} for p in (0, 1)],
             "setup_s": 3.0, "peak_rss_mb": 900.0}
        errors = []
        metrics, _ = run.end_to_end("analyst_queries", m, errors)
        self.assertIsNone(metrics["latency_s"])
        self.assertIsNone(metrics["throughput_per_s"])
        self.assertEqual(metrics["setup_s"], 3.0)
        self.assertTrue(any(e.startswith("metric latency_s: TooFewSamples") for e in errors))


class DiffTest(unittest.TestCase):
    BEFORE = {"workload": "cdc", "seed": 1, "trace": 1,
              "metrics": {"latency_p50_s": 2.0},
              "per_layer": {"spark.jobs": 40.0, "store.lists": 47.5, "spark.task_run_s": 6.0},
              "detail": {"per_query_counters": {"c25_json": {"jobs": 3, "tasks": 12}}}}
    AFTER = {"workload": "cdc", "seed": 1, "trace": 1,
             "metrics": {"latency_p50_s": 2.2},
             "per_layer": {"spark.jobs": 40.5, "store.lists": 30.0, "spark.task_run_s": 9.0},
             "detail": {"per_query_counters": {"c25_json": {"jobs": 3, "tasks": 8}}}}

    def test_names_changed_work_only(self):
        self.assertEqual(diff.compare(self.BEFORE, self.AFTER), [
            "cdc: store.lists 47.5 -> 30.0",
            "cdc c25_json: tasks 12 -> 8",
        ])
        self.assertEqual(diff.compare(self.BEFORE, json.loads(json.dumps(self.BEFORE))), [])

    def test_tracing_overhead(self):
        untraced = dict(self.BEFORE, trace=0)
        self.assertAlmostEqual(diff.tracing_overhead(untraced, self.AFTER)["latency_p50_s"], 1.1)


if __name__ == "__main__":
    unittest.main()
