"""Tests of the benchmark itself.

    python3 perfbench/test_perfbench.py            # unit tests (seconds)
    python3 perfbench/test_perfbench.py -v Bypass  # traced runs (minutes)

``BypassCheck`` tests the bypass invariants on planted run records;
``Bypass`` runs every workload traced and checks them on real runs: memo
tables are built only on corpus_memo, and the streaming layer is touched
only on stream_mixed.
"""
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import digest  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class Percentile(unittest.TestCase):
    def test_too_few_samples(self):
        self.assertEqual(stats.tail(list(range(10))), (None, None, 10))

    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))
        random.Random(1).shuffle(xs)
        self.assertEqual(stats.tail(xs), (90, 90, 100))
        self.assertEqual(stats.tail(list(range(1, 21))), (10, 50, 20))
        self.assertEqual(stats.tail(list(range(1, 12))), (1, 9, 11))

    def test_every_reported_percentile_keeps_ten_beyond(self):
        for n in range(11, 300, 7):
            v, p, _ = stats.tail(list(range(n)))
            self.assertGreaterEqual(sum(1 for x in range(n) if x > v), 10)
            v2, _, _ = stats.tail(list(range(n)), beyond=9)
            self.assertGreaterEqual(v2, v)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = {1: dict(parent=0, start=0, end=10),
                 2: dict(parent=1, start=1, end=4),
                 3: dict(parent=1, start=3, end=6),
                 4: dict(parent=1, start=8, end=12),
                 5: dict(parent=2, start=1, end=2)}
        self.assertEqual(stats.self_times(spans),
                         {1: 10 - 5 - 2, 2: 3 - 1, 3: 3, 4: 4, 5: 1})

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(stats.union_length([]), 0)


class Digest(unittest.TestCase):
    names = ["b", "a", "ts"]
    rows = [(1, "x", None), (2, "y", 1.5), (3, None, -0.0), (2, "y", 1.5)]

    def test_order_insensitive(self):
        d = digest.digest(self.names, self.rows)
        shuffled = self.rows[:]
        random.Random(3).shuffle(shuffled)
        self.assertEqual(digest.digest(self.names, shuffled), d)
        swapped = [(r[1], r[0], r[2]) for r in self.rows]
        self.assertEqual(digest.digest(["a", "b", "ts"], swapped), d)

    def test_planted_wrong_row_is_caught(self):
        d = digest.digest(self.names, self.rows)
        wrong = self.rows[:]
        wrong[1] = (2, "y", 1.5000000000000002)
        self.assertNotEqual(digest.digest(self.names, wrong), d)
        self.assertNotEqual(digest.digest(self.names, self.rows[:-1]), d)
        self.assertNotEqual(digest.digest(self.names, self.rows + [self.rows[0]]), d)

    def test_parquet_result_digests_like_its_rows(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        d = tempfile.mkdtemp()
        try:
            pq.write_table(pa.table({"b": [r[0] for r in self.rows],
                                     "a": [r[1] for r in self.rows],
                                     "ts": [r[2] for r in self.rows]}),
                           os.path.join(d, "part-0.parquet"))
            self.assertEqual(digest.parquet_digest(d),
                             digest.digest(self.names, self.rows))
            self.assertEqual(digest.parquet_digest(os.path.join(d, "none")),
                             digest.digest([], []))
        finally:
            shutil.rmtree(d)

    def test_value_canonical_forms(self):
        self.assertEqual(digest.canon(-0.0), digest.canon(0.0))
        self.assertNotEqual(digest.canon(1), digest.canon(1.0))
        self.assertNotEqual(digest.canon(True), digest.canon(1))
        self.assertEqual(digest.canon([1, None]), "[i:1,n]")


class Generator(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        d = tempfile.mkdtemp()
        try:
            gen.generate(11, os.path.join(d, "a"))
            gen.generate(11, os.path.join(d, "b"))
            gen.generate(12, os.path.join(d, "c"))
            h = [gen.tree_hash(os.path.join(d, x)) for x in "abc"]
            self.assertEqual(h[0], h[1])
            self.assertNotEqual(h[0], h[2])
        finally:
            shutil.rmtree(d)

    def test_admissions_double_the_corpus_once(self):
        s = gen.STREAM
        fresh = s["admit_batches"] * s["admit_fresh"]
        self.assertGreaterEqual(fresh, s["seed_vectors"])
        self.assertLess(s["seed_vectors"] + fresh, 4 * s["seed_vectors"])


def traced_result(workload, op_kind, streaming_frame=None):
    """A minimal traced run record: one operation with one execute phase
    that ran one job, whose call stack may pass through graft.streaming."""
    return {
        "workload": workload,
        "trace": {"spans": [
            {"id": 1, "parent": 0, "kind": "op", "name": f"{op_kind}:x", "start": 0, "end": 10},
            {"id": 2, "parent": 1, "kind": "phase", "name": "execute", "start": 0, "end": 10}],
            "jobs": [{"id": 0, "parent": 2, "start": 1, "end": 9,
                      "streaming_frame": streaming_frame}],
            "stages": [], "executions": []},
        "extra": {},
        "memo": {"builds": 1 if workload == "corpus_memo" else 0, "build_s": 0.0},
        "checkpoint": {"live_rdds": 0, "cached_mb": 0.0},
        "codegen": {"compiles": 0, "compile_s": 0.0, "bytecode_kb": 0.0},
        "jvm": {"gc_s": 0.0, "code_cache_mb": 0.0}}


class BypassCheck(unittest.TestCase):
    def violations(self, *args):
        layers, _, jobs, _ = run.per_layer(traced_result(*args), 4)
        return run.bypass_violations(args[0], layers, jobs)

    def test_clean_runs_pass(self):
        self.assertEqual(self.violations("elt_star", "query"), [])
        self.assertEqual(self.violations("corpus_memo", "query"), [])
        self.assertEqual(self.violations(
            "stream_mixed", "topk", "graft.streaming.IvfIndex$.topK"), [])

    def test_streaming_call_inside_a_query_is_caught(self):
        for w in ("elt_star", "corpus_memo"):
            bad = self.violations(w, "query", "graft.streaming.IvfIndex$.topK")
            self.assertIn("bypass: streaming.stack_jobs = 1 on " + w, bad)
            self.assertIn("bypass: graft.streaming.IvfIndex$.topK ran on " + w, bad)

    def test_stream_run_that_never_reached_the_layer_is_caught(self):
        self.assertTrue(self.violations("stream_mixed", "topk"))

    def test_memo_builds(self):
        r = traced_result("elt_star", "query")
        r["memo"]["builds"] = 2
        layers, _, jobs, _ = run.per_layer(r, 4)
        self.assertEqual(run.bypass_violations("elt_star", layers, jobs),
                         ["bypass: memo.builds = 2 on elt_star"])
        r = traced_result("corpus_memo", "query")
        r["memo"]["builds"] = 0
        layers, _, jobs, _ = run.per_layer(r, 4)
        self.assertTrue(run.bypass_violations("corpus_memo", layers, jobs))


class Bypass(unittest.TestCase):
    def traced(self, workload):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "5", "--seconds", "20", "--trace", "1"],
            cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600)
        self.assertEqual(p.returncode, 0, p.stdout[-3000:] + p.stderr[-3000:])
        m = json.loads(p.stdout.strip().splitlines()[-1])["metrics"]
        return {k: v["value"] for k, v in m.items()}

    def check(self, workload):
        m = self.traced(workload)
        if workload == "corpus_memo":
            self.assertGreater(m["memo.builds"], 0)
        else:
            self.assertEqual(m["memo.builds"], 0)
        streaming = {k: v for k, v in m.items() if k.startswith("streaming.")}
        if workload == "stream_mixed":
            self.assertEqual(streaming["streaming.rebuilds"], 1)
            self.assertGreater(streaming["streaming.topk_jobs"], 0)
            self.assertGreater(streaming["streaming.stack_jobs"], 0)
        else:
            self.assertTrue(all(v == 0 for v in streaming.values()), streaming)

    def test_elt_star(self):
        self.check("elt_star")

    def test_corpus_memo(self):
        self.check("corpus_memo")

    def test_stream_mixed(self):
        self.check("stream_mixed")


if __name__ == "__main__":
    unittest.main()
