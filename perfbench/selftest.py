"""Self-tests of the benchmark harness (no Spark needed).

    python3 perfbench/selftest.py
"""
import copy
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import metrics  # noqa: E402
import reference  # noqa: E402


# temporary files stay inside the checkout, like everything the benchmark writes
TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   ".bench_build", "selftest")


def tmpdir():
    os.makedirs(TMP, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=TMP)


def digest(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


class ContractTest(unittest.TestCase):

    def test_benchmark_json_matches_the_harness(self):
        import json
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual([w["name"] for w in b["workloads"]], list(gen.PARAMS))
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         metrics.PER_LAYER)
        # the batch workloads state the traced run's coverage tolerance
        for w in b["workloads"]:
            if w["name"] != "fx_stream":
                self.assertIn(f"coverage >= {metrics.COVERAGE_MIN}", w["why"], w["name"])


class GeneratorTest(unittest.TestCase):

    def test_same_seed_is_byte_identical(self):
        for w in gen.PARAMS:
            for warm in (False, True):
                with tmpdir() as a, tmpdir() as b, tmpdir() as c:
                    gen.generate(a, w, 7, warm)
                    gen.generate(b, w, 7, warm)
                    gen.generate(c, w, 8, warm)
                    tables = [os.path.join(i, t) for i in gen.PARAMS[w]["inputs"]
                              for t in os.listdir(os.path.join(a, i))]
                    self.assertTrue(tables, w)
                    for table in tables:
                        fa, fb, fc = (os.path.join(d, table) for d in (a, b, c))
                        self.assertEqual(digest(fa), digest(fb), (w, warm, table))
                        self.assertNotEqual(digest(fa), digest(fc), (w, warm, table))

    def test_zero_prices_kept(self):
        import pyarrow.parquet as pq
        with tmpdir() as d:
            gen.generate(d, "fx_batch", 3)
            values = pq.read_table(os.path.join(d, "pairs", "events.parquet")).column("value")
            self.assertGreaterEqual(values.to_pylist().count(0.0), 1)


class CheckTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.dir = tmpdir()
        gen.generate(cls.dir.name, "fx_batch", 5)
        cls.ref = reference.fx_pairs(os.path.join(cls.dir.name, "pairs"))["total"]

    @classmethod
    def tearDownClass(cls):
        cls.dir.cleanup()

    def test_equal_fingerprint_passes(self):
        self.assertEqual(reference.compare(self.ref, dict(self.ref)), [])

    def window(self):
        """The prefix of the reference's largest window."""
        return max((k for k in self.ref if k.endswith(".abs_r")),
                   key=self.ref.get)[:-len("abs_r")]

    def test_perturbed_fingerprint_is_rejected(self):
        # one row more, one key id off, one correlation off by 0.01
        for key, delta in (("rows", 1), ("sum_idprod", -1), ("sum_r", 1e-2)):
            got = dict(self.ref)
            got[self.window() + key] += delta
            self.assertTrue(reference.compare(self.ref, got), key)

    def test_missing_or_extra_window_is_rejected(self):
        w = self.window()
        got = {k: v for k, v in self.ref.items() if not k.startswith(w)}
        self.assertTrue(reference.compare(self.ref, got))
        self.assertTrue(reference.compare(got, self.ref))

    def test_nan_float_sum_is_rejected(self):
        for key in ("sum_r", "abs_r"):
            got = dict(self.ref)
            got[self.window() + key] = float("nan")
            self.assertTrue(reference.compare(self.ref, got), key)

    def test_perturbed_operation_counts_as_failed(self):
        bad = dict(self.ref)
        bad[self.window() + "sum_n"] += 1
        ops = [{"i": i, "traced": False, "ms": 100.0 + i, "mem_mb": 50.0,
                "fp": bad if i == 1 else self.ref} for i in range(3)]
        raw = {"setups": [{"start_ms": 0, "end_ms": 1000}], "warm_up": [bad],
               "ops": ops}
        s = metrics.batch(raw, {"total": self.ref, "warm": self.ref}, 1000, False)
        self.assertEqual((s.attempted, s.failed), (3, 1))
        self.assertTrue(any(p.startswith("warm-up") for p in s.problems))
        # the failed operation's time is not a sample
        self.assertEqual(s.metrics["latency_ms.p50"], 101.0)

    def test_low_trace_coverage_is_a_problem(self):
        def span(layer, ms):
            return dict({k: 0.0 for k in metrics.SPAN_SUMS}, op=1, layer=layer, ms=ms,
                        peak_exec_mem=0.0, task_skew=1.0)
        ops = [{"i": i, "traced": i == 1, "ms": 1000.0, "mem_mb": 50.0, "fp": self.ref,
                "counts": {}} for i in range(2)]
        ref = {"total": self.ref, "warm": self.ref}
        for covered, ok in ((980.0, True), (900.0, False)):
            raw = {"setups": [{"start_ms": 0, "end_ms": 1000}], "warm_up": [],
                   "ops": ops, "cores": 4,
                   "spans": [span("candles", 100.0), span("correlations", covered - 100.0)]}
            s = metrics.batch(raw, ref, 1000, True)
            self.assertAlmostEqual(s.metrics["trace.coverage"], covered / 1000.0)
            self.assertEqual(not s.problems, ok, covered)


class OpenLoopTest(unittest.TestCase):

    def test_stall_is_charged_to_later_files(self):
        due = [100 * i for i in range(10)]
        steady = [d + 30 for d in due]
        lat, backlog = metrics.stream_accounting(due, steady)
        self.assertEqual(max(lat), 30)
        self.assertEqual(backlog, 1)
        # the epoch consuming file 3 stalls until t=1000; files behind it
        # commit one per 30 ms once it clears
        stalled = list(steady)
        t = 1000
        for i in range(3, 10):
            t = max(t, due[i]) + (0 if i == 3 else 30)
            stalled[i] = t
        lat, backlog = metrics.stream_accounting(due, stalled)
        self.assertEqual(lat[3], 1000 - 300)
        for i in range(4, 10):
            self.assertGreater(lat[i], 30, i)
            self.assertEqual(lat[i], stalled[i] - due[i])
        self.assertGreaterEqual(backlog, 7)

    def test_unconsumed_file_is_infinitely_late(self):
        lat, backlog = metrics.stream_accounting([0, 100], [50, None])
        self.assertEqual(lat[1], float("inf"))
        self.assertEqual(backlog, 1)

    def test_stream_window_mismatch_fails_the_consuming_file(self):
        fp = {"rows": 2, "sum_n": 10, "sum_nan": 0, "sum_ids": 3, "sum_idprod": 2,
              "sum_pts": 12, "sum_whour": 20, "sum_r": 1.5, "abs_r": 1.5}
        ref = {"windows": {"10": fp, "13": fp}}
        wrong = copy.deepcopy(fp)
        wrong["sum_r"] = 1.4
        raw = {"setups": [{"start_ms": 0, "end_ms": 10, "stage_s": 1.0}], "warm_up": [],
               "stream": {
                   "due_ms": [0, 100, 200], "released_ms": [0, 100, 200],
                   "mem_mb": 10.0, "gc_ms": 0,
                   "epochs": [{"batch": b, "offset": b, "commit_ms": 100 * b + 40,
                               "rows": 5, "durations": {}, "state_rows": 0,
                               "state_mem": 0, "state_commit_ms": 0,
                               "dropped_late": 0} for b in range(3)],
                   "sink": [{"batch": 1, "sink_ms": 5.0, "windows": {"10": fp}},
                            {"batch": 2, "sink_ms": 5.0, "windows": {"13": wrong}}]}}
        s = metrics.stream(raw, ref, 15, False)
        self.assertEqual((s.attempted, s.failed), (3, 1))
        self.assertEqual(s.metrics["latency_ms.p50"], 40)


if __name__ == "__main__":
    unittest.main()
