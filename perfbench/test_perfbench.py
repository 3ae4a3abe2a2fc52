"""The benchmark's own tests.

    python3 -m unittest perfbench/test_perfbench.py

* seeded inputs: the same seed gives identical bytes, another seed does not;
* listener attribution on a tiny stream (runs the JVM self-test, building
  the harness first if needed);
* every metric BENCHMARK.json names is reported, with its unit: the
  per-layer ones from the counters the harness really emits for a traced
  op (the self-test's), the end-to-end ones from a report of the harness's
  shape.
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def _files(d):
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


class SeededInputs(unittest.TestCase):
    def _same(self, a, b):
        names = _files(a)
        self.assertEqual(names, _files(b))
        return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False)
                   for n in names)

    def test_sensor_inputs_follow_the_seed(self):
        with tempfile.TemporaryDirectory() as t:
            for name, seed in (("a", 7), ("b", 7), ("c", 8)):
                inputs.make_sensor(os.path.join(t, name), seed)
            self.assertTrue(self._same(os.path.join(t, "a"), os.path.join(t, "b")))
            self.assertFalse(filecmp.cmp(os.path.join(t, "a", "readings.parquet"),
                                         os.path.join(t, "c", "readings.parquet"), shallow=False))

    @unittest.skipUnless(os.path.isdir(run.ESTATE_SOURCE), "sf0.1 estate not present")
    def test_estate_subsample_follows_the_seed(self):
        with tempfile.TemporaryDirectory() as t:
            for name, seed in (("a", 7), ("b", 7), ("c", 8)):
                inputs.make_estate(os.path.join(t, name), seed, run.ESTATE_SOURCE)
            self.assertTrue(self._same(os.path.join(t, "a"), os.path.join(t, "b")))
            for table in inputs.SAMPLED:
                self.assertFalse(filecmp.cmp(
                    os.path.join(t, "a", f"{table}.parquet"),
                    os.path.join(t, "c", f"{table}.parquet"), shallow=False), table)

    def test_encoder_layout(self):
        import numpy as np
        p = inputs.encode_format5(
            np.array([-1]), np.array([5000]), np.array([101325]), np.array([-1000]),
            np.array([0]), np.array([1000]), np.array([255]),
            np.zeros((1, 10), dtype=np.uint8))[0]
        self.assertEqual(p[0], 5)
        self.assertEqual(int.from_bytes(p[1:3].tobytes(), "big", signed=True), -2)
        self.assertEqual(int.from_bytes(p[3:5].tobytes(), "big"), 20000)
        self.assertEqual(int.from_bytes(p[5:7].tobytes(), "big"), 51325)
        self.assertEqual(int.from_bytes(p[7:9].tobytes(), "big", signed=True), -1000)
        self.assertEqual(int.from_bytes(p[11:13].tobytes(), "big", signed=True), 1000)
        self.assertEqual(p[15], 255)


_self_test = None


def self_test():
    """The JVM self-test's JSON line, run once per test process."""
    global _self_test
    if _self_test is None:
        cp = run.build()
        with tempfile.TemporaryDirectory() as t:
            cmd = [run.java_binary(), *run.jvm_flags(t), "-cp", cp, "perfbench.SelfTest", t]
            r = subprocess.run(cmd, capture_output=True, text=True, timeout=170,
                               cwd=t, env=run.jvm_env())
            if r.returncode != 0:
                raise AssertionError(r.stdout[-3000:] + r.stderr[-3000:])
            _self_test = json.loads(r.stdout.strip().splitlines()[-1])
    return _self_test


class ListenerAttribution(unittest.TestCase):
    def test_tiny_stream(self):
        got = self_test()
        self.assertIsNone(got["error"])
        # three files, one per trigger: three micro-batches, each seen by
        # the StreamingQueryListener and each owning at least one job
        self.assertEqual(got["progress_batches"], [0, 1, 2])
        self.assertEqual(got["job_batches"], 3)
        self.assertGreaterEqual(got["batch_jobs"], 3)
        # the stream ran inside the op's build span, in a newSession() child
        self.assertGreaterEqual(got["build_jobs"], got["batch_jobs"])
        self.assertGreaterEqual(got["exec_jobs"], 1)
        self.assertGreaterEqual(got["exec_qe_events"], 1)
        self.assertGreater(got["state_rows"], 0)

    def test_spans_cover_the_op(self):
        got = self_test()
        spans = got["spans"]
        self.assertEqual([s["name"] for s in spans], ["build", "plan", "exec", "sweep"])
        # the write's own planning phases, carved out of its exec span
        self.assertGreater(spans[1]["duration_s"], 0)
        # one after another, with only the harness's bookkeeping between them
        for a, b in zip(spans, spans[1:]):
            self.assertAlmostEqual(a["start_s"] + a["duration_s"], b["start_s"], delta=0.01)
        self.assertAlmostEqual(sum(s["duration_s"] for s in spans), got["wall_s"], delta=0.05)


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def _report(self, workload):
        layers = self_test()["layers"]
        passes = [{"index": i, "traced": i % 2 == 1 or i == 0, "measured": i >= 4,
                   "start_s": 2.0 * max(i - 1, 0), "wall_s": 2.0 + i,
                   "storage_mb": 1.0, "pinned": 2, "layers": layers, "ops": []}
                  for i in range(10)]
        return {"workload": workload,
                "setup": {"total_s": 3.0, "session_s": 1.0, "tune_s": 0.1, "warmup_s": 1.0},
                "passes": passes, "live_heap_mb": 80.0, "heap_max_mb": 2048.0}

    def test_benchmark_json_lists_the_reported_metrics(self):
        self.assertEqual([m["name"] for m in self.bench["end_to_end"]],
                         list(metrics.END_TO_END))
        self.assertEqual([m["name"] for m in self.bench["per_layer"]],
                         list(metrics.PER_LAYER))
        for m in self.bench["end_to_end"] + self.bench["per_layer"]:
            self.assertEqual(m["unit"], metrics.UNITS[m["name"]])
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(metrics.WORKLOADS))

    def test_every_emitted_counter_is_named(self):
        # etl.readings_kept is the numerator of etl.kept_ratio
        emitted = set(self_test()["layers"]) - {"etl.readings_kept"}
        self.assertEqual(emitted - set(metrics.PER_LAYER), set())

    def test_every_metric_is_reported(self):
        for w in metrics.WORKLOADS:
            e2e = metrics.end_to_end(self._report(w), 1000)
            self.assertEqual(set(e2e), set(metrics.END_TO_END))
            layers = metrics.per_layer(self._report(w), 0, 1000)
            self.assertEqual(set(layers), set(metrics.PER_LAYER))
            for v in list(e2e.values()) + list(layers.values()):
                self.assertIsInstance(v, (int, float))


if __name__ == "__main__":
    unittest.main()
