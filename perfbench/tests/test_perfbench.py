"""Tests of the benchmark's own machinery.

    python3 -m unittest discover -s perfbench/tests

The CZI tests build the JVM side first (a few seconds when up to date).
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
from pb import build, gen, metrics  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def load_json(path):
    with open(path) as f:
        return json.load(f)


def digests(d):
    out = {}
    for dirpath, _, files in os.walk(d):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-test-")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def twice(self, make, seed, other_seed):
        a, b, c = (os.path.join(self.tmp, n) for n in "abc")
        make(seed, a)
        make(seed, b)
        make(other_seed, c)
        self.assertTrue(digests(a))
        self.assertEqual(digests(a), digests(b))
        self.assertNotEqual(digests(a), digests(c))

    def test_tables_same_seed_same_bytes(self):
        self.twice(lambda s, d: gen.tables(s, 0.001, d), 5, 6)

    def test_store_inputs_same_seed_same_bytes(self):
        self.twice(lambda s, d: gen.store_inputs(s, 2000, 16, d), 5, 6)

    def test_store_stream_mix(self):
        gen.store_inputs(3, 2000, 32, self.tmp)
        stream = load_json(os.path.join(self.tmp, "stream.json"))
        kinds = [s["kind"] for s in stream]
        self.assertEqual(kinds[0], "merge")
        self.assertEqual(sum(k in ("merge", "update", "delete") for k in kinds), 16)
        self.assertEqual(kinds.count("changes"), 2)
        self.assertEqual(kinds[:16], kinds[16:])

    def test_query_order_is_a_seeded_permutation(self):
        panel = run.PANEL
        a = gen.query_order(9, panel, 0)
        self.assertEqual(a, gen.query_order(9, panel, 0))
        self.assertEqual(sorted(a), sorted(panel))
        self.assertNotEqual(a, gen.query_order(9, panel, 1))
        self.assertNotEqual(a, gen.query_order(10, panel, 0))


class CziTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        build.build()
        cls.tmp = tempfile.mkdtemp(prefix="perfbench-czi-", dir=build.BUILD)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def test_same_seed_same_bytes(self):
        files = []
        for n, seed in (("a", 4), ("b", 4), ("c", 5)):
            out = os.path.join(self.tmp, f"{n}.czi")
            exp = os.path.join(self.tmp, f"{n}.json")
            run.java(["gen-czi", out, exp, str(seed), "6", "20", "33"], self.tmp,
                     os.path.join(self.tmp, "gen.log"), heap="512m")
            with open(out, "rb") as fh:
                files.append((fh.read(), load_json(exp)))
        self.assertEqual(files[0], files[1])
        self.assertNotEqual(files[0][0], files[2][0])
        levels = files[0][1]["levels"]
        self.assertEqual([lv["shape"] for lv in levels],
                         [[6, 20, 33], [3, 10, 17], [2, 5, 9], [1, 3, 5]])

    def test_round_trips_through_reader_and_source(self):
        run.java(["roundtrip-czi", self.tmp], self.tmp, os.path.join(self.tmp, "rt.log"),
                 heap="1g")
        with open(os.path.join(self.tmp, "rt.log")) as fh:
            log = fh.read()
        self.assertIn("mismatches=0", log)


class MetricsTest(unittest.TestCase):
    def test_tail_percentile_rule(self):
        values = list(range(1, 171))
        p, v, beyond = metrics.tail(values)
        self.assertEqual((p, beyond), (94, 10))
        self.assertEqual(v, 160)
        self.assertEqual(metrics.tail(list(range(100)))[:1], (90,))
        self.assertEqual(metrics.tail(list(range(100)))[2], 10)
        # fewer than 20 samples: the upper median
        self.assertEqual(metrics.tail([4.0, 1.0, 3.0, 2.0]), (50, 3.0, 1))
        self.assertEqual(metrics.tail([5.0]), (50, 5.0, 0))

    def raw(self):
        return {"setup_s": [3.0, 1.0, 1.2], "units": [{"s": 2.0, "traced": False},
                                                      {"s": 2.2, "traced": True}],
                "heap_live_mb": 310.0,
                "ops": [{"name": "q1", "kind": "merge", "ms": 10.0, "traced": True},
                        {"name": "q2", "kind": "point", "ms": 4.0, "traced": True}] +
                       [{"name": n, "kind": "query", "ms": ms, "traced": False}
                        for n, ms in (("a", 1000.0), ("a", 5000.0), ("a", 1200.0),
                                      ("b", 500.0), ("b", 400.0), ("b", 600.0))],
                "layers": {"spark.jobs": 3.0}, "extra": {}, "errors": [],
                "attempted": 2, "failed": 0, "peak_rss_mb": 900.0}

    def test_summary_shape(self):
        spec = load_json(os.path.join(ROOT, "BENCHMARK.json"))
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            out, details = run.summarize(self.raw(), trace, extra_failed=1)
            self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual((out["correct"], out["attempted"], out["failed"]), (False, 2, 1))
            self.assertEqual(details["failed_frac"], 0.5)
            want = {m["name"]: m["unit"] for m in spec[key]}
            self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()}, want)
            for v in out["metrics"].values():
                self.assertEqual(set(v), {"value", "unit"})
                self.assertIsInstance(v["value"], float)
            json.loads(json.dumps(out))
        out, details = run.summarize(self.raw(), False)
        self.assertEqual(out["metrics"]["setup_s"]["value"], 1.2)
        # per-operation medians summed: 1200 + 500 + 10 + 4 ms; the
        # 5000 ms stall of "a" does not count
        self.assertAlmostEqual(out["metrics"]["wall_s"]["value"], 1.714)
        self.assertEqual(details["op_p50_ms"], 550.0)
        layers, _ = run.summarize(self.raw(), True)
        self.assertEqual(layers["metrics"]["store.write_p50_ms"]["value"], 10.0)
        self.assertEqual(layers["metrics"]["jvm.peak_rss_mb"]["value"], 900.0)
        self.assertEqual(layers["metrics"]["jvm.heap_live_mb"]["value"], 310.0)

    def test_benchmark_json_matches_metric_tables(self):
        spec = load_json(os.path.join(ROOT, "BENCHMARK.json"))
        self.assertEqual([w["name"] for w in spec["workloads"]], list(metrics.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         metrics.PER_LAYER)
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in spec["end_to_end"]))


class RunTest(unittest.TestCase):
    def test_fails_without_the_engine_sources(self):
        d = tempfile.mkdtemp(prefix="perfbench-bare-")
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "queries",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=120)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout, "")
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
