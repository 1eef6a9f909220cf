"""Self-tests of the benchmark's own parts (no Spark needed):

    python3 perfbench/test_perfbench.py
"""
import copy
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402


def perfect_observation(exp):
    """What a correct program run would let the harness observe."""
    return {
        "hist": dict(exp["date_hist"]),
        "errors": {k: v for k, v in exp["errors"].items() if v},
        "probe_count": exp["probe_count"],
        "read_rows": exp["read_images"],
        "read_counts": [exp["read_images"]] * 3,
        "samples": [dict(s) for s in exp["samples"]],
        "out_files": 31, "out_bytes": 500000,
        "warm": False, "traced": False, "run_s": 8.0, "ttq_s": 9.0, "read_s": [1.5, 1.4, 1.6],
    }


def temp_dir(case):
    d = tempfile.TemporaryDirectory()
    case.addCleanup(d.cleanup)
    return d.name


def etl_result(exp, obs):
    warm = {"rows": exp["warmup"]["images"], "read_rows": exp["warmup"]["read_images"]}
    return {"setup_s": [20.0, 5.0, 4.0], "warmup": [warm] * 3, "iterations": [obs],
            "peak_rss_mb": 1200.0, "conf": {}}


def stream_result(exp):
    """A correct stream run: burst k is published at 2 s × k and committed
    by micro-batch k one second later."""
    feed = [key for b in exp["bursts"] for key in b]
    burst_of = [k for k, b in enumerate(exp["bursts"]) for _ in b]
    obs = perfect_observation(exp)
    obs.update({
        "feed": feed, "burst_of": burst_of, "batch_of": burst_of,
        "written_ms": [2000.0 * k for k in range(len(exp["bursts"]))],
        "committed": list(range(len(exp["bursts"]))),
        "progress": [{"batch": k, "start_ms": 2000.0 * k + 10, "end_ms": 2000.0 * k + 1000,
                      "durations": {"addBatch": 800}} for k in range(len(exp["bursts"]))],
        "pipeline": {}})
    warm = {"rows": exp["warmup"]["images"], "read_rows": exp["warmup"]["read_images"]}
    return {"setup_s": [20.0, 5.0, 4.0], "warmup": [warm] * 3, "stream": [obs],
            "peak_rss_mb": 1200.0, "conf": {}}


class Generator(unittest.TestCase):
    def corpus(self, workload, seed):
        d = temp_dir(self)
        exp = gen.generate(workload, seed, d, stream_bursts_n=4)
        return gen.digest(d), exp

    def test_same_seed_same_bytes(self):
        for w in ("etl_small_objects", "ingest_stream"):
            self.assertEqual(self.corpus(w, 7)[0], self.corpus(w, 7)[0], w)

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(self.corpus("ingest_stream", 7)[0],
                            self.corpus("ingest_stream", 8)[0])

    def test_expectations_cover_every_object(self):
        _, exp = self.corpus("etl_small_objects", 3)
        self.assertEqual(sum(exp["date_hist"].values()), exp["images"])
        self.assertTrue(all(exp["errors"][s] > 0 for s in ("route", "expand", "parse")))
        self.assertGreater(exp["ignored"], 0)
        self.assertLessEqual(exp["probe_count"], exp["images"])


class Checker(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        d = tempfile.TemporaryDirectory()
        cls.addClassCleanup(d.cleanup)
        cls.exp = gen.generate("etl_small_objects", 5, d.name)

    def judge(self, mutate=lambda o: None):
        obs = perfect_observation(self.exp)
        mutate(obs)
        return check.judge(self.exp, etl_result(self.exp, obs), trace=False)

    def test_correct_output_passes(self):
        correct, attempted, failed, _, problems = self.judge()
        self.assertTrue(correct, problems)
        self.assertEqual(failed, 0)
        self.assertGreater(attempted, self.exp["images"])

    def test_dropped_row_fails(self):
        def drop(o):
            o["hist"][self.exp["probe_date"]] -= 1
        correct, _, failed, _, _ = self.judge(drop)
        self.assertFalse(correct)
        self.assertEqual(failed, 1)

    def test_wrong_error_stage_fails(self):
        def move(o):
            o["errors"]["parse"] -= 1
            o["errors"]["transform"] = 1
        correct, _, failed, _, _ = self.judge(move)
        self.assertFalse(correct)
        self.assertEqual(failed, 2)

    def test_wrong_typed_value_fails(self):
        def tamper(o):
            o["samples"][0]["patient_name"] = ["Nobody", "X"]
        self.assertFalse(self.judge(tamper)[0])

    def test_wrong_pruned_count_fails(self):
        def tamper(o):
            o["probe_count"] += 1
        self.assertFalse(self.judge(tamper)[0])

    def test_silent_empty_dicom_read_fails(self):
        def empty(o):
            o["read_rows"], o["read_counts"] = 0, [0, 0, 0]
        self.assertFalse(self.judge(empty)[0])

    def test_stream_bursts_are_one_study_each(self):
        exp = gen.generate("ingest_stream", 9, temp_dir(self), stream_bursts_n=4)
        self.assertEqual(len(exp["bursts"]), 4)
        self.assertEqual(exp["burst_images"], [12] * 4)
        # no zero-length object: the stream drops those without an error
        self.assertEqual(exp["errors"]["parse"], 1)
        correct, _, _, metrics, problems = check.judge(exp, stream_result(exp), trace=False)
        self.assertTrue(correct, problems)
        self.assertAlmostEqual(metrics["time_to_queryable_s"]["value"], 1.0)
        self.assertAlmostEqual(metrics["images_per_s"]["value"], 12.0)

    def test_uncommitted_stream_object_fails(self):
        stream = {"feed": ["a", "b"], "batch_of": [0, -1], "committed": [0]}
        problems = []
        self.assertEqual(check.check_stream_commits(stream, problems, "s"), (2, 1))


class MetricLine(unittest.TestCase):
    def test_names_every_declared_metric_with_its_unit(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        exp = gen.generate("etl_small_objects", 6, temp_dir(self))
        obs = perfect_observation(exp)
        traced = dict(copy.deepcopy(obs), traced=True, pipeline={})
        result = etl_result(exp, obs)
        result["iterations"] = [dict(obs, warm=True), obs, traced, obs]
        result["replay"] = {"expand_s": 0.1, "parse_s": 0.1, "flatten_s": 0.1, "bytes": 1,
                            "members": 1, "ignored": 1, "images": 1, "elements": 1,
                            "values": 1}
        sexp = gen.generate("ingest_stream", 6, temp_dir(self), stream_bursts_n=4)
        for exp, result in ((exp, result), (sexp, stream_result(sexp))):
            for key, trace in (("end_to_end", False), ("per_layer", True)):
                _, _, _, metrics, _ = check.judge(exp, result, trace)
                want = {m["name"]: m["unit"] for m in bench[key]}
                self.assertEqual({k: v["unit"] for k, v in metrics.items()}, want, key)
                self.assertTrue(all(isinstance(v["value"], float) for v in metrics.values()))


if __name__ == "__main__":
    unittest.main()
