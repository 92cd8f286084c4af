"""Tests of the benchmark's own logic.  Run: python3 -m unittest perfbench/test_benchlib.py"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import benchlib  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(benchlib.percentile([float(i) for i in range(99)], 0.9))
        self.assertEqual(benchlib.percentile([float(i) for i in range(100)], 0.9), 89.0)

    def test_p90_is_omitted_from_per_layer_below_100_items(self):
        result = fake_run(items_per_pass=30, passes=3)
        out, _, _ = benchlib.per_layer(result, set())
        self.assertEqual(out["items.p90_s"], 0.0)
        out, _, _ = benchlib.per_layer(fake_run(items_per_pass=40, passes=3), set())
        self.assertGreater(out["items.p90_s"], 0.0)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        # parent 0..100; children 10..40 and 30..60 overlap on 30..40
        self.assertEqual(benchlib.self_time((0, 100), [(10, 40), (30, 60)]), 50)

    def test_children_are_clipped_to_the_parent(self):
        self.assertEqual(benchlib.self_time((0, 100), [(-20, 10), (90, 150), (200, 300)]), 80)

    def test_nested_and_disjoint_children(self):
        self.assertEqual(benchlib.self_time((0, 100), [(10, 50), (20, 30), (70, 80)]), 50)

    def test_span_tree_self_time(self):
        spans = benchlib.build_spans(fake_run(items_per_pass=1, passes=1, jobs=True)["passes"])
        job = [s for s in spans if s["kind"] == "job"]
        self.assertEqual(len(job), 2)
        build = next(s for s in spans if s["kind"] == "phase" and s["name"] == "build")
        # build phase 0..1000 us holds two overlapping jobs over 200..700 us
        self.assertTrue(all(j["parent"] == build["id"] for j in job))
        self.assertEqual(build["self_us"], 500)


class FailedRatio(unittest.TestCase):
    def test_counts_throws_and_wrong_answers(self):
        items = [dict(name="a", ok=True), dict(name="b", ok=False, error="boom"),
                 dict(name="c", ok=True), dict(name="d", ok=True)]
        # "c" had its expected answer perturbed, so its checked output mismatches
        self.assertEqual(benchlib.failed_ratio(items, {"c"}), (4, 2, 0.5))

    def test_instance_differing_from_the_checked_output_fails(self):
        items = [dict(name="a", ok=True, same_as_checked=True),
                 dict(name="a", ok=True, same_as_checked=False),
                 dict(name="e", ok=True, check_ok=False)]
        self.assertEqual(benchlib.failed_ratio(items, set())[1], 2)

    def test_throwing_item_and_perturbed_expected_answer_both_count(self):
        import os
        import tempfile
        import pyarrow as pa
        import pyarrow.parquet as pq
        import run
        bench = run.Bench.__new__(run.Bench)
        bench.lv = load_local_verify()
        with tempfile.TemporaryDirectory() as d:
            for name in ("good", "perturbed"):
                os.makedirs(f"{d}/{name}")
                pq.write_table(pa.table({"k": [1, 2], "v": [0.5, 0.25]}), f"{d}/{name}/part.parquet")
            # row order does not matter; the last bit of a float does
            right = bench.digest({"v": [0.25, 0.5], "k": [2, 1]})
            perturbed = bench.digest({"v": [0.25, 0.5000000000000001], "k": [2, 1]})
            items = [dict(name="good", ok=True, output=f"{d}/good"),
                     dict(name="perturbed", ok=True, output=f"{d}/perturbed"),
                     dict(name="throws", ok=False, error="boom")]
            bad = bench.check_registry({"passes": [{"items": items}]},
                                       {"good": right, "perturbed": perturbed, "throws": right})
        self.assertEqual(bad, {"perturbed"})
        self.assertEqual(benchlib.failed_ratio(items, bad), (3, 2, 2 / 3))


def load_local_verify():
    import importlib.util
    root = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location("local_verify", root / "scripts" / "local_verify.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def fake_run(items_per_pass, passes, jobs=False):
    """JVM records of a traced run: pass 0 untraced, then alternating."""
    out = []
    t = 0
    for k in range(passes):
        traced = k % 2 == 1 or (jobs and k == 0)
        items = []
        for i in range(items_per_pass):
            start = t
            phases = [dict(name="build", start_us=t, end_us=t + 1000),
                      dict(name="plan", start_us=t + 1000, end_us=t + 1500),
                      dict(name="exec", start_us=t + 1500, end_us=t + 3000 + i)]
            t += 3000 + i
            it = dict(name=f"q{i}", trace_id=f"p{k}.i{i}", start_us=start, end_us=t,
                      phases=phases, ok=True)
            if traced:
                js = []
                if jobs:
                    js = [dict(id=1, start_ms=(start + 200) / 1000, end_ms=(start + 600) / 1000,
                               stages=[]),
                          dict(id=2, start_ms=(start + 400) / 1000, end_ms=(start + 700) / 1000,
                               stages=[])]
                it["events"] = dict(jobs=js, stages=[], executions=[], streams=[], batches=[])
            items.append(it)
        wall = sum((it["end_us"] - it["start_us"]) / 1e6 for it in items)
        out.append(dict(index=k, traced=traced, start_us=items[0]["start_us"],
                        end_us=items[-1]["end_us"], wall_s=wall,
                        items=items, extras={}))
    return dict(passes=out, setups=[dict(session_s=1.0, warmup_s=2.0)],
                meta=dict(cores=4))


if __name__ == "__main__":
    unittest.main()
