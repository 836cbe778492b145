"""Self-tests for the benchmark's own arithmetic and input generator.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import pyarrow as pa  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def span(i, parent, layer, start, end):
    return {"id": i, "parent": parent, "layer": layer, "start": start, "end": end}


class TailPercentile(unittest.TestCase):
    def test_rank_and_samples_beyond(self):
        samples = list(range(1, 41))  # 40 samples
        value, beyond = stats.tail_percentile(samples, 0.75)
        self.assertEqual(value, 30)
        self.assertEqual(beyond, 10)

    def test_too_few_samples_are_refused(self):
        with self.assertRaises(ValueError):
            stats.tail_percentile(list(range(39)), 0.75)
        with self.assertRaises(ValueError):
            stats.tail_percentile(list(range(99)), 0.9)

    def test_min_samples(self):
        self.assertEqual(stats.min_samples_for(0.75), 40)
        self.assertEqual(stats.min_samples_for(0.9), 100)
        n = stats.min_samples_for(0.75)
        self.assertEqual(stats.tail_percentile(list(range(n)), 0.75)[1], 10)

    def test_order_does_not_matter(self):
        a = [5.0, 1.0, 3.0] * 20
        self.assertEqual(stats.tail_percentile(a, 0.75), stats.tail_percentile(sorted(a), 0.75))


class SelfTimes(unittest.TestCase):
    def test_nested_self_time(self):
        spans = [span("p", None, "pass", 0, 100),
                 span("q", "p", "query", 10, 90),
                 span("b", "q", "build", 10, 30),
                 span("e", "q", "exec", 40, 90),
                 span("j", "e", "job", 45, 85),
                 span("s", "j", "stage", 50, 80)]
        self.assertEqual(stats.self_times(spans), {
            "pass": 20, "query": 10, "build": 20, "exec": 10, "job": 10, "stage": 30})

    def test_self_times_sum_to_root(self):
        spans = [span("p", None, "pass", 0, 1000),
                 span("q", "p", "query", 100, 900),
                 span("e", "q", "exec", 150, 850),
                 span("j1", "e", "job", 200, 600),
                 span("j2", "e", "job", 400, 800),
                 span("s1", "j1", "stage", 250, 550),
                 span("s2", "j2", "stage", 450, 700)]
        self.assertEqual(sum(stats.self_times(spans).values()), 1000)

    def test_overlapping_siblings_count_once(self):
        spans = [span("e", None, "exec", 0, 100),
                 span("s1", "e", "stage", 10, 60),
                 span("s2", "e", "stage", 40, 90)]
        self.assertEqual(stats.self_times(spans), {"exec": 20, "stage": 80})

    def test_children_are_clipped_to_parents(self):
        spans = [span("q", None, "query", 100, 200),
                 span("j", "q", "job", 90, 210)]
        clipped, cut = stats.clip_spans(spans)
        self.assertEqual(cut, 20)
        self.assertEqual(stats.self_times(spans), {"job": 100})


class ReuseRatio(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.reuse_ratio(3, 1), 0.25)
        self.assertEqual(stats.reuse_ratio(0, 2), 1.0)

    def test_no_exchanges(self):
        self.assertEqual(stats.reuse_ratio(0, 0), 0.0)


class Spread(unittest.TestCase):
    def test_iqr_frac(self):
        self.assertAlmostEqual(stats.iqr_frac([10.0] * 8), 0.0)
        self.assertAlmostEqual(stats.iqr_frac([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                               (8.25 - 2.75) / 5.5)

    def test_linear_fit(self):
        a, b = stats.linear_fit([100, 100, 1000, 1000], [1.1, 1.3, 2.1, 2.3])
        self.assertAlmostEqual(a, 1.0888888888888888)
        self.assertAlmostEqual(b, 1.0 / 900)


class PassSpans(unittest.TestCase):
    def test_jobs_nest_under_the_phase_they_started_in(self):
        p = {"start": 0, "end": 1000, "queries": [{
            "q": "q_x", "start": 0, "end": 1000,
            "phases": {"build": [0, 300], "exec": [400, 1000]}}]}
        jobs = {1: {"id": 1, "group": "q:0:q_x", "start": 100, "end": 200, "stages": [5]},
                2: {"id": 2, "group": "q:0:q_x", "start": 500, "end": 900, "stages": [6]},
                3: {"id": 3, "group": "q:1:q_x", "start": 500, "end": 900, "stages": []}}
        by_job = {2: [{"id": 6, "attempt": 0, "submit": 550, "complete": 850}]}
        spans, phase = run.pass_spans(0, p, jobs, by_job)
        self.assertEqual(phase, {1: "build", 2: "exec"})
        st = stats.self_times(spans)
        self.assertEqual(st["build"], 200)
        self.assertEqual(st["stage"], 300)
        self.assertEqual(sum(st.values()), 1000)


class Generator(unittest.TestCase):
    SIZES = gen.sizes_for(lineitem_rows=600, documents_rows=40, embeddings_rows=30)

    def write(self, seed):
        d = tempfile.mkdtemp(dir=self.tmp)
        gen.write(d, seed, self.SIZES)
        return d

    def setUp(self):
        self._tmp = tempfile.TemporaryDirectory()
        self.tmp = self._tmp.name

    def tearDown(self):
        self._tmp.cleanup()

    def test_same_seed_same_bytes(self):
        a, b = self.write(7), self.write(7)
        for t in workloads.TABLES:
            for part in ("part-0.parquet", "part-1.parquet"):
                fa = os.path.join(a, f"{t}.parquet", part)
                fb = os.path.join(b, f"{t}.parquet", part)
                self.assertTrue(filecmp.cmp(fa, fb, shallow=False), f"{t}/{part}")

    def test_different_seeds_sample_different_rows(self):
        ta, _ = gen.make_tables(1, self.SIZES)
        tb, _ = gen.make_tables(2, self.SIZES)
        for t, key in [("lineitem", "l_orderkey"), ("orders", "o_orderkey"),
                       ("documents", "doc_id"), ("embeddings", "vec_id")]:
            self.assertNotEqual(set(ta[t].column(key).to_pylist()),
                                set(tb[t].column(key).to_pylist()), t)

    def test_sizes_and_unique_sample_ids(self):
        tables, _ = gen.make_tables(3, self.SIZES)
        for t, n in self.SIZES.items():
            self.assertEqual(tables[t].num_rows, n, t)
        li = tables["lineitem"].to_pydict()
        pairs = set(zip(li["l_orderkey"], li["l_linenumber"]))
        self.assertEqual(len(pairs), len(li["l_orderkey"]))
        orders = set(tables["orders"].column("o_orderkey").to_pylist())
        self.assertTrue(set(li["l_orderkey"]) <= orders)


class OracleCompare(unittest.TestCase):
    def test_match_ignores_column_order_and_equal_nans(self):
        got = pa.table({"a": [1.0, float("nan")], "b": ["x", "y"]})
        want = pa.table({"b": pa.array(["x", "y"], pa.large_string()), "a": [1.0, float("nan")]})
        self.assertIsNone(oracle.compare(got, want))

    def test_value_type_and_row_mismatches(self):
        got = pa.table({"a": [1.0, 2.0]})
        self.assertIn("row 1", oracle.compare(got, pa.table({"a": [1.0, 2.0000001]})))
        self.assertIn("type", oracle.compare(got, pa.table({"a": pa.array([1, 2], pa.int64())})))
        self.assertIn("rows", oracle.compare(got, pa.table({"a": [1.0]})))
        self.assertIn("columns", oracle.compare(got, pa.table({"b": [1.0, 2.0]})))


class BenchmarkJson(unittest.TestCase):
    """BENCHMARK.json names exactly the workloads and metrics run.py reports."""

    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.b = json.load(f)

    def test_workloads(self):
        self.assertEqual([w["name"] for w in self.b["workloads"]], list(workloads.WORKLOADS))

    def test_metrics(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.b["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.b["per_layer"]], run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
