"""Tests of the benchmark's own logic (no Spark, no JVM).

    python3 -m unittest discover -s perfbench
"""
import filecmp
import os
import tempfile
import unittest

import checks
import gen_catalog
import gen_reports
import metrics


def span(id_, parent, start, end, name="s", it=0):
    return {"id": id_, "parent": parent, "start_ms": start, "end_ms": end,
            "name": name, "iter": it}


class MedianTest(unittest.TestCase):
    def test_odd_even_and_count(self):
        self.assertEqual(metrics.median([3.0, 1.0, 2.0]), (2.0, 3))
        self.assertEqual(metrics.median([4.0, 1.0, 2.0, 3.0]), (2.5, 4))
        self.assertEqual(metrics.median(iter([5.0])), (5.0, 1))

    def test_empty_is_zero_with_no_samples(self):
        self.assertEqual(metrics.median([]), (0.0, 0))


class UnionTest(unittest.TestCase):
    def test_overlapping_nested_and_disjoint(self):
        jobs = [(0, 10), (5, 15), (6, 7), (20, 30)]
        self.assertEqual(metrics.union_length(jobs, 0, 100), 25)

    def test_clipped_to_window(self):
        self.assertEqual(metrics.union_length([(-5, 5), (95, 120)], 0, 100), 10)
        self.assertEqual(metrics.union_length([(200, 300)], 0, 100), 0)

    def test_touching_intervals_do_not_double_count(self):
        self.assertEqual(metrics.union_length([(0, 5), (5, 10), (0, 10)], 0, 10), 10)

    def test_driver_gap_is_wall_minus_job_union(self):
        rec = {"jobs": [{"iter": 0, "start_ms": 1000, "end_ms": 3000},
                        {"iter": 0, "start_ms": 2000, "end_ms": 4000},
                        {"iter": 1, "start_ms": 0, "end_ms": 99999}],
               "stages": [], "spans": [], "plans": []}
        it = {"i": 0, "start_ms": 0, "end_ms": 10000, "gc_ms": 0, "aside": []}
        layers = metrics.iteration_layers(rec, it, cores=4)
        self.assertAlmostEqual(layers["spark.driver_gap_s"], 7.0)
        self.assertEqual(layers["spark.jobs"], 2)

    def test_set_aside_work_leaves_the_iteration(self):
        # jobs of set-aside work carry iteration -1; its interval leaves the
        # wall and its plans are not counted
        rec = {"jobs": [{"iter": 0, "start_ms": 1000, "end_ms": 3000},
                        {"iter": -1, "start_ms": 5000, "end_ms": 8000}],
               "stages": [{"iter": 0, "span": "", "start_ms": 1000, "end_ms": 3000,
                           "task_ms": [2000] * 4, "shuffle_write": 0,
                           "shuffle_read": 0, "spill": 0, "input_rows": 0,
                           "input_bytes": 0, "output_bytes": 0, "result_bytes": 0}],
               "spans": [],
               "plans": [{"start_ms": 500, "analysis_ms": 100, "optimization_ms": 0,
                          "planning_ms": 0},
                         {"start_ms": 5500, "analysis_ms": 900, "optimization_ms": 0,
                          "planning_ms": 0}]}
        it = {"i": 0, "start_ms": 0, "end_ms": 10000, "gc_ms": 0,
              "aside": [[4000, 9000]]}
        layers = metrics.iteration_layers(rec, it, cores=4)
        self.assertAlmostEqual(layers["spark.driver_gap_s"], 5.0 - 2.0)
        self.assertAlmostEqual(layers["spark.slot_util"], 8.0 / (5.0 * 4))
        self.assertAlmostEqual(layers["spark.plan_s"], 0.1)
        self.assertEqual(layers["spark.jobs"], 1)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 30, 60),
                 span(3, 1, 15, 20), span(4, 0, 90, 130)]
        own = metrics.self_times(spans)
        self.assertEqual(own[0], 100 - 50 - 10)   # children cover 10..60 and 90..100
        self.assertEqual(own[1], 30 - 5)
        self.assertEqual(own[2], 30)
        self.assertEqual(own[4], 40)

    def test_set_aside_intervals_leave_self_time(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40)]
        own = metrics.self_times(spans, aside=[(50, 80)])
        self.assertEqual(own[0], 100 - 30 - 30)
        self.assertEqual(own[1], 30)

    def test_top_self_times_takes_median_per_iteration(self):
        spans = [span(0, -1, 0, 10, "a", 0), span(1, -1, 0, 30, "a", 1),
                 span(2, -1, 0, 50, "a", 2), span(3, -1, 0, 5, "b", 0),
                 span(4, -1, 10, 15, "b", 0)]
        self.assertEqual(metrics.top_self_times(spans),
                         [("a", 30, 3), ("b", 10, 1)])


def iteration(i, ops, failed=(), plain_ops=None, plain_failed=()):
    return {"i": i, "traced": plain_ops is not None, "out": f"/nonexistent/{i}",
            "ops": ops, "failed": list(failed), "plain_ops": plain_ops or {},
            "plain_failed": list(plain_failed), "persisted": 0, "aside": []}


class SummaryTest(unittest.TestCase):
    def test_job_s_is_median_of_untraced_iterations(self):
        rec = {"cores": 4, "peak_rss_mb": 100.0,
               "setup": {"spawn_ms": 0, "main_ms": 100, "session_ms": 1000,
                         "warm_ms": 5000},
               "iterations": [iteration(0, {"a": 1.0, "b": 2.0}),
                              iteration(1, {"a": 2.0, "b": 2.0}),
                              iteration(2, {"a": 4.0, "b": 2.0})]}
        verdicts = {"queries": {"a": [], "b": []}}
        r = metrics.summarize(rec, verdicts, trace=0)
        self.assertEqual(r["metrics"]["job_s"]["value"], 4.0)
        self.assertEqual(r["metrics"]["setup_s"]["value"], 5.0)
        self.assertEqual((r["attempted"], r["failed"], r["correct"]), (6, 0, True))

    def test_failures_count_per_execution_and_twin(self):
        # a query whose checked result is wrong fails in every execution;
        # a throw fails only the execution that threw
        it = iteration(0, {"a": 1.0, "b": 1.0}, failed=["b"],
                       plain_ops={"a": 1.0, "b": 1.0}, plain_failed=[])
        self.assertEqual(metrics.failed_count(it, {"queries": {"a": [], "b": []}}), 1)
        self.assertEqual(metrics.failed_count(it, {"queries": {"a": ["x"], "b": []}}), 3)
        v = {"iterations": {"0": {"timed": {"a": []}, "plain": {"b": ["x"]}}}}
        self.assertEqual(metrics.failed_count(it, v), 2)

    def test_overhead_is_traced_minus_untraced_twin(self):
        rec = {"cores": 4, "peak_rss_mb": 1.0, "jobs": [], "stages": [], "plans": [],
               "spans": [],
               "setup": {"spawn_ms": 0, "main_ms": 1, "session_ms": 2, "warm_ms": 3},
               "iterations": [iteration(0, {"pipeline": 3.0, "synth": 2.0},
                                        plain_ops={"pipeline": 2.5, "synth": 1.5})]}
        rec["iterations"][0].update(start_ms=0, end_ms=10000, gc_ms=0)
        r = metrics.summarize(rec, {"iterations": {"0": {}}}, trace=1)["metrics"]
        self.assertAlmostEqual(r["trace.overhead_s"]["value"], 1.0)
        self.assertAlmostEqual(r["pipeline_s"]["value"], 2.5)


class MissingOutputTest(unittest.TestCase):
    """An operation that wrote nothing fails its check; the checker does
    not raise."""

    def test_missing_results_are_problems(self):
        with tempfile.TemporaryDirectory() as tmp:
            inputs, out = os.path.join(tmp, "in"), os.path.join(tmp, "iter-0")
            gen_reports.write_corpus(3, inputs)
            os.makedirs(out)
            it = iteration(0, {"pipeline": 1.0, "synth": 1.0, "filter": 1.0})
            it["out"] = out
            verdicts = {"iterations": checks.check_reports(inputs, [it])}
            v = verdicts["iterations"]["0"]["timed"]
            self.assertEqual(set(v), {"pipeline", "synth", "filter"})
            self.assertTrue(all(v.values()))
            self.assertEqual(metrics.failed_count(it, verdicts), 3)

    def test_thrown_operations_are_not_checked(self):
        with tempfile.TemporaryDirectory() as tmp:
            inputs, out = os.path.join(tmp, "in"), os.path.join(tmp, "iter-0")
            gen_reports.write_corpus(3, inputs)
            it = iteration(0, {"pipeline": 1.0, "synth": 1.0, "filter": 1.0},
                           failed=["pipeline", "filter"])
            it["out"] = out
            verdicts = {"iterations": checks.check_reports(inputs, [it])}
            v = verdicts["iterations"]["0"]["timed"]
            self.assertEqual(list(v), ["synth"])
            self.assertEqual(metrics.failed_count(it, verdicts), 3)


def tree_equal(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    same, diff, err = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not diff and not err and all(
        tree_equal(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def dirs(self, *names):
        return [os.path.join(self.tmp.name, n) for n in names]

    def test_reports_same_seed_same_bytes_other_seed_differs(self):
        a, b, c = self.dirs("a", "b", "c")
        gen_reports.write_corpus(7, a)
        gen_reports.write_corpus(7, b)
        gen_reports.write_corpus(8, c)
        self.assertTrue(tree_equal(a, b))
        self.assertFalse(tree_equal(a, c))

    def test_reports_corpus_shape(self):
        (a,) = self.dirs("a")
        stats = gen_reports.write_corpus(3, a)["stats"]
        shape = gen_reports.SHAPE
        self.assertEqual(stats["files"], shape["samples"])
        self.assertEqual(len(os.listdir(os.path.join(a, "reports"))), shape["samples"])
        self.assertEqual(stats["nc_groups"], shape["groups"])
        for side in ("dna_totalreads.tsv", "rna_totalreads.tsv", "taxids.csv"):
            self.assertTrue(os.path.getsize(os.path.join(a, side)) > 0)

    def test_catalog_same_seed_same_bytes_other_seed_differs(self):
        a, b, c = self.dirs("a", "b", "c")
        gen_catalog.write_corpus(7, 0.05, a)
        gen_catalog.write_corpus(7, 0.05, b)
        gen_catalog.write_corpus(8, 0.05, c)
        self.assertTrue(tree_equal(a, b))
        self.assertFalse(tree_equal(a, c))


class DialectTest(unittest.TestCase):
    def test_csv_cell_quotes_like_the_sink(self):
        self.assertEqual(checks.csv_cell("plain name"), "plain name")
        self.assertEqual(checks.csv_cell("a,b"), '"a,b"')
        self.assertEqual(checks.csv_cell('say "x"'), '"say \\"x\\""')
        self.assertEqual(checks.csv_cell(""), '""')
        self.assertEqual(checks.csv_cell(None), "")

    def test_java_fixed4_rounds_half_up_on_shortest_decimal(self):
        self.assertEqual(checks.java_fixed4(1.00005), "1.0001")   # Python: 1.0000
        self.assertEqual(checks.java_fixed4(12.5), "12.5000")
        self.assertEqual(checks.java_fixed4(0.0), "0.0000")


if __name__ == "__main__":
    unittest.main()
