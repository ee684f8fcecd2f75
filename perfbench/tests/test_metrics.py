"""Self-tests for the benchmark's own arithmetic; no Spark needed.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_leaves_at_least_ten_samples_beyond(self):
        for n in range(20, 400, 7):
            p = metrics.tail_percentile(n)
            xs = list(range(n))
            v = metrics.nearest_rank(xs, p)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            if p < 99:  # and the next percentile up would leave fewer
                v1 = metrics.nearest_rank(xs, p + 1)
                self.assertLess(sum(1 for x in xs if x > v1), 10, n)

    def test_known_values(self):
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertIsNone(metrics.tail_percentile(19))

    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.nearest_rank(xs, 50), 3)
        self.assertEqual(metrics.nearest_rank(xs, 99), 5)
        self.assertEqual(metrics.nearest_rank(xs, 20), 1)

    def test_quartiles_match_statistics(self):
        xs = [3.0, 1.0, 2.0, 5.0, 8.0]
        self.assertEqual(metrics.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(metrics.quartiles([2.5]), (2.5, 2.5, 2.5))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start": a, "end": b}

    def test_children_union_is_subtracted_once(self):
        spans = [self.span("q", None, 0, 100),
                 self.span("c", "q", 0, 60), self.span("e", "q", 60, 90),
                 self.span("j1", "c", 10, 30), self.span("j2", "c", 20, 40),
                 self.span("j3", "c", 50, 55)]
        st = metrics.self_times(spans)
        self.assertEqual(st["q"], 10)        # 100 - (60 + 30)
        self.assertEqual(st["c"], 60 - 35)   # overlap 10..40 counts once, plus 5
        self.assertEqual(st["e"], 30)
        self.assertEqual(st["j1"], 20)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span("p", None, 10, 20), self.span("k", "p", 15, 40)]
        self.assertEqual(metrics.self_times(spans)["p"], 5)


class Attribution(unittest.TestCase):
    queries = [{"id": "p0.0", "construct": [0, 10], "plan": [10, 12], "exec": [12, 30]},
               {"id": "p0.1", "construct": [30, 31], "plan": [31, 32], "exec": [32, None]}]

    def test_span_property_wins(self):
        w = metrics.phase_windows(self.queries)
        self.assertEqual(metrics.attribute(5, "p0.1/exec", w), ("p0.1", "exec"))

    def test_time_windows(self):
        w = metrics.phase_windows(self.queries)
        self.assertEqual(metrics.attribute(0, None, w), ("p0.0", "construct"))
        self.assertEqual(metrics.attribute(10, None, w), ("p0.0", "plan"))
        self.assertEqual(metrics.attribute(29.9, None, w), ("p0.0", "exec"))
        self.assertEqual(metrics.attribute(30.5, None, w), ("p0.1", "construct"))
        # the unfinished exec phase has no window; outside all is None
        self.assertIsNone(metrics.attribute(40, None, w))

    def test_module_is_first_project_frame(self):
        cs = ("org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:1)\n"
              "graft.operators.Dedup$.cascade(Dedup.scala:10)\n"
              "graft.queries.Tpch$.q1(Tpch.scala:3)\n"
              "perfbench.Harness$.runQuery(Harness.scala:9)")
        self.assertEqual(metrics.module(cs), "graft.operators")
        self.assertEqual(metrics.module("perfbench.Harness$.runQuery(Harness.scala:9)"),
                         "perfbench")
        self.assertEqual(metrics.module("java.lang.Thread.run(Thread.java:1)"), "other")
        self.assertEqual(metrics.module(None), "other")

    def test_schema_job(self):
        job = {"site": "parquet at Tables.scala:37",
               "callsite": "org.apache.spark.sql.DataFrameReader.parquet(x)\n"
                           "graft.sources.Tables$.table(Tables.scala:37)\n"
                           "graft.sources.Tables$.lineitem(Tables.scala:113)"}
        self.assertTrue(metrics.is_schema_job(job))
        self.assertFalse(metrics.is_schema_job(dict(job, site="save at Harness.scala:1")))
        self.assertFalse(metrics.is_schema_job(
            {"site": "parquet at Staging.scala:21",
             "callsite": "graft.sources.Staging$.staged(Staging.scala:21)"}))


class Layers(unittest.TestCase):
    def raw(self):
        q = lambda i, p, t0, traced: {  # noqa: E731
            "id": f"p{p}.{i}", "name": f"n{i}", "traced": traced, "error": None,
            "construct": [t0, t0 + 10], "plan": [t0 + 10, t0 + 11],
            "exec": [t0 + 11, t0 + 20], "exchanges": 2 if traced else -1,
            "cpu_s": 0.03 + i / 100}
        return {
            "setup_s": 5.0, "setup_cpu_s": 3.0,
            "heap_retained_mb": 80.0, "jit_setup_s": 3.0,
            "staging_builds": 0, "stored_rdds": [7, 9],
            "passes": [{"pass": 0, "traced": True, "wall_s": 0.05, "start": 0, "end": 50,
                        "block_mb": 1.5, "gc_s": 0.01, "cpu_s": 0.07,
                        "order": ["n0", "n1"]},
                       {"pass": 1, "traced": False, "wall_s": 0.04, "start": 50, "end": 90,
                        "cpu_s": 0.09, "order": ["n1", "n0"]}],
            "queries": [q(0, 0, 0, True), q(1, 0, 20, True), q(0, 1, 50, False),
                        q(1, 1, 70, False)],
            "jobs": [{"id": 1, "start": 2, "stages": [1], "span": "p0.0/construct",
                      "site": "parquet at Tables.scala:37",
                      "callsite": "graft.sources.Tables$.table(Tables.scala:37)"},
                     {"id": 2, "start": 12, "stages": [2, 3], "span": "p0.0/exec",
                      "site": "save at Harness.scala:1",
                      "callsite": "perfbench.Harness$.runQuery(Harness.scala:1)"}],
            "job_ends": [{"id": 1, "end": 4}, {"id": 2, "end": 19}],
            "stages": [{"id": 1, "attempt": 0, "start": 2, "end": 4, "tasks": 1, "run_ms": 2,
                        "output_rows": 10, "output_bytes": 100, "input_rows": 5},
                       {"id": 3, "attempt": 0, "start": 12, "end": 19, "tasks": 4,
                        "run_ms": 20, "output_rows": 99, "output_bytes": 999}],
            "batches": [{"run": "abcdefgh-1", "batch": 0, "start": 21, "end": 25,
                         "durations_ms": {"triggerExecution": 4, "walCommit": 1,
                                          "commitOffsets": 1}, "input_rows": 7,
                         "state_rows": 3}],
        }

    def test_end_to_end(self):
        f = metrics.end_to_end(self.raw())
        self.assertEqual(f["setup_s"][0], 3.0)
        self.assertEqual(f["setup_wall_s"][0], 5.0)
        self.assertEqual(f["query_s_p50"][0], 0.02)
        self.assertAlmostEqual(f["round_cpu_s"][0], 0.08)
        self.assertAlmostEqual(f["query_cpu_s_p50"][0], 0.035)
        self.assertIn("median of 2 timed passes", f["round_s"][1])
        # four samples: no percentile leaves ten beyond, so the tail is the median
        self.assertEqual(f["query_s_tail"][0], metrics.nearest_rank([0.02] * 4, 50))
        self.assertIn("too few", f["query_s_tail"][1])

    def test_per_layer(self):
        m = metrics.per_layer(self.raw(), cpus=4)
        self.assertEqual(m["phase.construct_jobs"], 1)
        self.assertEqual(m["phase.exec_jobs"], 1)
        self.assertEqual(m["sources.schema_jobs"], 1)
        self.assertEqual(m["exec.stages"], 2)
        self.assertEqual(m["exec.stages_skipped"], 1)   # stage 2 listed, never ran
        self.assertEqual(m["exec.tasks"], 5)
        self.assertEqual(m["exec.plan_exchanges"], 4)
        self.assertEqual(m["ckpt.rdds"], 2)
        # the noop write of the exec phase is not a sink write
        self.assertEqual(m["sink.output_rows"], 10)
        self.assertEqual(m["sink.bytes_per_row"], 10)
        self.assertEqual(m["stream.commit_s"], 0.002)
        self.assertAlmostEqual(m["exec.core_util"], 0.022 / (0.05 * 4))
        self.assertAlmostEqual(m["trace.overhead_s"], 0.01)
        self.assertAlmostEqual(m["phase.construct_s"], 0.02)
        # construct windows: p0.0 holds a 2 ms job, p0.1 a 4 ms batch
        self.assertAlmostEqual(m["phase.construct_self_s"], (8 + 6) / 1000)

    def test_spans_have_parents_and_query_ids(self):
        spans = metrics.build_spans(self.raw())
        ids = {s["id"] for s in spans}
        for s in spans:
            if s["kind"] != "query":
                self.assertIn(s["parent"], ids, s)
            self.assertIsNotNone(s["query"], s)
        batch = next(s for s in spans if s["kind"] == "batch")
        self.assertEqual(batch["parent"], "p0.1/construct")


if __name__ == "__main__":
    unittest.main()
