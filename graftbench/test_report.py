"""Self-tests of the metric arithmetic: python3 -m unittest discover graftbench"""

import json
import unittest
from pathlib import Path

import report
import run

BENCH = Path(__file__).resolve().parent


def pass_rec(kind, index, wall, traced=False, span=0, queries=(), cpu=None):
    return {"kind": kind, "index": index, "span": span, "traced": traced, "wall_s": wall,
            "cpu_s": cpu if cpu is not None else 3 * wall, "calib_before_s": 0.05,
            "calib_after_s": 0.07, "steal_cores": 0.0, "gc_s": 0.1, "jit_s": 0.2,
            "classes_loaded": 10, "rss_peak_mb": 900.0, "storage_peak_mb": 30.0,
            "cached_rdds": 2,
            "queries": [{"name": n, "construct_s": c, "action_s": a, "status": st, "error": ""}
                        for n, c, a, st in queries]}


def record(walls, traced=lambda k: False, cold=20.0):
    passes = [pass_rec("cold", 0, cold)]
    passes += [pass_rec("warm", k, w, traced(k)) for k, w in enumerate(walls, start=1)]
    return {"setup_s": 15.0, "cpus": 4, "passes": passes, "check": []}


class SettledWarm(unittest.TestCase):
    def test_first_third_rounded_up_is_dropped(self):
        self.assertEqual(report.settled([9, 8, 7, 6, 5, 4]), [7, 6, 5, 4])
        self.assertEqual(report.settled([9, 8, 7, 6, 5, 4, 3, 2, 1]), [6, 5, 4, 3, 2, 1])

    def test_at_least_one_pass_is_dropped(self):
        self.assertEqual(report.settled([9, 8]), [8])
        self.assertEqual(report.settled([9, 8, 7]), [8, 7])
        self.assertEqual(report.settled([9, 8, 7, 6]), [7, 6])

    def test_warm_s_is_the_median_of_settled_passes(self):
        # unsettled 12 and 11 would drag a plain median up; the spike 30 is
        # outvoted by the settled passes around it
        m = report.end_to_end(record([12, 11, 5, 30, 6, 5.5]))
        self.assertEqual(m["warm_s"], 5.75)
        self.assertEqual(m["cold_s"], 20.0)
        self.assertEqual(m["warm_cpu_s"], 17.25)

    def test_traced_run_times_warm_s_on_untraced_passes(self):
        m = report.end_to_end(record([12, 11, 5, 8, 6, 9], traced=lambda k: k % 2 == 1))
        self.assertEqual(m["warm_s"], 8.5)  # settled untraced passes: 8 and 9 (11 dropped)

    def test_too_few_passes_is_an_error(self):
        with self.assertRaises(ValueError):
            report.end_to_end(record([5]))


class WarmPassCount(unittest.TestCase):
    def test_count_depends_only_on_seconds(self):
        self.assertEqual(run.warm_passes("llm_dedup", 34), 5)
        self.assertEqual(run.warm_passes("pandas_analytics", 34), 5)

    def test_never_fewer_than_the_minimum(self):
        self.assertEqual(run.warm_passes("llm_dedup", 1), run.MIN_WARM)


class SpanSelfTime(unittest.TestCase):
    def span(self, start, end):
        return {"start": start, "end": end}

    def test_self_time_subtracts_covered_part_once(self):
        parent = self.span(0, 100)
        kids = [self.span(10, 30), self.span(20, 40), self.span(60, 70)]
        self.assertEqual(report.self_time(parent, kids), 100 - 40)

    def test_children_outside_the_parent_are_clipped(self):
        parent = self.span(10, 20)
        kids = [self.span(0, 12), self.span(18, 50), self.span(30, 40)]
        self.assertEqual(report.self_time(parent, kids), 6)

    def test_no_children(self):
        self.assertEqual(report.self_time(self.span(5, 9), []), 4)


class FailureShare(unittest.TestCase):
    expected = {"a": {"rows": 3, "hash": "7"}, "b": {"rows": 1, "hash": "2"}}

    def rec(self, statuses, checks):
        passes = [pass_rec("cold", 0, 1.0, queries=[("a", 0.1, 0.2, statuses[0]), ("b", 0.1, 0.2, "ok")]),
                  pass_rec("warm", 1, 1.0, queries=[("a", 0.1, 0.2, statuses[1]), ("b", 0.1, 0.2, "ok")])]
        return {"passes": passes, "check": checks}

    def ok_checks(self):
        return [{"name": "a", "rows": 3, "hash": "7", "status": "ok"},
                {"name": "b", "rows": 1, "hash": "2", "status": "ok"}]

    def test_clean_run(self):
        att, failed, why = report.accounting(self.rec(["ok", "ok"], self.ok_checks()), ["a", "b"], self.expected)
        self.assertEqual((att, failed, why), (4, 0, {}))

    def test_exception_and_deadline_count_per_attempt(self):
        att, failed, why = report.accounting(self.rec(["error", "deadline"], self.ok_checks()),
                                             ["a", "b"], self.expected)
        self.assertEqual((att, failed), (4, 2))
        self.assertIn("a", why)

    def test_wrong_output_fails_every_attempt_of_the_query(self):
        checks = self.ok_checks()
        checks[1]["hash"] = "3"
        att, failed, why = report.accounting(self.rec(["ok", "ok"], checks), ["a", "b"], self.expected)
        self.assertEqual((att, failed), (4, 2))
        self.assertEqual(list(why), ["b"])

    def test_unchecked_query_fails(self):
        att, failed, why = report.accounting(self.rec(["ok", "ok"], self.ok_checks()[:1]),
                                             ["a", "b"], self.expected)
        self.assertEqual((att, failed), (4, 2))


class MetricEmission(unittest.TestCase):
    def spans_for(self, rec):
        """A construct and an action span per query, one eager job inside
        each construct and one job inside each action."""
        spans, t, sid = [], 1000.0, 100
        for p in rec["passes"]:
            p["span"] = sid
            spans.append({"id": sid, "parent": 1, "kind": "pass", "name": "", "start": t, "end": t + 50})
            sid += 1
            for q in p["queries"]:
                qid, cid, aid = sid, sid + 1, sid + 2
                sid += 3
                spans += [
                    {"id": qid, "parent": p["span"], "kind": "query", "name": q["name"], "start": t, "end": t + 10},
                    {"id": cid, "parent": qid, "kind": "construct", "name": q["name"], "start": t, "end": t + 4},
                    {"id": aid, "parent": qid, "kind": "action", "name": q["name"], "start": t + 4, "end": t + 10},
                ]
                for parent, s, e in ((cid, t + 1, t + 3), (aid, t + 5, t + 9)):
                    spans.append({"id": f"job{sid}", "parent": parent, "kind": "job", "name": "", "start": s,
                                  "end": e, "stages": 2, "skipped_stages": 1, "tasks": 4, "failed_tasks": 0,
                                  "run_s": 0.5, "cpu_s": 0.4, "gc_s": 0.0, "sched_wait_s": 0.01,
                                  "input_bytes": 1 << 20, "input_rows": 100, "shuffle_write_bytes": 0,
                                  "shuffle_read_bytes": 0, "fetch_wait_s": 0.0, "spill_bytes": 0})
                    sid += 1
                spans.append({"kind": "plan", "name": "save", "start": t + 4.5, "plan_s": 0.002, "nodes": 7,
                              "exchanges": 1, "depth": 5, "codegen_fallbacks": 0, "cached_scans": 1})
                t += 10
        return spans

    def traced_record(self):
        q = [("ann_hnsw_topk", 0.1, 0.4, "ok"), ("minhash_pairs", 0.2, 0.3, "ok")]
        passes = [pass_rec("cold", 0, 2.0, True, queries=q)]
        passes += [pass_rec("warm", k, 1.0 + 0.1 * k, k % 2 == 1, queries=q) for k in range(1, 5)]
        return {"setup_s": 15.0, "cpus": 4, "passes": passes,
                "check": [{"name": "ann_hnsw_topk", "rows": 10, "hash": "1", "status": "ok"},
                          {"name": "minhash_pairs", "rows": 40, "hash": "2", "status": "ok"}]}

    def test_per_layer_values(self):
        rec = self.traced_record()
        m = report.per_layer(rec, self.spans_for(rec))
        self.assertEqual(m["cold.operators.eager_jobs"], 2)
        self.assertAlmostEqual(m["cold.entry.construct_s"], 2 * (4 - 2) / 1e3)
        self.assertAlmostEqual(m["cold.operators.eager_job_s"], 2 * 2 / 1e3)
        self.assertEqual(m["cold.action.stages"], 2)
        self.assertEqual(m["cold.cache.stage_skip_ratio"], 0.5)
        self.assertAlmostEqual(m["cold.sources.rows_per_result"], 400 / 50)
        self.assertAlmostEqual(m["query.minhash_pairs.cold_s"], 0.5)
        # settled warm passes 3 (traced, 1.3 s) and 4 (untraced, 1.4 s)
        self.assertAlmostEqual(m["trace.overhead_ratio"], 1.3 / 1.4)

    def test_every_metric_has_its_unit_and_matches_benchmark_json(self):
        rec = self.traced_record()
        layer = report.result_line(True, 10, 0, report.per_layer(rec, self.spans_for(rec)),
                                   report.per_layer_units())
        e2e = report.result_line(True, 10, 0, report.end_to_end(rec), report.END_TO_END)
        bench = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
        for line, key in ((e2e, "end_to_end"), (layer, "per_layer")):
            declared = {m["name"]: m["unit"] for m in bench[key]}
            emitted = {k: v["unit"] for k, v in line["metrics"].items()}
            self.assertEqual(emitted, declared)
            for v in line["metrics"].values():
                self.assertIsInstance(v["value"], (int, float))
        self.assertEqual(set(json.loads(json.dumps(e2e))), {"correct", "attempted", "failed", "metrics"})

    def test_missing_metric_is_an_error(self):
        with self.assertRaises(ValueError):
            report.result_line(True, 1, 0, {"setup_s": 1.0}, report.END_TO_END)


if __name__ == "__main__":
    unittest.main()
