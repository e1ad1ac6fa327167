"""Self-tests of the benchmark's planning and reporting (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import plan  # noqa: E402
import report  # noqa: E402

NAMES = [f"q{i:03d}_query" for i in range(300)] + list(plan.REGISTRY_PANEL) + [plan.REGISTRY_WARMUP]
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


class PlanTest(unittest.TestCase):

    def test_same_seed_same_plan_and_input_hashes(self):
        for w in plan.WORKLOADS:
            a = plan.make(w, 11, ROOT, NAMES, 12)
            b = plan.make(w, 11, ROOT, NAMES, 12)
            self.assertEqual(json.dumps(a, sort_keys=True), json.dumps(b, sort_keys=True), w)
            self.assertEqual(plan.input_hashes(ROOT, a), plan.input_hashes(ROOT, b), w)

    def test_other_seed_other_draw(self):
        for w in plan.WORKLOADS:
            a = plan.make(w, 11, ROOT, NAMES, 12)
            b = plan.make(w, 12, ROOT, NAMES, 12)
            self.assertNotEqual(plan.input_hashes(ROOT, a)["plan"],
                                plan.input_hashes(ROOT, b)["plan"], w)
            self.assertEqual(plan.input_hashes(ROOT, a)["fixture"],
                             plan.input_hashes(ROOT, b)["fixture"], w)

    def test_registry_draw_is_without_replacement(self):
        body = plan.make("registry", 3, ROOT, NAMES, 12)
        panel = body["draw"]
        self.assertEqual(len(panel), len(set(panel)))
        self.assertTrue(set(panel) <= set(plan.REGISTRY_PANEL))
        self.assertEqual(len(panel), min(len(plan.REGISTRY_PANEL), round(plan.QUERIES_PER_S * 12)))
        self.assertNotIn(body["warmup"], panel)
        # the seed orders the panel; the panel itself is the same
        other = plan.make("registry", 4, ROOT, NAMES, 12)["draw"]
        self.assertEqual(sorted(panel), sorted(other))
        self.assertNotEqual(panel, other)

    def test_registry_panel_ignores_other_registry_changes(self):
        a = plan.make("registry", 3, ROOT, NAMES, 12)
        b = plan.make("registry", 3, ROOT, NAMES + ["q999_new"], 12)
        self.assertEqual(a, b)

    def test_registry_panel_query_missing_fails(self):
        with self.assertRaises(ValueError):
            plan.make("registry", 3, ROOT, [n for n in NAMES if n != plan.REGISTRY_PANEL[0]], 12)

    def test_table_io_cycles_keep_the_op_mix(self):
        ops = plan.make("table-io", 5, ROOT, NAMES, 12)["ops"]
        self.assertEqual(len(ops), len(plan.TABLE_OPS) * round(plan.CYCLES_PER_S * 12))
        n = len(plan.TABLE_OPS)
        for i in range(0, len(ops), n):
            self.assertEqual(sorted(o["op"] for o in ops[i:i + n]), sorted(plan.TABLE_OPS))

    def test_state_split_keeps_the_model_in_the_base(self):
        body = plan.make("state", 9, ROOT, NAMES, 24)
        emb = body["splits"]["embeddings"]
        model = sorted(emb["keys"])[:plan.MODEL_IDS]
        parts = dict(zip(emb["keys"], emb["parts"]))
        self.assertTrue(all(parts[k] == 0 for k in model))
        for t, s in body["splits"].items():
            self.assertEqual(set(s["parts"]), set(range(body["batches"] + 1)), t)


class ReportTest(unittest.TestCase):

    def test_tail_rule_at_small_sample_counts(self):
        v, pct, n = report.tail([])
        self.assertTrue(math.isnan(v))
        self.assertEqual((pct, n), (0, 0))
        self.assertEqual(report.tail([3.0]), (3.0, 50, 1))
        self.assertEqual(report.tail([float(i) for i in range(10)]), (4.5, 50, 10))
        # below 21 samples the value with ten beyond it is under the median,
        # so the median stands in
        self.assertEqual(report.tail([float(i) for i in range(11)]), (5.0, 50, 11))
        self.assertEqual(report.tail([float(i) for i in range(20)]), (9.5, 50, 20))
        # 21: the 11th smallest has ten beyond it, percentile 52
        self.assertEqual(report.tail([float(i) for i in range(21)]), (10.0, 52, 21))
        # 30: the 20th smallest, percentile 66
        self.assertEqual(report.tail([float(i) for i in range(30)]), (19.0, 66, 30))
        # a hundred: p90 has exactly ten beyond it
        v, pct, n = report.tail([float(i) for i in range(100)])
        self.assertEqual((v, pct, n), (89.0, 90, 100))
        self.assertEqual(sum(1 for x in range(100) if x > v), 10)

    def test_metric_names(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        names += [w["name"] for w in bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(NAME_RE.fullmatch(n), n)
        rec = {"name": "x", "kind": "query", "wall_s": 0.5, "ok": True, "traced": False,
               "storage_before": 0, "storage_after": 0, "persistent_before": 0,
               "persistent_after": 0, "conf_changes": 0, "gc_s": 0.01}
        counters = {c: 1.0 for c in report.COUNTERS + ("trace_overhead_s",)}
        traced = dict(rec, traced=True, id=1, counters=counters)
        res = {"records": [dict(rec, id=0), dict(rec, id=1)], "setup_s": [1.0, 2.0, 3.0],
               "peak_rss_mb": 100.0, "peak_live_mb": 80.0, "calib_s": 0.2, "cores": 4,
               "spans": [{"id": 0, "op": 1, "name": "x", "parent": -1,
                          "start_s": 0.0, "end_s": 0.5}]}
        e2e = {m["name"] for m in bench["end_to_end"]}
        layer = {m["name"] for m in bench["per_layer"]}
        self.assertTrue(e2e <= set(report.end_to_end(res)))
        self.assertEqual(set(report.per_layer(dict(res, records=[traced]))), layer)
        for w in plan.WORKLOADS:
            for n in report.workload_summary(w, res):
                self.assertTrue(NAME_RE.fullmatch(n), n)

    def test_layer_detail_names_every_module_metric(self):
        counters = {c: 1.0 for c in report.COUNTERS + ("trace_overhead_s",)}
        detail = {"partitions_read": 1, "table_partitions": 7, "files_written": 2,
                  "files_per_partition": 3.0, "state_bytes": 10, "bytes_written": 5,
                  "batch_bytes": 5, "classes": 4, "buckets": 8, "width": 8}

        def rec(i, name, kind):
            return {"id": i, "name": name, "kind": kind, "wall_s": 0.5, "ok": True,
                    "traced": True, "storage_before": 0, "storage_after": 0,
                    "persistent_before": 0, "persistent_after": 0, "conf_changes": 0,
                    "gc_s": 0.0, "counters": counters, "detail": detail,
                    "marks": {"build": counters}}
        ops = {"registry": [("q1", "query")],
               "table-io": [(n, "write" if n in ("write_partition", "write_dynamic", "compact")
                             else "read") for n in plan.TABLE_OPS],
               "state": [(f"{m}.{k}", k) for m in ("compact", "annindex", "graphartifact",
                                                    "tolerantcompact") for k in ("build", "append")]
               + [(n, "serve") for n in ("dedup.serve", "annindex.topk",
                                         "tolerantcompact.serve", "graphartifact.serve")]}
        want = {"registry": ["queries.build_s", "queries.build_jobs", "queries.exchanges",
                             "queries.jobs", "queries.sched_wait_s", "queries.slot_busy_ratio",
                             "queries.pinned_bytes_after", "queries.gc_s"],
                "table-io": ["api.scan_full_s", "api.pruned_ratio", "api.write_files",
                             "api.bytes_written_per_input_byte", "api.jobs"],
                "state": ["compact.append_s", "compact.classes", "dedup.serve_s",
                          "graphartifact.buckets", "annindex.topk_s",
                          "tolerantcompact.width", "state.gc_s"]}
        for w, names in ops.items():
            res = {"records": [rec(i, n, k) for i, (n, k) in enumerate(names)], "cores": 4,
                   "spans": [{"id": 0, "op": 0, "name": "x", "parent": -1,
                              "start_s": 0.0, "end_s": 0.5}]}
            out = report.layer_detail(w, res)
            for n in want[w]:
                self.assertIn(n, out, w)
                self.assertFalse(math.isnan(out[n]), n)

    def test_self_time_subtracts_children(self):
        spans = [{"id": 0, "op": 1, "name": "op", "parent": -1, "start_s": 0.0, "end_s": 1.0},
                 {"id": 1, "op": 1, "name": "a", "parent": 0, "start_s": 0.1, "end_s": 0.4},
                 {"id": 2, "op": 1, "name": "b", "parent": 0, "start_s": 0.5, "end_s": 0.9}]
        self_s = report.self_times(spans)
        self.assertAlmostEqual(self_s[0], 0.3)
        self.assertAlmostEqual(self_s[1], 0.3)


if __name__ == "__main__":
    unittest.main()
