"""Tests of the benchmark's own rules. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import metrics  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def op(name, pass_, start, build_end, end, memo=None, modules=("ops.Etl",), ok=True):
    return {"id": "%s-%s" % (pass_, name), "name": name, "modules": list(modules),
            "pass": pass_, "start": start, "build_end": build_end, "end": end,
            "ok": ok, "error": None if ok else "boom", "memo": memo or {}}


def batch_raw(cold_memo=None, stray_memo=None, traced=False):
    cold_memo = {"m1": 1.0, "m2": 0.5} if cold_memo is None else cold_memo
    ops = [op("q_small", "cold0", 0.0, 0.2, 1.0, memo=stray_memo),
           op("q_memo", "cold0", 1.0, 3.0, 4.0, memo=cold_memo, modules=("ops.Pipeline",)),
           op("q_small", "warm1", 4.0, 4.1, 4.5),
           op("q_memo", "warm1", 4.5, 4.6, 5.5, modules=("ops.Pipeline",))]
    trace = {"jobs": [{"id": 1, "group": "cold0-q_memo", "start": 1.5, "end": 2.0,
                       "stages": 2, "tasks": 8, "run_s": 1.0, "in_bytes": 2e6},
                      {"id": 2, "group": "cold0-q_memo", "start": 3.2, "end": 3.8,
                       "stages": 1, "tasks": 4, "run_s": 0.5}],
             "stages": [{"id": 0, "job": 1, "start": 1.6, "end": 1.9, "tasks": 4}],
             "plans": [{"analysis_s": 0.1, "optimization_s": 0.2,
                        "physical_s": 0.05, "nodes": 12}]} if traced else {}
    phase = {"traced": traced, "ops": ops, "seconds": 5.5, "trace": trace,
             "passes": [{"kind": "cold", "start": 0.0, "end": 4.0, "ops": 2},
                        {"kind": "warm", "start": 4.0, "end": 5.5, "ops": 2}],
             "storage": {"storage_used_bytes": 3e6, "rdd_bytes": 1e6}}
    checks = [{"name": "q_small", "rows": 3, "hash": "7", "cols": ["a"], "memo": []},
              {"name": "q_memo", "rows": 2, "hash": "9", "cols": ["b"], "memo": []}]
    return {"workload": "batch_release", "seed": 1, "cpus": 4, "setup_s": [3.0, 1.0, 1.2],
            "traced_setup_s": [1.3, 1.4, 1.1] if traced else [], "warmup_s": 9.0,
            "checks": checks, "phases": [phase]}


EXPECTED = {"queries": {
    "q_small": {"rows": 3, "hash": "7", "cols": ["a"], "rows_only": False, "memo": []},
    "q_memo": {"rows": 2, "hash": "9", "cols": ["b"], "rows_only": False, "memo": ["m1", "m2"]}}}


def progress(query, batch, start, trigger, end_offset, **kw):
    p = {"query": query, "id": query + "-id", "batch": batch, "start": start,
         "trigger_s": trigger, "durations": {"addBatch": trigger / 2, "walCommit": 0.01,
                                             "commitOffsets": 0.02},
         "end_offset": str(end_offset), "input_rows": 10, "state_rows": 5,
         "state_bytes": 1000, "state_commit_s": 0.01, "late_dropped": 0}
    p.update(kw)
    return p


def stream_raw(memo=None, traced=False):
    chunks = [{"k": 0, "due": 10.0, "sent": 10.0, "events": 100, "offset": 1},
              {"k": 1, "due": 10.05, "sent": 10.30, "events": 100, "offset": 2}]
    prog = []
    for q in metrics.STREAM_QUERIES:
        prog.append(progress(q, 1, 10.1, 0.4, 1))
        prog.append(progress(q, 2, 10.6, 0.5, 2))
    phase = {"traced": traced, "chunks": chunks, "progress": prog,
             "times": {"cold": [[1.0, 3.0], [3.5, 5.0], [5.0, 7.5]], "open_start": 10.0,
                       "open_end": 10.1, "settled": 11.1,
                       "warm": [[12.0, 13.0], [13.5, 14.0], [14.5, 16.0]]},
             "checks": [{"name": q, "ok": True, "detail": ""} for q in metrics.STREAM_QUERIES],
             "events_sent": 10200, "late": 1, "redelivered": 2, "drain_events": 5000,
             "target_bytes": 2e6, "query_ids": {q: q + "-id" for q in metrics.STREAM_QUERIES},
             "storage": {"storage_used_bytes": 1e6, "rdd_bytes": 0},
             "trace": {"jobs": [{"id": 7, "stream_query": "dim_upsert-id", "start": 10.7,
                                 "end": 10.9, "out_bytes": 4e6}], "stages": [], "plans": []}
             if traced else {},
             "memo": memo or {}}
    return {"workload": "stream_ingest", "seed": 1, "cpus": 4, "setup_s": [4.0, 2.0, 2.5],
            "traced_setup_s": [2.6, 2.7, 2.8] if traced else [], "rate": 2000,
            "chunk_period": 0.05, "phases": [phase]}


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        for n, want in [(200, 95), (100, 90), (40, 75), (20, 50)]:
            pct, val = metrics.tail(list(range(n)))
            self.assertEqual(pct, want, n)
            self.assertEqual(sum(1 for x in range(n) if x > val), 10, n)

    def test_too_few_samples_have_no_tail(self):
        self.assertEqual(metrics.tail(list(range(19))), (None, None))
        self.assertEqual(metrics.tail([]), (None, None))

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3] * 40), metrics.tail(sorted([5, 1, 4, 2, 3] * 40)))


class OpenLoopLatency(unittest.TestCase):
    def test_latency_counts_from_due_time_to_last_commit(self):
        raw = stream_raw()
        lat = metrics.chunk_latencies(raw["phases"][0]["chunks"], raw["phases"][0]["progress"])
        # chunk 0: every query commits offset 1 at 10.5; chunk 1 at 11.1
        self.assertAlmostEqual(lat[0], 0.5)
        # measured from the due time 10.05, not the late send at 10.30
        self.assertAlmostEqual(lat[1], 11.1 - 10.05)

    def test_the_slowest_query_sets_the_latency(self):
        raw = stream_raw()
        prog = raw["phases"][0]["progress"]
        last = next(p for p in prog if p["query"] == "dim_upsert" and p["batch"] == 2)
        last["trigger_s"] = 3.0  # dim_upsert commits offset 2 at 13.6
        lat = metrics.chunk_latencies(raw["phases"][0]["chunks"], prog)
        self.assertAlmostEqual(lat[1], 13.6 - 10.05)

    def test_uncommitted_chunk_is_a_failure(self):
        raw = stream_raw()
        raw["phases"][0]["chunks"].append(
            {"k": 2, "due": 10.1, "sent": 10.1, "events": 100, "offset": 3})
        attempted, failures, _, _, _ = metrics.evaluate(raw, {})
        self.assertIn("chunk 2 never committed", failures)

    def test_warm_drain_is_the_median_and_a_lost_drain_fails(self):
        raw = stream_raw()
        self.assertAlmostEqual(metrics.stream_e2e(raw["phases"][0])["warm_pass_s"], 1.0)
        self.assertAlmostEqual(metrics.stream_e2e(raw["phases"][0])["cold_pass_s"], 2.0)
        raw["phases"][0]["times"]["warm"][1][1] = None
        _, failures, vals, _, _ = metrics.evaluate(raw, {})
        self.assertIn("warm drain 1 never finished", failures)
        self.assertIsNone(vals["warm_pass_s"])

    def test_generator_lateness_and_backlog(self):
        raw = stream_raw()
        ph = raw["phases"][0]
        self.assertAlmostEqual(metrics.generator_lateness(ph["chunks"]), 0.25)
        lat = metrics.chunk_latencies(ph["chunks"], ph["progress"])
        # when chunk 1 is sent at 10.30, chunk 0 (done at 10.5) is still pending
        self.assertEqual(metrics.backlog_max(ph["chunks"], lat), 2)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [{"id": 0, "name": "run", "parent": None, "start": 0.0, "end": 10.0},
                 {"id": 1, "name": "job", "parent": 0, "start": 1.0, "end": 4.0},
                 {"id": 2, "name": "job", "parent": 0, "start": 3.0, "end": 5.0},
                 {"id": 3, "name": "job", "parent": 0, "start": 9.0, "end": 12.0}]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["run"], 10.0 - 4.0 - 1.0)
        self.assertAlmostEqual(st["job"], 3.0 + 2.0 + 3.0)


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            self.spec = json.load(fh)

    def test_end_to_end_names_match_benchmark_json(self):
        names = [m["name"] for m in self.spec["end_to_end"]]
        self.assertEqual(names, metrics.E2E)
        for raw, exp in [(batch_raw(), EXPECTED), (stream_raw(), {})]:
            _, failures, vals, _, _ = metrics.evaluate(raw, exp)
            self.assertEqual(failures, [])
            self.assertEqual(set(vals), set(names))
            self.assertTrue(all(v is not None and v > 0 for v in vals.values()), vals)

    def test_per_layer_names_match_benchmark_json(self):
        names = [m["name"] for m in self.spec["per_layer"]]
        self.assertEqual(names, metrics.LAYER_NAMES)
        for raw in [batch_raw(traced=True), stream_raw(traced=True)]:
            base = dict(raw["phases"][0], traced=False)
            raw["phases"].insert(0, base)
            out, spans = metrics.layers(raw, metrics.traced(raw), metrics.untraced(raw))
            self.assertEqual(set(out), set(names))
            self.assertTrue(spans)

    def test_workloads_are_the_harness_workloads(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]],
                         ["batch_release", "stream_ingest"])


class BypassFacts(unittest.TestCase):
    def facts(self, raw, exp):
        return [ok for _, ok in metrics.bypass_facts(raw, exp)]

    def test_batch_facts_hold(self):
        self.assertEqual(self.facts(batch_raw(), EXPECTED), [True, True])

    def test_memo_free_query_that_builds_a_memo_fails(self):
        self.assertIn(False, self.facts(batch_raw(stray_memo={"x": 0.1}), EXPECTED))

    def test_cold_pass_that_skips_a_seed_memo_fails(self):
        self.assertIn(False, self.facts(batch_raw(cold_memo={"m1": 1.0}), EXPECTED))

    def test_stream_builds_no_memo(self):
        self.assertEqual(self.facts(stream_raw(), {}), [True])
        self.assertEqual(self.facts(stream_raw(memo={"m1": 0.2}), {}), [False])


class Outputs(unittest.TestCase):
    def test_content_mismatch_is_a_failure(self):
        raw = batch_raw()
        raw["checks"][0]["hash"] = "8"
        _, failures, _, _, _ = metrics.evaluate(raw, EXPECTED)
        self.assertEqual(failures, ["q_small: content hash differs"])

    def test_rows_only_queries_ignore_the_hash(self):
        exp = {"q": {"rows": 3, "hash": "1", "cols": ["a"], "rows_only": True}}
        self.assertEqual(metrics.check_outputs(
            [{"name": "q", "rows": 3, "hash": "2", "cols": ["a"]}], exp), [])
        self.assertEqual(len(metrics.check_outputs(
            [{"name": "q", "rows": 4, "hash": "1", "cols": ["a"]}], exp)), 1)


if __name__ == "__main__":
    unittest.main()
