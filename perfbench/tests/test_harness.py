"""Self-tests of the benchmark harness (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""
import contextlib
import io
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import harness  # noqa: E402
import run  # noqa: E402


def spec():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def span(i, parent, name, t0, t1, ref=-1):
    return {"id": i, "parent": parent, "name": name, "req": 1,
            "t0": t0, "t1": t1, "ref": ref}


def stage(i, t1, tasks=4, cpu=1_000_000, **kw):
    d = {"id": i, "t1": t1, "tasks": tasks, "cpu_ns": cpu, "in_bytes": 0,
         "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "out_bytes": 0,
         "spill_bytes": 0, "max_task_ms": 10, "med_task_ms": 5}
    d.update(kw)
    return d


def record(workload, trace):
    """A small run record in the shape perfbench.Main writes."""
    ops = [{"kind": "frame", "t0": 1000.0 + 100 * i,
            "t1": 1050.0 + 100 * i + i, "ok": True, "traced": i % 2 == 0,
            "n": 10} for i in range(12)]
    rec = {
        "workload": workload, "seed": 1, "trace": trace,
        "setup_rounds": [{"setup_s": 9.0, "bulk_s": 8.0},
                         {"setup_s": 4.0, "bulk_s": 3.0},
                         {"setup_s": 5.0, "bulk_s": 4.0}],
        "raw_docs": 100, "window": {"t0": 1000.0, "t1": 2300.0,
                                    "excluded_ms": 100.0, "cpu_ns": 6e9},
        "ops": ops, "attempted": 15, "failed": 0, "failures": [],
        "recall_at_10": 0.9, "planted_recall": 1.0, "heap_mb": 100.0,
        "stored_bytes": 500, "input_bytes": 1000,
        "values": {"frame_queries": 10, "candidates_per_frame": 1000},
    }
    if trace:
        rec["spans"] = [span(0, -1, "text.chunk", 10, 20),
                        span(1, -1, "ops.ann.batch", 1000, 1050),
                        span(2, -1, "service.http", 1100, 1150),
                        span(3, -1, "core.registry.select_by", 1160, 1170,
                             ref=2)]
        rec["jobs"] = [{"id": 0, "span": 1, "t0": 1001, "t1": 1040,
                        "stages": [0]},
                       {"id": 1, "span": -1, "t0": 1110, "t1": 1120,
                        "stages": [1]}]
        rec["stages"] = [stage(0, 1039, in_bytes=300), stage(1, 1119)]
    return rec


class TailRule(unittest.TestCase):
    def test_percentile_has_ten_samples_beyond(self):
        for n, want in [(20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
                        (100, 90.0), (200, 95.0), (999, 95.0),
                        (1000, 99.0), (10000, 99.9)]:
            p, v, beyond = harness.tail(list(range(1, n + 1)))
            self.assertEqual(p, want, n)
            self.assertGreaterEqual(beyond, harness.MIN_BEYOND, n)
            self.assertEqual(v, harness.rank(p, n))  # sample i has value i

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(harness.tail([3, 1, 2]), (100.0, 3, 0))
        self.assertEqual(harness.tail(list(range(19)))[0], 100.0)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(harness.tail(xs), harness.tail(sorted(xs)))


class SelfTime(unittest.TestCase):
    def test_nested_and_overlapping_children(self):
        spans = [span(0, -1, "req", 0, 100),
                 span(1, 0, "a", 10, 30),
                 span(2, 0, "b", 20, 50),     # overlaps a
                 span(3, 1, "a.inner", 12, 28),  # inside a: not the parent's
                 span(4, 0, "c", 90, 120)]    # runs past the parent's end
        st = harness.self_times(spans)
        self.assertAlmostEqual(st[0], 100 - 40 - 10)
        self.assertAlmostEqual(st[1], 20 - 16)
        self.assertAlmostEqual(st[2], 30)
        self.assertAlmostEqual(st[3], 16)

    def test_union_length(self):
        self.assertEqual(harness.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(harness.union_length([]), 0)
        self.assertEqual(harness.union_length([(3, 3), (4, 2)]), 0)


class Attribution(unittest.TestCase):
    def test_jobs_by_property_and_by_http_window(self):
        rec = record("batch", True)
        agg = harness.span_counters(rec["spans"], rec["jobs"], rec["stages"])
        self.assertEqual(agg[1]["jobs"], 1)
        self.assertEqual(agg[1]["in_bytes"], 300)
        self.assertEqual(agg[2]["jobs"], 1)  # no property: HTTP window
        self.assertEqual(agg[0]["jobs"], 0)
        self.assertAlmostEqual(agg[1]["skew"], 2.0)

    def test_children_fold_into_parents(self):
        spans = [span(0, -1, "req", 0, 100), span(1, 0, "child", 10, 20)]
        jobs = [{"id": 7, "span": 1, "t0": 11, "t1": 19, "stages": [3]}]
        agg = harness.span_counters(spans, jobs, [stage(3, 18, tasks=2)])
        self.assertEqual((agg[0]["jobs"], agg[0]["tasks"]), (1, 2))
        self.assertEqual((agg[1]["jobs"], agg[1]["tasks"]), (1, 2))


class PrintedMetrics(unittest.TestCase):
    def printed(self, rec, trace):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            result = run.report(rec, spec(), trace)
        lines = {}
        for line in out.getvalue().splitlines():
            if line.startswith("metric "):
                _, name, value, unit = line.split(" ")
                lines[name] = (float(value), unit)
        return lines, json.loads(json.dumps(result))

    def check(self, trace, declared):
        lines, result = self.printed(record("batch", trace), trace)
        want = {m["name"]: m["unit"] for m in spec()[declared]}
        self.assertEqual(set(result["metrics"]), set(want))
        for name, unit in want.items():
            self.assertEqual(lines[name][1], unit, name)
            self.assertEqual(result["metrics"][name]["unit"], unit)
            self.assertEqual(result["metrics"][name]["value"], lines[name][0])
        self.assertEqual(set(result), {"correct", "attempted", "failed",
                                       "metrics"})

    def test_end_to_end_lines_match_benchmark_json(self):
        self.check(False, "end_to_end")

    def test_per_layer_lines_match_benchmark_json(self):
        self.check(True, "per_layer")

    def test_benchmark_json_agrees_with_harness_tables(self):
        s = spec()
        for m in s["end_to_end"]:
            self.assertEqual((m["unit"], m["better"]),
                             harness.END_TO_END[m["name"]], m["name"])
            self.assertLessEqual(m["bound"], 0.25)
        for m in s["per_layer"]:
            self.assertEqual((m["unit"], m["better"]),
                             harness.PER_LAYER[m["name"]], m["name"])
        self.assertEqual([w["name"] for w in s["workloads"]],
                         list(run.WORKLOADS))

    def test_end_to_end_values(self):
        m, info = harness.end_to_end(record("batch", False))
        self.assertEqual(m["setup_s"], 5.0)   # median of three rounds
        self.assertEqual(m["ingest_docs_per_s"], 25.0)
        self.assertEqual(m["bytes_stored_per_input_byte"], 0.5)
        # 12 frames of 10 queries over 1.3 s - 0.1 s excluded
        self.assertAlmostEqual(m["throughput_qps"], 120 / 1.2)
        self.assertAlmostEqual(m["cpu_ms_per_query"], 6000 / 120)
        self.assertEqual(info["latency_samples"], 12)

    def test_failed_operation_counts_as_missing(self):
        rec = record("serve", False)
        rec["ops"][0]["ok"] = False
        lat = harness.latency_samples(rec)
        self.assertEqual(max(lat), 1300.0)


if __name__ == "__main__":
    unittest.main()
