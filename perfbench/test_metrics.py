"""Specs for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench

The fingerprint spec builds the harness and starts Spark (about a minute
on a 4-core host); the others are pure.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

import metrics

HERE = Path(__file__).resolve().parent


def span(id, parent, name, wall, t0=0, t1=0, label="", counters=None):
    return {"id": id, "parent": parent, "pass": 0, "name": name, "label": label,
            "wall_s": wall, "t0_ms": t0, "t1_ms": t1, "counters": counters or {}}


class PercentileRule(unittest.TestCase):
    def test_median_needs_ten_samples_beyond_it(self):
        self.assertIsNone(metrics.supported_percentile(list(range(19)), 0.5))
        self.assertEqual(metrics.supported_percentile(list(range(20)), 0.5), 9)

    def test_p90_needs_a_hundred_samples(self):
        self.assertIsNone(metrics.supported_percentile(list(range(99)), 0.9))
        self.assertEqual(metrics.supported_percentile(list(range(100)), 0.9), 89)

    def test_order_of_samples_does_not_matter(self):
        xs = [float(i) for i in range(40)]
        self.assertEqual(metrics.supported_percentile(xs[::-1], 0.5),
                         metrics.supported_percentile(xs, 0.5))

    def test_empty(self):
        self.assertIsNone(metrics.supported_percentile([], 0.5))


class SelfTime(unittest.TestCase):
    def test_self_time_excludes_direct_children_only(self):
        spans = [span(0, -1, "run", 10.0), span(1, 0, "op", 6.0), span(2, 1, "build", 2.5),
                 span(3, 1, "exec", 3.0), span(4, 0, "op", 3.0)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 1.0)
        self.assertAlmostEqual(st[1], 0.5)
        self.assertAlmostEqual(st[2], 2.5)
        self.assertAlmostEqual(st[4], 3.0)
        self.assertAlmostEqual(sum(st.values()), 10.0)


class CoreBusyRatio(unittest.TestCase):
    def test_task_time_over_wall_times_cores(self):
        self.assertAlmostEqual(metrics.core_busy_ratio(4.0, 2.0, 4), 0.5)
        self.assertAlmostEqual(metrics.core_busy_ratio(8.0, 2.0, 4), 1.0)

    def test_degenerate_wall(self):
        self.assertEqual(metrics.core_busy_ratio(1.0, 0.0, 4), 0.0)


def counters(**kw):
    base = {"cpu_s": 0.0, "gc_s": 0.0, "codegen_compiles": 0.0, "fs_bytes_written": 0.0,
            "io_read_bytes": 0.0, "io_write_calls": 0.0}
    base.update(kw)
    return base


def mix_raw():
    """Two passes of one op each; pass 0 traced over [1000, 2000] ms."""
    spans = [
        span(0, -1, "run", 1.0, 1000, 2000, counters=counters(cpu_s=2.0)),
        span(1, 0, "op", 0.9, 1010, 1990, "q", counters()),
        span(2, 1, "build", 0.6, 1010, 1600), span(3, 1, "exec", 0.3, 1600, 1990),
        span(4, -1, "run", 0.8, 3000, 3800, counters=counters(cpu_s=1.5)),
        span(5, 4, "op", 0.8, 3000, 3800, "q", counters()),
        span(6, 5, "build", 0.5, 3000, 3500), span(7, 5, "exec", 0.3, 3500, 3800),
    ]
    task = {"duration_ms": 500, "run_ms": 400, "cpu_ns": 3e8, "gc_ms": 10,
            "shuffle_write_bytes": 0, "spill_disk_bytes": 0, "failed": 0}
    return {
        "env": {"cores": 4, "workload": "contract_mix", "seed": 1, "trace": True},
        "workload": {"ops": ["q"]},
        "setup_s": [9.0, 3.0, 4.0],
        "values_per_pass": 100,
        "peak_rss_mb": 1000.0,
        "passes": [{"pass": 0, "traced": True, "span": 0, "heap_peak_mb": 300.0,
                    "load": 1.0, "steal_pct": 0.0},
                   {"pass": 1, "traced": False, "span": 4, "heap_peak_mb": 200.0,
                    "load": 1.0, "steal_pct": 0.0}],
        "spans": spans,
        "checks": [{"op": "q", "rows": 5, "fingerprint": "123"}],
        "errors": [],
        "events": {
            "tasks": [dict(task, t_ms=1100), dict(task, t_ms=1700), dict(task, t_ms=3100)],
            "jobs": [{"t_ms": 1100}, {"t_ms": 2500}],
            "plans": [{"t_ms": 1050, "analysis_ms": 5, "optimization_ms": 7, "planning_ms": 2}],
            "batches": [], "spawns": [1500.0, 1999.0, 2001.0],
        },
    }


class TrimmedMean(unittest.TestCase):
    def test_drops_the_lowest_and_the_highest(self):
        self.assertEqual(metrics.trimmed_mean([9.0, 1.0, 2.0, 4.0, 3.0]), 3.0)

    def test_keeps_all_of_fewer_than_three(self):
        self.assertEqual(metrics.trimmed_mean([1.0, 2.0]), 1.5)
        self.assertEqual(metrics.trimmed_mean([]), 0.0)


class Report(unittest.TestCase):
    PINS = {"q": {"rows": 5, "fingerprint": "123"}}

    def test_end_to_end_uses_untraced_passes(self):
        rep = metrics.report(mix_raw(), self.PINS)
        e2e = {k: v["value"] for k, v in rep["end_to_end"].items()}
        self.assertEqual(e2e["run_s"], 0.8)
        self.assertEqual(rep["cpu_s"], 1.5)
        self.assertEqual(e2e["setup_s"], 4.0)
        self.assertAlmostEqual(e2e["values_per_s"], 125.0)
        self.assertEqual(e2e["peak_heap_mb"], 200.0)
        self.assertEqual((rep["attempted"], rep["failed"]), (2, 0))

    def test_events_attributed_by_pass_window(self):
        layer = {k: v["value"] for k, v in metrics.report(mix_raw(), self.PINS)["per_layer"].items()}
        self.assertEqual(layer["exec.tasks"], 2)
        self.assertEqual(layer["exec.jobs"], 1)
        self.assertEqual(layer["fs.process_spawns"], 2)
        self.assertAlmostEqual(layer["exec.core_busy_ratio"], 0.8 / (1.0 * 4))
        self.assertAlmostEqual(layer["exec.task_offcpu_s"], 0.2)
        self.assertAlmostEqual(layer["exec.task_wait_s"], 0.2)
        self.assertAlmostEqual(layer["plan.optimization_s"], 0.007)
        self.assertAlmostEqual(layer["op.build_s"], 0.6)
        self.assertAlmostEqual(layer["jvm.cpu_s"], 2.0)
        self.assertAlmostEqual(layer["trace.overhead_s"], 0.2)
        self.assertAlmostEqual(layer["trace.unattributed_s"], 0.1)
        self.assertEqual(list(layer), list(metrics.PER_LAYER))

    def test_wrong_output_fails_every_execution_of_the_op(self):
        rep = metrics.report(mix_raw(), {"q": {"rows": 5, "fingerprint": "999"}})
        self.assertEqual((rep["attempted"], rep["failed"]), (2, 2))
        rep = metrics.report(mix_raw(), {})
        self.assertEqual(rep["failed"], 2)

    def test_raised_op_counts_once_per_raise(self):
        raw = mix_raw()
        raw["errors"] = [{"pass": 1, "op": "q", "error": "boom"}]
        self.assertEqual(metrics.report(raw, self.PINS)["failed"], 1)


class RefChecks(unittest.TestCase):
    RAW = {"workload": {"rows": 1000, "cols": 2, "bins": 10}}

    def output(self, **kw):
        c = {"setup": 1, "rows": 1000, "columns": 2, "bins_min": 10, "bins_max": 10,
             "count_min": 98, "count_max": 102, "checksum": "7"}
        c.update(kw)
        return c

    def test_bins_within_two_rows_of_n_over_bins(self):
        self.assertEqual(metrics.ref_failures(self.RAW, [self.output()]), [])
        self.assertEqual(len(metrics.ref_failures(self.RAW, [self.output(count_min=97)])), 1)
        self.assertEqual(len(metrics.ref_failures(self.RAW, [self.output(count_max=103)])), 1)
        self.assertEqual(len(metrics.ref_failures(self.RAW, [self.output(bins_min=9)])), 1)

    def test_checksum_identical_on_every_output(self):
        checks = [self.output(), self.output(setup=3), self.output(setup=3, checksum="8")]
        self.assertEqual(len(metrics.ref_failures(self.RAW, checks)), 1)

    def raw(self, checks):
        return dict(self.RAW, checks=checks)

    def test_pass_fails_on_its_returned_row_count(self):
        checks = [{"pass": 0, "rows": 1000}, {"pass": 1, "rows": 999},
                  self.output(), self.output(setup=3)]
        self.assertEqual(metrics.ref_failed_passes(self.raw(checks), 3),
                         {"pass 1": 1, "pass 2": 1})

    def test_wrong_or_missing_output_fails_every_pass(self):
        passes = [{"pass": 0, "rows": 1000}, {"pass": 1, "rows": 1000}]
        self.assertEqual(metrics.ref_failed_passes(
            self.raw(passes + [self.output(), self.output(setup=3, checksum="8")]), 2),
            {"tokens of set-up 3": 2})
        self.assertEqual(metrics.ref_failed_passes(self.raw(passes), 2),
                         {"no token output": 2})


class BenchmarkFile(unittest.TestCase):
    def test_declared_metrics_match_the_report(self):
        b = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, metrics.PER_LAYER)


class Fingerprint(unittest.TestCase):
    def test_row_order_does_not_change_it_and_row_changes_do(self):
        p = subprocess.run([sys.executable, str(HERE / "run.py"), "--selfcheck"],
                           cwd=HERE.parent, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(res, {"same_order": True, "reordered_equal": True,
                               "changed_differs": True, "duplicated_differs": True})


if __name__ == "__main__":
    unittest.main()
