"""Checks of run.py's own logic on known data.

Run through `python3 perfbench/run.py selftest`, which also runs the JVM
side's checks (perfbench.SelfTest), which cover the per-document latency
percentiles.
"""

import contextlib
import io
import json
import os
import statistics
import tempfile
import unittest

import run


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(run.median([3, 1, 2]), 2)
        self.assertEqual(run.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [7.0, 1.0, 3.0, 9.0, 5.0, 11.0, 2.0, 8.0, 4.0, 6.0]
        self.assertEqual(run.quartiles(xs), (2.75, 5.5, 8.25))
        self.assertEqual(run.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_iqr_share(self):
        xs = [90.0, 95.0, 100.0, 105.0, 110.0]
        # exclusive quartiles of five points: 92.5 and 107.5
        self.assertAlmostEqual(run.iqr_share(xs), 0.15)


def raw(**over):
    r = {"trace": False, "docs": 1000, "pass_s": [2.0, 1.0, 4.0],
         "setup_s": [20.0, 3.0, 2.5], "peak_heap_mb": 150.0, "failed_tasks": 0,
         "gate": {"ok": True, "failed_docs": 0, "problems": []},
         "provenance": {"nproc": 4, "widths": [4, 1], "xmx_mb": 3072,
                        "jdk": "17", "spark": "4.1.2", "corpus_version": 23}}
    r.update(over)
    return r


SPEC = {"end_to_end": [{"name": "docs_per_s", "unit": "docs/s"},
                       {"name": "setup_s", "unit": "s"},
                       {"name": "peak_heap_mb", "unit": "MB"}],
        "per_layer": [{"name": "engine.extract_ms", "unit": "ms"}]}


class ReportTest(unittest.TestCase):
    def test_end_to_end_uses_medians(self):
        out = run.report(raw(), SPEC)
        self.assertEqual(out["metrics"]["docs_per_s"], {"value": 500.0, "unit": "docs/s"})
        self.assertEqual(out["metrics"]["setup_s"]["value"], 3.0)
        self.assertEqual((out["correct"], out["attempted"], out["failed"]), (True, 3000, 0))

    def test_failed_counts_docs_per_pass_and_tasks(self):
        out = run.report(raw(failed_tasks=2, gate={"ok": True, "failed_docs": 5,
                                                   "problems": []}), SPEC)
        self.assertEqual(out["failed"], 5 * 3 + 2)

    def test_gate_failure_is_incorrect(self):
        out = run.report(raw(gate={"ok": False, "failed_docs": 1,
                                   "problems": ["block 3"]}), SPEC)
        self.assertFalse(out["correct"])

    def test_missing_metric_is_an_error(self):
        with self.assertRaises(run.BenchError):
            run.report(raw(trace=True, metrics={}), SPEC)


class CompareTest(unittest.TestCase):
    def write(self, d, name, rec):
        p = os.path.join(d, name)
        with open(p, "w") as fh:
            json.dump(rec, fh)
        return p

    def record(self, **prov):
        r = raw()
        r["provenance"].update(prov)
        return {"raw": r, "result": run.report(r, SPEC)}

    def test_same_host_compares(self):
        with tempfile.TemporaryDirectory() as d:
            a = self.write(d, "a.json", self.record())
            b = self.write(d, "b.json", self.record())
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                run.compare(a, b)
            self.assertIn("docs_per_s", out.getvalue())

    def test_different_host_is_refused(self):
        with tempfile.TemporaryDirectory() as d:
            a = self.write(d, "a.json", self.record())
            b = self.write(d, "b.json", self.record(nproc=32))
            with self.assertRaisesRegex(run.BenchError, "nproc"):
                run.compare(a, b)

    def test_record_without_host_fields_is_refused(self):
        with tempfile.TemporaryDirectory() as d:
            a = self.write(d, "a.json", self.record())
            # the shape of the older graft.Bench output: no provenance
            b = self.write(d, "b.json", {"metric": "docs_per_s", "value": 150000})
            with self.assertRaisesRegex(run.BenchError, "host fields"):
                run.compare(a, b)


if __name__ == "__main__":
    unittest.main()
