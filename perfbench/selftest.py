"""Self-tests for the benchmark's own logic (no Spark needed).

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import unittest
from unittest import mock

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import canary  # noqa: E402
import check  # noqa: E402
import eventlog  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from amazon_kinesis_data_streams_health_check_spark.schemas import TESTDATA_TABLES  # noqa: E402
from tests import parity  # noqa: E402


def _progress(batch_id: int, start: str, trigger_ms: int, files: int) -> dict:
    return {
        "batchId": batch_id,
        "timestamp": start,
        "numInputRows": files,
        "durationMs": {"triggerExecution": trigger_ms},
    }


class LatencyMapping(unittest.TestCase):
    T0 = canary._epoch("2026-01-01T00:00:00.000Z")

    def progress(self):
        # Listener order is not batch order; batch 1 starts at +1.0 s.
        return [
            _progress(1, "2026-01-01T00:00:01.000Z", 500, 3),
            _progress(0, "2026-01-01T00:00:00.000Z", 1000, 2),
        ]

    def test_files_map_to_batches_in_order(self):
        due = [self.T0 - 0.2, self.T0 - 0.1, self.T0 + 0.1, self.T0 + 0.2, self.T0 + 0.3, self.T0 + 2]
        lat = canary.file_latencies(due, self.progress())
        expect = [1.2, 1.1, 1.4, 1.3, 1.2, None]
        for got, want in zip(lat, expect):
            if want is None:
                self.assertIsNone(got)
            else:
                self.assertAlmostEqual(got, want, places=6)

    def test_batch_end_is_start_plus_trigger(self):
        ends = canary.batch_ends(self.progress())
        self.assertEqual([n for n, _, _ in ends], [2, 3])
        self.assertAlmostEqual(ends[1][2] - self.T0, 1.5, places=6)

    def test_keepup_ratio(self):
        # Steady 1 s batches each taking the 10 files that arrived meanwhile.
        prog = [
            _progress(i, f"2026-01-01T00:00:{i:02d}.000Z", 1000, 10) for i in range(6)
        ]
        self.assertAlmostEqual(canary.keepup_ratio(prog, self.T0, self.T0 + 100), 1.0)
        # Half the files per batch: the engine sustains half the offered rate.
        slow = [dict(p, numInputRows=5) for p in prog]
        self.assertAlmostEqual(canary.keepup_ratio(slow, self.T0, self.T0 + 100), 0.5)

    def _simulate(self, fixed_s: float, per_file_s: float, n: int = 40) -> list[dict]:
        """An engine whose trigger takes ``fixed_s`` plus ``per_file_s`` per
        file and takes every file that arrived since the last trigger."""
        prog, start, files = [], self.T0, 20
        for i in range(n):
            trigger = fixed_s + per_file_s * files
            prog.append(_progress(i, canary._iso_ms(start), round(1000 * trigger), files))
            files = round(trigger / canary.PERIOD_S)
            start += trigger
        return prog

    def test_keepup_of_simulated_engines(self):
        steady = self._simulate(1.0, 0.5 * canary.PERIOD_S)
        self.assertAlmostEqual(canary.keepup_ratio(steady, self.T0 + 20, self.T0 + 40), 1.0, delta=0.02)
        # Each file costs 1/0.85 of the period: the engine sustains 85 % of
        # the offered rate and must read below 1 minus the metric's bound.
        slow = self._simulate(1.0, canary.PERIOD_S / 0.85)
        self.assertLess(canary.keepup_ratio(slow, self.T0 + 20, self.T0 + 40), 0.9)

    def test_settled_once_batch_sizes_hold(self):
        prog = [
            _progress(0, "2026-01-01T00:00:00.000Z", 6000, 1),  # cold, priming file
            _progress(1, "2026-01-01T00:00:06.100Z", 1400, 1),  # schedule starts
            _progress(2, "2026-01-01T00:00:07.500Z", 1500, 14),  # still moving
            _progress(3, "2026-01-01T00:00:09.000Z", 1500, 15),  # settled
            _progress(4, "2026-01-01T00:00:10.500Z", 1500, 15),
        ]
        self.assertAlmostEqual(canary.settled_at(prog) - self.T0, 10.5)
        self.assertIsNone(canary.settled_at(prog[:3]))

class Normalizer(unittest.TestCase):
    FRAMES = {
        # All-numeric: iterrows upcasts a row's ints to float.
        "numeric": pd.DataFrame({"b": [2, 1], "a": [0.5, 1.0]}),
        "ints": pd.DataFrame({"x": [3, 1, 2], "y": [7, 7, 8]}),
        "mixed": pd.DataFrame({
            "t": pd.to_datetime(["2024-01-02 03:04:05", "2024-01-02 03:04:05.123", None,
                                 "1969-12-31 23:59:59.000000001"], format="ISO8601"),
            "s": ["a", None, "c", "a"],
            "i": [1, 2, 3, 1],
            "b": [True, False, True, True],
            "f": [0.5, np.nan, -0.0, 3.0],
        }),
        "seconds": pd.DataFrame({"d": np.array(["2024-01-01", "2024-01-01", "NaT"], dtype="datetime64[s]"),
                                 "k": ["p", "q", "r"]}),
        "arrays": pd.DataFrame({"v": [np.array([1.0, 0.5], dtype=np.float32), np.array([2.0])], "k": [1, 2]}),
        "nullable": pd.DataFrame({"n": pd.array([1, None], dtype="Int64"), "k": ["a", "b"]}),
        "empty": pd.DataFrame({"a": pd.Series([], dtype=float), "s": pd.Series([], dtype=object)}),
    }

    def test_matches_parity_suite(self):
        for name, df in self.FRAMES.items():
            with self.subTest(frame=name):
                self.assertEqual(check.normalize(df), parity.normalize(df))

    def test_upcast_and_cells(self):
        self.assertEqual(check.normalize(self.FRAMES["numeric"]), [("0.5", "2.0"), ("1.0", "1.0")])
        self.assertIn(("False", "<NULL>", "2", "<NULL>", "2024-01-02T03:04:05.123000"),
                      check.normalize(self.FRAMES["mixed"]))

    def test_digest_ignores_row_and_column_order(self):
        a = pd.DataFrame({"x": [1, 2], "s": ["p", "q"]})
        b = pd.DataFrame({"s": ["q", "p"], "x": [2, 1]})
        self.assertEqual(check.frame_digest(a), check.frame_digest(b))
        c = pd.DataFrame({"x": [1, 3], "s": ["p", "q"]})
        self.assertNotEqual(check.frame_digest(a), check.frame_digest(c))
        self.assertEqual(check.frame_digest(a)["rows"], 2)


class OracleCache(unittest.TestCase):
    def test_recomputed_when_sql_or_tables_change(self):
        calls = []

        def fake_oracle(sql, sf_dir):
            calls.append(sql)
            return pd.DataFrame({"x": [len(calls)]})

        with tempfile.TemporaryDirectory() as tmp:
            for t in TESTDATA_TABLES:
                with open(os.path.join(tmp, f"{t}.parquet"), "w") as fh:
                    fh.write(t)
            cache = os.path.join(tmp, "cache", "expected.json")
            with mock.patch.object(check, "run_oracle", fake_oracle):
                first = check.expected_digests({"q": "SELECT 1"}, tmp, cache)
                self.assertEqual(check.expected_digests({"q": "SELECT 1"}, tmp, cache), first)
                self.assertEqual(len(calls), 1)
                changed = check.expected_digests({"q": "SELECT 2"}, tmp, cache)
                self.assertEqual(calls, ["SELECT 1", "SELECT 2"])
                self.assertNotEqual(changed, first)
                with open(os.path.join(tmp, "events.parquet"), "a") as fh:
                    fh.write("more rows")
                check.expected_digests({"q": "SELECT 2"}, tmp, cache)
                self.assertEqual(len(calls), 3)


class EventLog(unittest.TestCase):
    def test_fold(self):
        lines = [
            {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
             "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "exec:q:m0"}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
                "Executor Run Time": 500, "JVM GC Time": 10, "Input Metrics": {"Records Read": 7, "Bytes Read": 70}}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
                "Executor Run Time": 250, "Shuffle Read Metrics": {"Local Bytes Read": 5, "Remote Bytes Read": 0}}},
            {"Event": "SparkListenerStageCompleted", "Stage Info": {
                "Stage ID": 0, "Stage Name": "scan", "Number of Tasks": 1, "Submission Time": 1000, "Completion Time": 1600}},
            {"Event": "SparkListenerStageCompleted", "Stage Info": {
                "Stage ID": 1, "Stage Name": "agg", "Number of Tasks": 4, "Submission Time": 1600, "Completion Time": 2000}},
            {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        ]
        jobs = eventlog.read_jobs(json.dumps(x) for x in lines)
        self.assertEqual(jobs[0]["group"], "exec:q:m0")
        t = eventlog.totals(list(jobs.values()))
        self.assertEqual((t["jobs"], t["stages"], t["tasks"]), (1, 2, 2))
        self.assertAlmostEqual(t["task_s"], 0.75)
        self.assertAlmostEqual(t["serial_stage_s"], 0.6)
        self.assertEqual((t["scan_rows"], t["scan_bytes"], t["shuffle_read_bytes"]), (7, 70, 5))
        self.assertEqual([s["name"] for s in eventlog.serial_stages(list(jobs.values()))], ["scan"])
        self.assertEqual(eventlog.job_summaries(list(jobs.values())), [{"wall_s": 1.0, "stages": 2, "operators": ""}])


class BenchmarkFile(unittest.TestCase):
    def test_every_metric_is_emitted_with_its_unit(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, layers.PER_LAYER)
        self.assertTrue(set(w["name"] for w in spec["workloads"]) <= set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
