"""Self-test of the benchmark's own code: the seeded generators, the
metric arithmetic and the consistency of BENCHMARK.json.

    python3 perfbench/selftest.py

Run from the root of a checkout. The tick-landing test starts a small
local Spark session; everything else is plain Python.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
from tracing import EventLog, Span, executor_metrics, self_times, tail  # noqa: E402


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


class TailTest(unittest.TestCase):
    def test_no_tail_below_twenty_samples(self):
        self.assertIsNone(tail([1.0] * 19))
        self.assertIsNone(tail([]))

    def test_twenty_samples_give_the_median_rank(self):
        value, p = tail([float(i) for i in range(1, 21)])
        self.assertEqual((value, p), (10.0, 50))

    def test_forty_samples_give_p75_with_ten_beyond(self):
        values = [float(i) for i in range(40, 0, -1)]
        value, p = tail(values)
        self.assertEqual(p, 75)
        self.assertEqual(sum(v > value for v in values), 10)

    def test_failure_counts_as_missing_every_limit(self):
        ok = [0.5] * 29
        self.assertEqual(tail(ok + [math.inf] * 11)[0], math.inf)
        # ten failures sit beyond the p75 rank: the tail is the slowest success
        self.assertEqual(tail(ok + [0.9] + [math.inf] * 10)[0], 0.9)
        # a failure is slower than any finite limit
        self.assertGreater(tail([0.1] * 9 + [math.inf] * 11)[0], 1e300)


class SelfTimeTest(unittest.TestCase):
    def test_nested_and_overlapping_children(self):
        spans = [
            Span("root", "x", 0.0, 10.0, None, "t", 0),
            Span("a", "x", 1.0, 4.0, 0, "t", 1),
            Span("b", "x", 3.0, 6.0, 0, "t", 2),  # overlaps a: 1..6 covered once
            Span("c", "x", 8.0, 12.0, 0, "t", 3),  # runs past the parent: 8..10 counts
            Span("a1", "x", 1.5, 2.0, 1, "t", 4),  # grandchild: only a's self time
        ]
        st = self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - 5.0 - 2.0)
        self.assertAlmostEqual(st[1], 3.0 - 0.5)
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[4], 0.5)


class EventLogTest(unittest.TestCase):
    def _lines(self):
        def task(stage, run_ms, records, failed=False, out=0):
            return {
                "Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
                "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + run_ms + 7,
                              "Getting Result Time": 0, "Failed": failed},
                "Task Metrics": {"Executor Deserialize Time": 2, "Executor Run Time": run_ms,
                                 "Executor CPU Time": run_ms * 1_000_000, "JVM GC Time": 1,
                                 "Result Serialization Time": 1, "Memory Bytes Spilled": 0,
                                 "Disk Bytes Spilled": 0,
                                 "Input Metrics": {"Bytes Read": 100, "Records Read": records},
                                 "Output Metrics": {"Bytes Written": out, "Records Written": out},
                                 "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                          "Local Bytes Read": 5,
                                                          "Total Records Read": 0},
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 3}},
            }
        events = [
            {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
             "Properties": {"spark.jobGroup.id": "w/q.build/plans"}},
            # stage 1 is reused (skipped) by job 1: it stays with the job that ran it first
            {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
             "Properties": {"spark.jobGroup.id": "w/q.exec/plans"}},
            {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
             "Properties": {"spark.jobGroup.id": "run-1", "streaming.sql.batchId": "0"}},
            {"Event": "SparkListenerJobStart", "Job ID": 3, "Stage IDs": [4],
             "Properties": {}},
            {"Event": "SparkListenerStageCompleted",
             "Stage Info": {"Stage ID": 2, "Submission Time": 5000, "Completion Time": 7500}},
            task(0, 100, 1), task(1, 50, 0), task(2, 30, 4, out=2), task(2, 20, 0, failed=True),
            task(3, 10, 1), task(4, 999, 1),
        ]
        return [json.dumps(e) for e in events]

    def test_stage_attribution_to_job_groups(self):
        log = EventLog.parse_lines(self._lines())
        self.assertEqual([t.group for t in log.tasks],
                         ["w/q.build/plans", "w/q.build/plans", "w/q.exec/plans",
                          "w/q.exec/plans", "run-1", None])
        self.assertEqual(log.jobs(["w/q.build/plans"]), 1)
        self.assertEqual(log.jobs(["w/q.exec/plans", "run-1"]), 2)
        self.assertEqual(log.stage_wall_s, {2: 2.5})

    def test_executor_metrics_of_selected_groups(self):
        log = EventLog.parse_lines(self._lines())
        m = executor_metrics(log.select({"w/q.build/plans", "w/q.exec/plans"}))
        self.assertEqual(m["executor.tasks"], 4)
        self.assertAlmostEqual(m["executor.run_s"], 0.2)
        self.assertAlmostEqual(m["executor.cpu_s"], 0.2)
        self.assertEqual(m["executor.tasks_failed"], 1)
        self.assertAlmostEqual(m["executor.useful_task_frac"], 0.5)
        self.assertEqual(m["executor.shuffle_read_bytes"], 20)
        # 7 ms per task beyond run time, less 3 ms of (de)serialization
        self.assertAlmostEqual(m["executor.sched_delay_s"], 4 * 0.004)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        work = os.path.join(ROOT, ".perfbench_work")
        os.makedirs(work, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=work)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def _check_seeded(self, write):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        counts_a, counts_c = write(7, a), write(8, c)
        write(7, b)
        self.assertEqual(_digest(a), _digest(b))
        self.assertEqual(counts_a, counts_c)
        self.assertEqual(sorted(os.listdir(a)), sorted(os.listdir(c)))
        self.assertNotEqual(_digest(a), _digest(c))

    def test_analyst_tables(self):
        self._check_seeded(lambda seed, d: inputs.write_analyst_tables(seed, 0.001, d))

    def test_bronze(self):
        self._check_seeded(lambda seed, d: inputs.write_bronze(seed, 20_000, 2_000, d))

    def test_tick_files(self):
        from bda_spark.session import get_spark

        spark = get_spark("perfbench-selftest", master="local[2]")
        try:
            n, files = 6_000, 6
            self._check_seeded(lambda seed, d: {
                k: v for k, v in inputs.land_ticks(spark, seed, n, files, d).items()
                if k != "id_offset"})
            self._check_event_time_order(os.path.join(self.tmp, "a"), n, files)
        finally:
            spark.stop()

    def _check_event_time_order(self, directory: str, n: int, files: int):
        names = sorted(os.listdir(directory))
        mtimes = [os.path.getmtime(os.path.join(directory, x)) for x in names]
        self.assertEqual(mtimes, sorted(set(mtimes)))
        horizon = inputs.LATE_HORIZON_TICKS * inputs.TICK_INTERVAL_MS
        seen_max = None
        late = total = 0
        for name in names:
            with open(os.path.join(directory, name)) as f:
                ts = [json.loads(line)["timestamp"] for line in f]
            total += len(ts)
            if seen_max is not None:
                # a late tick trails what earlier files showed by less than the horizon
                self.assertGreater(min(ts), seen_max - horizon)
                late += sum(t <= seen_max for t in ts)
            own = [t for t in ts if seen_max is None or t > seen_max]
            self.assertEqual(own, sorted(own))
            seen_max = max(ts) if seen_max is None else max(seen_max, max(ts))
        self.assertEqual(total, n)
        self.assertEqual(late, round(inputs.LATE_SHARE * n / files) * (files - 1))


class BenchmarkFileTest(unittest.TestCase):
    def test_every_per_layer_metric_has_a_prediction(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        with open(os.path.join(HERE, "layers.json")) as f:
            layers = json.load(f)["layers"]
        import run

        # a prediction may name a bounded metric or a printed wall time
        e2e = set(run.END_TO_END) | set(run.WALL)
        workloads = {w["name"] for w in bench["workloads"]}
        for m in bench["per_layer"]:
            matches = [p for p in layers if m["name"].startswith(p)]
            self.assertEqual(len(matches), 1, m["name"])
        for p, entry in layers.items():
            for metric, workload in entry["moves"] + entry["flat"]:
                self.assertIn(metric, e2e, p)
                self.assertIn(workload, workloads, p)

    def test_per_layer_output_fails_on_a_missing_metric(self):
        import run

        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = [m["name"] for m in json.load(f)["per_layer"]]
        produced = {k: 1.0 for k in names if not k.startswith("streaming.")}
        # lake_batch runs no streaming query: those metrics read 0
        out = run.per_layer_output("lake_batch", produced)
        self.assertEqual(list(out), names)
        self.assertEqual(out["streaming.corr.state_rows"]["value"], 0.0)
        self.assertEqual(out["plans.build_jobs"]["value"], 1.0)
        # tick_stream must produce them
        with self.assertRaises(RuntimeError):
            run.per_layer_output("tick_stream", produced)

    def test_end_to_end_metrics_match_the_runner(self):
        import run

        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.END_TO_END)


if __name__ == "__main__":
    unittest.main()
