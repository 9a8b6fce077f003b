"""Tests of the benchmark's own statistics code.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


class TailTest(unittest.TestCase):
    def test_highest_rung_with_ten_beyond(self):
        values = list(range(1, 1001))  # 1..1000
        v, p = stats.tail(values)
        # p99: nearest rank 990 -> value 990, 10 samples above it.
        self.assertEqual((v, p), (990, 99.0))

    def test_steps_down_the_ladder(self):
        values = list(range(1, 201))  # 200 samples
        v, p = stats.tail(values)
        # p99 has 2 above, p95 has 10 above.
        self.assertEqual((v, p), (190, 95.0))

    def test_exactly_ten_beyond_qualifies(self):
        values = list(range(1, 21))  # 20 samples: p50 -> 10, 10 above
        self.assertEqual(stats.tail(values), (10, 50.0))

    def test_too_few_samples_fall_back_to_the_median(self):
        values = list(range(1, 20))  # 19 samples: p50 -> 10, 9 above
        self.assertEqual(stats.tail(values), (10, 50.0))
        self.assertEqual(stats.tail([4.0, 1.0, 3.0, 2.0]), (2.5, 50.0))

    def test_unsorted_input(self):
        values = [5.0, 1.0, 3.0] * 10
        v, p = stats.tail(values)
        self.assertEqual(p, 50.0)
        self.assertEqual(v, 3.0)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class FailRatioTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.fail_ratio(8, 2), 0.25)
        self.assertEqual(stats.fail_ratio(1, 0), 0.0)

    def test_bounds(self):
        with self.assertRaises(ValueError):
            stats.fail_ratio(0, 0)
        with self.assertRaises(ValueError):
            stats.fail_ratio(3, 4)

    def test_count_failed_flags_and_names(self):
        ops = [{"name": "a", "failed": False}, {"name": "b", "failed": True},
               {"name": "c", "failed": False}, {"name": "c", "failed": False}]
        self.assertEqual(stats.count_failed(ops), 1)
        # A name that failed its output check fails every one of its ops,
        # and an op is never counted twice.
        self.assertEqual(stats.count_failed(ops, {"c"}), 3)
        self.assertEqual(stats.count_failed(ops, {"b"}), 1)


class NameTest(unittest.TestCase):
    def test_valid(self):
        for n in ("op_p50_s", "wrapper.stmt_ms.batch_insert", "a-b.c_d",
                  "9lives", "x" * 64):
            self.assertTrue(stats.valid_name(n), n)

    def test_invalid(self):
        for n in ("", "_lead", ".lead", "sp ace", "slash/no", "x" * 65,
                  "ünï", "semi;colon", None):
            self.assertFalse(stats.valid_name(n), n)

    def test_benchmark_json_names(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = [w["name"] for w in spec["workloads"]]
        names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)


def synthetic_record():
    """A small traced-run record in the shape the JVM writes."""
    span = {"jobs": 2, "stages": 2, "tasks": 4, "task_failures": 0,
            "run_ms": 40, "cpu_ms": 30.0, "gc_ms": 1, "wait_ms": 5,
            "shuffle_read": 10, "shuffle_write": 10, "spill": 0,
            "peak_mem": 100, "out_bytes": 1000, "out_records": 300,
            "job_wall_ms": 20, "plan_ms": 5.0, "rows": 100}
    spans = [dict(span, id=1, parent=0, op=1, layer="op", name="op", ms=90.0,
                  jobs=0, job_wall_ms=0, plan_ms=0.0),
             dict(span, id=2, parent=1, op=1, layer="dml", name="update",
                  ms=60.0),
             dict(span, id=3, parent=1, op=1, layer="logstore",
                  name="commit", ms=25.0)]
    return {"ops": [["job", 0.1, False, False, 0], ["job", 0.09, True, False, 1]],
            "spans": spans, "cpus": 4, "heap_mb": 2048,
            "spark_version": "4.1.2", "canary_s": [0.2, 0.3],
            "dispatch_us": 80.0, "session_s": 4.0, "setup_reps_s": [2, 1, 1],
            "warmup_s": 9.0, "wall_s": 0.25, "vm_hwm_kb": 2048 * 1024,
            "steal_pct": 1.5,
            "extra": {"jobs": 2, "log_files": 10, "log_bytes": 5000}}


class MetricSetTest(unittest.TestCase):
    """The metrics a run prints are exactly those BENCHMARK.json names."""

    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.spec = json.load(f)
        self.rec = synthetic_record()
        self.ops = stats.ops_from_record(self.rec)

    def units(self, key):
        return {m["name"]: m["unit"] for m in self.spec[key]}

    def test_end_to_end(self):
        m, detail = stats.end_to_end(self.rec, self.ops, 0, 0.5)
        self.assertEqual({k: u for k, (_, u) in m.items()},
                         self.units("end_to_end"))
        self.assertEqual(m["setup_s"][0], 0.5 + 4.0 + 1 + 9.0)
        self.assertEqual(m["ops_per_s"][0], 8.0)
        self.assertEqual(m["peak_rss_mb"][0], 2048.0)
        self.assertEqual(detail["op_tail_percentile"], 50.0)
        self.assertEqual(m["op_tail_s"][0], m["op_p50_s"][0])
        self.assertEqual(detail["op_max_s"], 0.1)

    def test_per_layer(self):
        m = stats.per_layer(self.rec, self.ops, 0, {})
        self.assertEqual({k: u for k, (_, u) in m.items()},
                         self.units("per_layer"))
        self.assertEqual(m["dml.write_amp"][0], 3.0)
        # update: 60 - 20 job wall - 5 planning; commit: 25 - 20 - 5.
        self.assertEqual(m["self_ms.dml"][0], 35.0)
        self.assertEqual(m["self_ms.logstore"][0], 0.0)
        self.assertEqual(m["self_ms.spark"][0], 50.0)
        self.assertAlmostEqual(m["unattributed_ms"][0], 5.0)
        self.assertAlmostEqual(m["trace.overhead_s"][0], -0.01)
        self.assertEqual(m["env.spark_version"][0], 40102)


class GrowthTest(unittest.TestCase):
    def test_last_tenth_over_first_tenth(self):
        self.assertEqual(stats.growth([1.0] * 10 + [2.0] * 10), 2.0)
        self.assertEqual(stats.growth([2.0, 3.0, 4.0]), 2.0)
        self.assertEqual(stats.growth([5.0]), 0.0)

    def test_version_number(self):
        self.assertEqual(stats.version_number("4.1.2"), 40102)
        self.assertEqual(stats.version_number("4.0"), 40000)


if __name__ == "__main__":
    unittest.main()
