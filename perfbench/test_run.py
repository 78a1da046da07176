"""Tests of the runner's metric derivation against BENCHMARK.json.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import run

BENCH = run.BENCH


def fake_result(traced):
    passes = [{"wall_s": 2.0, "records": 100, "steps_ms": [400.0, 500.0, 600.0, 700.0]},
              {"wall_s": 4.0, "records": 100, "steps_ms": [800.0]}]
    res = {"setup_s": 3.0, "passes": passes, "heap_after_gc_mb": 80.0,
           "cores": 4}
    if traced:
        res.update(traced_passes=passes, traced_wall_s=6.0, phase_passes=4, jvm_gc_ms=10,
                   counters={"schema.records": 10.0, "schema.malformed": 1.0},
                   engine={"jobs": 1, "stages": 2, "tasks": 3, "task_ms": 12000,
                           "shuffle_read_bytes": 4, "shuffle_write_bytes": 5,
                           "spill_bytes": 0, "task_gc_ms": 6})
    return res


class Metrics(unittest.TestCase):
    def test_end_to_end_names_and_units_match_the_benchmark_file(self):
        self.assertEqual([(m["name"], m["unit"]) for m in BENCH["end_to_end"]],
                         run.END_TO_END)

    def test_end_to_end_values(self):
        m = run.end_to_end(fake_result(False), {"tail_pct": 75})
        self.assertEqual(m["setup_s"], 3.0)
        self.assertEqual(m["wall_s"], 3.0)
        self.assertEqual(m["records_per_s"], 37.5)
        self.assertEqual(m["step_p50_ms"], 600.0)
        self.assertEqual(m["step_tail_ms"], 700.0)

    def test_per_layer_names_and_units_match_the_benchmark_file(self):
        spans = [{"name": "schema.parse", "start_ns": 0, "end_ns": 2 * 10 ** 9,
                  "id": 0, "parent": -1}]
        m = run.per_layer(fake_result(True), spans, 3.0, 1.5)
        self.assertEqual(list(m), [x["name"] for x in BENCH["per_layer"]])
        for x in BENCH["per_layer"]:
            self.assertEqual(m[x["name"]]["unit"], x["unit"])
        self.assertEqual(m["schema.parse_records_per_s"]["value"], 5.0)
        self.assertEqual(m["engine.busy_ratio"]["value"], 0.5)
        self.assertEqual(m["trace.overhead_ratio"]["value"], 1.0)

    def test_self_time_subtracts_children(self):
        spans = [{"name": "a", "start_ns": 0, "end_ns": 10, "id": 0, "parent": -1},
                 {"name": "b", "start_ns": 2, "end_ns": 5, "id": 1, "parent": 0},
                 {"name": "b", "start_ns": 6, "end_ns": 8, "id": 2, "parent": 0}]
        self.assertEqual(run.self_times(spans), {"a": 5, "b": 5})


if __name__ == "__main__":
    unittest.main()
