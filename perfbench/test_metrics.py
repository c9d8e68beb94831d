"""Unit tests of the benchmark's arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench
"""
import unittest

import metrics


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples: p90 leaves exactly 10 beyond
        self.assertEqual(metrics.tail(xs), (90, 90.0, 100))

    def test_ladder_steps_down_for_fewer_samples(self):
        xs = list(range(1, 41))  # 40 samples: p90 leaves 4, p75 leaves 10
        self.assertEqual(metrics.tail(xs), (30, 75.0, 40))

    def test_thousand_samples_reach_p99(self):
        xs = list(range(1, 1001))  # p99.9 leaves 1, p99 leaves 10
        self.assertEqual(metrics.tail(xs), (990, 99.0, 1000))

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(metrics.tail([3, 1, 2]), (2, 50.0, 3))
        xs = list(range(1, 40))  # 39 samples: p75 leaves 9
        self.assertEqual(metrics.tail(xs), (20, 50.0, 39))

    def test_failures_rank_as_slowest(self):
        xs = [1.0] * 30 + [metrics.FAILED_LATENCY_S] * 10
        self.assertEqual(metrics.tail(xs)[0], 1.0)
        xs = [1.0] * 29 + [metrics.FAILED_LATENCY_S] * 11
        self.assertEqual(metrics.tail(xs)[0], metrics.FAILED_LATENCY_S)


class SpanTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(metrics.union_length([(0, 4), (2, 6), (8, 9)], 3, 8.5), 3.5)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_subtracts_covered_part_once(self):
        # span 0..10; children overlap each other and stick out of the span
        self.assertEqual(metrics.self_time(0, 10, [(1, 3), (2, 5), (9, 12)]), 5)

    def test_self_time_without_children_is_duration(self):
        self.assertEqual(metrics.self_time(5, 7.5, []), 2.5)


class StageTest(unittest.TestCase):
    def test_stage_overhead_is_wall_minus_longest_task(self):
        self.assertEqual(metrics.stage_overhead(100, 260, [40, 120, 90]), 40)

    def test_stage_overhead_never_negative(self):
        self.assertEqual(metrics.stage_overhead(100, 110, [30]), 0)

    def test_skew_is_max_over_median(self):
        self.assertEqual(metrics.skew([10, 10, 10, 40]), 4.0)
        self.assertEqual(metrics.skew([5, 5, 5]), 1.0)
        self.assertEqual(metrics.skew([]), 1.0)


class ResidualTest(unittest.TestCase):
    def test_residual_on_hand_built_events(self):
        # op 0..1000 ms: analysis 0..50, a job 40..400 overlapping it,
        # optimizer 420..450, a second job 600..700, and a job that ends
        # after the op (clipped at 1000)
        jobs = [(40, 400), (600, 700), (950, 1100)]
        planning = [(0, 50), (420, 450)]
        # covered: 0..400, 420..450, 600..700, 950..1000 = 580 ms
        self.assertEqual(metrics.driver_residual(0, 1000, jobs, planning), 420)


class ReduceTest(unittest.TestCase):
    def record(self):
        op = lambda name, seq, wall, ok=True: {
            "name": name, "seq": seq, "ok": ok, "wall_s": wall, "cpu_s": 2 * wall,
            "jit_s": wall / 4,
            "start_ms": 1000.0 * seq, "end_ms": 1000.0 * seq + 1000 * wall,
            "phases": [{"name": "build", "s": wall / 2, "start_ms": 1000.0 * seq,
                        "end_ms": 1000.0 * seq + 500 * wall},
                       {"name": "sink", "s": wall / 2, "start_ms": 1000.0 * seq + 500 * wall,
                        "end_ms": 1000.0 * seq + 1000 * wall}]}
        passes = [{"index": i, "traced": i == 1, "heap_retained_mb": 100.0 + i,
                   "memo_before": 2, "memo_after": 2, "checks": {},
                   "ops": [op("q_a", 0, 0.5), op("q_b", 1, 0.25 * (i + 1), ok=i != 2)]}
                  for i in range(4)]
        events = [
            {"type": "job_start", "job": 7, "t": 1000, "op": "1:1"},
            {"type": "job_end", "job": 7, "t": 1300, "ok": True},
            {"type": "stage", "stage": 3, "attempt": 0, "op": "1:1", "submit": 1010,
             "complete": 1290, "tasks": 4, "failed": False, "graft_accums": ["graft_x_1"],
             "durations_ms": [100, 100, 100, 250], "run_ms": 500, "cpu_ns": 4e8,
             "deser_ms": 8, "result_ser_ms": 2, "gc_ms": 10, "shuffle_write_b": 2**20,
             "shuffle_read_b": 0, "spill_b": 0, "failed_tasks": 0},
            {"type": "codegen", "op": "1:1", "count": 10, "mean_ms": 5.0},
            {"type": "codegen", "op": "1:1", "count": 12, "mean_ms": 5.0},
        ]
        return {"cores": 4, "input_rows": 1000, "setups": [
            {"session_s": 1.0, "warmup_s": 2.0, "cpu_s": 9.0},
            {"session_s": 0.5, "warmup_s": 1.0, "cpu_s": 4.0},
            {"session_s": 0.5, "warmup_s": 1.5, "cpu_s": 5.0}], "passes": passes, "events": events}

    def test_end_to_end_counts_failures_and_wrong_results(self):
        gen = {"cpu_s": 0.5, "wall_s": 0.25}
        cpu, wall, attempted, failed, detail = metrics.end_to_end(
            self.record(), gen, {(0, "q_a")})
        self.assertEqual((attempted, failed), (6, 2))  # q_b fails in pass 2, q_a wrong in pass 0
        self.assertEqual(detail["pass_walls_s"], [0.75, 1.25, 1.5])
        self.assertEqual(wall["pass_s"], 1.25)
        self.assertEqual(cpu["pass_cpu_s"], 2.5)
        self.assertEqual(wall["setup_s"], 0.25 + 2.0)  # median of 3.0, 1.5, 2.0
        self.assertEqual(cpu["setup_s"], 0.5 + 5.0)
        self.assertAlmostEqual(cpu["ok_frac"], 4 / 6)
        self.assertEqual(wall["rows_per_s"], 800)
        self.assertEqual(cpu["rows_per_cpu_s"], 400)
        self.assertEqual(cpu["heap_retained_mb"], 102.0)
        # wall latencies 0.25, 0.5, 0.5, 1.0 and two failures counted as 1e9 s
        self.assertEqual(wall["query_p50_s"], 0.75)
        self.assertEqual(wall["query_tail_s"], 0.75)  # 6 samples: the median

    def test_per_layer_from_traced_pass(self):
        layers, table = metrics.per_layer(self.record(), 0.0, {"pass_s": 1.25})
        self.assertEqual(layers["wall.pass_s"], 1.25)
        self.assertEqual(layers["spark.jobs"], 1)
        self.assertEqual(layers["spark.tasks"], 4)
        self.assertAlmostEqual(layers["spark.stage_overhead_s"], 0.03)
        self.assertAlmostEqual(layers["spark.task_skew"], 2.5)
        self.assertEqual(layers["loop.rounds"], 1)
        self.assertEqual(layers["loop.jobs_per_round"], 1)
        self.assertAlmostEqual(layers["plan.codegen_s"], 0.01)
        self.assertAlmostEqual(layers["spark.shuffle_write_mb"], 1.0)
        self.assertAlmostEqual(layers["jvm.jit_s"], (0.5 + 0.5) / 4)
        # traced pass 1 walls 1.0 s against the untraced median 1.25 s
        self.assertAlmostEqual(layers["trace.overhead_frac"], 1.0 / 1.25 - 1)
        self.assertEqual(layers["memo.misses"], 0)
        q_b = [r for r in table if r["op"] == "q_b"][0]
        # q_b runs 1000..1500 ms; its job covers 1000..1300
        self.assertAlmostEqual(q_b["driver.residual_s"], 0.2)
        job = [s for s in q_b["spans"] if s["name"] == "job0"][0]
        self.assertEqual(job["parent"], "build")
        self.assertEqual(job["self_ms"], 300 - 280)


if __name__ == "__main__":
    unittest.main()
