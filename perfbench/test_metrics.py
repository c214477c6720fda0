"""Tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import statistics
import unittest

import metrics


def span(i, parent, name, start, end, layer="l", **attrs):
    return {"id": i, "parent": parent, "trace": "t", "name": name, "layer": layer,
            "start_ms": start, "end_ms": end, "attrs": attrs}


def job(i, parent, start, end, tasks=4, cpu_ns=0):
    return span(i, parent, "job", start, end, layer="spark", job=i, stages=1, tasks=tasks,
                cpu_ns=cpu_ns, shuffle_write_bytes=1000, spill_bytes=0)


class PercentileTest(unittest.TestCase):
    def test_tail_leaves_ten_samples_above(self):
        xs = list(range(1, 41))  # 40 samples
        t = metrics.tail(xs)
        self.assertEqual(t, 30)
        self.assertEqual(sum(1 for x in xs if x > t), 10)
        self.assertEqual(metrics.tail_percentile(40), 75.0)

    def test_tail_ignores_order(self):
        xs = [5, 1, 4, 2, 3] * 5
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_tail_absent_below_twenty_samples(self):
        self.assertIsNone(metrics.tail(list(range(19))))
        self.assertIsNotNone(metrics.tail(list(range(20))))

    def test_median_matches_statistics(self):
        xs = [3.0, 1.0, 2.0, 10.0]
        self.assertEqual(metrics.median(xs), statistics.median(xs))
        self.assertIsNone(metrics.median([]))


class ExcessTest(unittest.TestCase):
    def test_excess_of_cadence_batches(self):
        lat = [1.0, 1.2, 1.1, 3.0, 1.0, 1.3, 1.1, 3.4]
        flags = [(b + 1) % 4 == 0 for b in range(8)]
        self.assertAlmostEqual(metrics.excess(lat, flags), 3.2 - 1.1)
        self.assertIsNone(metrics.excess(lat, [False] * 8))


class SelfTimeTest(unittest.TestCase):
    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.covered([(0, 10), (5, 15), (20, 30)], 2, 25), 18)
        self.assertEqual(metrics.covered([], 0, 10), 0)
        self.assertEqual(metrics.covered([(0, 10), (2, 3)], 0, 10), 10)

    def test_self_time_subtracts_union_of_children(self):
        spans = [
            span(1, None, "trigger", 0, 100),
            span(2, 1, "add_batch", 10, 90),
            job(3, 2, 20, 50),
            job(4, 2, 40, 60),  # overlaps job 3
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st, {1: 20, 2: 40, 3: 30, 4: 20})
        by_layer = metrics.layer_self_ms(spans)
        self.assertEqual(by_layer["spark:job"], 50)
        self.assertEqual(by_layer["l:trigger"], 20)

    def test_batch_exec_counts_jobs_and_idle_time(self):
        spans = [
            span(1, None, "pass", 0, 300),
            span(2, 1, "trigger", 0, 100, batch=0),
            span(3, 2, "add_batch", 10, 90),
            job(4, 3, 20, 50, tasks=4, cpu_ns=10),
            job(5, 2, 95, 100, tasks=1, cpu_ns=5),
            span(6, 1, "trigger", 100, 300, batch=1),
            job(7, 6, 150, 250, tasks=8),
        ]
        rows = metrics.batch_exec(spans)
        self.assertEqual([r["batch"] for r in rows], [0, 1])
        self.assertEqual(rows[0]["jobs"], 2)
        self.assertEqual(rows[0]["tasks"], 5)
        self.assertEqual(rows[0]["cpu_ns"], 15)
        self.assertEqual(rows[0]["gap_ms"], 100 - 30 - 5)
        self.assertEqual(rows[1]["gap_ms"], 100)


def batch(b, start, wall, add, rows=10, cadence=False):
    return {"query": "q", "batch": b, "start_ms": start, "wall_ms": wall, "rows": rows,
            "cadence": cadence, "durations": {"triggerExecution": wall, "addBatch": add}}


class RecordTest(unittest.TestCase):
    def record(self):
        lat = [1000, 1000, 1000, 3000, 2000, 2000, 2000, 4000]
        bs, t = [], 5000
        for i, w in enumerate(lat):
            bs.append(batch(i, t, w, w - 100, cadence=(i + 1) % 4 == 0))
            t += w
        p = {"entry_ms": 3000, "batches": bs, "storage_bytes": 1000000, "root_bytes": 500000,
             "attempted": 8, "failed": 0, "setup_calls": [], "layers": {}}
        return {"workload": "sim_join", "cores": 4, "passes": [p]}

    def test_end_to_end(self):
        m = metrics.end_to_end(self.record())
        self.assertEqual(m["setup_s"], 2.0)
        self.assertAlmostEqual(m["throughput_rows_per_s"], 80 / 16.0)
        self.assertEqual(m["batch_latency_p50_s"], 2.0)
        self.assertAlmostEqual(m["resident_state_mb"], 1.5)

    def test_per_layer_on_traced_pass(self):
        r = self.record()
        p = r["passes"][0]
        spans = [span(1, None, "pass", 3000, 21000)]
        for i, b in enumerate(p["batches"]):
            tid = 10 + 2 * i
            spans.append(span(tid, 1, "trigger", b["start_ms"], b["start_ms"] + b["wall_ms"],
                              batch=b["batch"]))
            spans.append(job(tid + 1, tid, b["start_ms"] + 50, b["start_ms"] + 550,
                             tasks=4, cpu_ns=2 * 10 ** 9))
        r["traced"] = {
            "pass": dict(p, batches=[dict(b, rows=5) for b in p["batches"]],
                         layers={"batch_stats": [{"missed": 1, "cache_ms": 100.0}] * 8}),
            "dedup": {"batches": [batch(0, 0, 1000, 900), batch(1, 1000, 1200, 1100),
                                  batch(2, 2200, 3000, 2900, cadence=True)],
                      "layers": {"state_bytes": 123, "state_files": 7}},
            "spans": spans, "stage_probe_ms": 250,
            "kernels": {"intersect_size": 1e6, "minhash_bands": 2e5},
            "simjoin": {"candidates": 400, "verified": 100},
        }
        m = metrics.per_layer(r)
        self.assertEqual(m["runtime.stage_s"], 0.25)
        self.assertEqual(m["runtime.trigger_overhead_s"], 0.1)
        self.assertEqual(m["spark.jobs_per_batch"], 1)
        self.assertEqual(m["spark.tasks_per_batch"], 4)
        self.assertAlmostEqual(m["spark.cpu_share"], 16 / (16.0 * 4))
        self.assertEqual(m["simjoin.verify_yield"], 0.25)
        self.assertEqual(m["cache.update_s"], 0.8)
        self.assertEqual(m["cache.checkpoint_excess_s"], 3.5 - 1.5)
        self.assertEqual(m["state.files_end"], 7)
        self.assertAlmostEqual(m["state.compact_excess_s"], 3.0 - 1.1)
        # half the rows over the same stream time
        self.assertAlmostEqual(m["trace.overhead_share"], 0.5)
        self.assertEqual(m["kvstore.keys_fetched"], 0)


if __name__ == "__main__":
    unittest.main()
