"""Tests for the benchmark's metric math. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""

import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import metrics as m  # noqa: E402


def op(kind, s, ok=True, **extra):
    return {"kind": kind, "s": s, "bytes": extra.pop("bytes", 0), "voxels": extra.pop("voxels", 0),
            "ok": ok, **extra}


def span(id_, name, start, end, parent=0, req="r"):
    return {"id": id_, "name": name, "start_us": start, "end_us": end, "parent": parent, "req": req}


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(m.tail_percentile(100), 90.0)
        self.assertEqual(m.tail_percentile(200), 95.0)
        self.assertEqual(m.tail_percentile(1000), 99.0)
        self.assertEqual(m.tail_percentile(10000), 99.9)

    def test_just_below_a_step_falls_to_the_next(self):
        self.assertEqual(m.tail_percentile(99), 75.0)
        self.assertEqual(m.tail_percentile(20), 50.0)
        self.assertIsNone(m.tail_percentile(19))

    def test_nearest_rank_leaves_ten_beyond_p90_of_100(self):
        values = list(range(1, 101))
        p90 = m.nearest_rank(values, 90.0)
        self.assertEqual(p90, 90)
        self.assertEqual(sum(1 for v in values if v > p90), 10)

    def test_small_cutout_tail_is_named_by_the_rule(self):
        rest = [op("cutout_large", 1.0, bytes=1), op("voxel_scan", 1.0, voxels=1)]
        got = m.workload_metrics("array_read", {"ops": [op("cutout_small", 0.1)] * 99 + rest})
        self.assertIn("cutout_small_ms_p75", got)
        self.assertNotIn("cutout_small_ms_p90", got)
        with self.assertRaises(ValueError):
            m.workload_metrics("array_read", {"ops": [op("cutout_small", 0.1)] * 19 + rest})


class Rates(unittest.TestCase):
    def test_mb_per_s_is_bytes_over_summed_call_time(self):
        seg = {"ops": [op("cutout_small", 0.01 * (i + 1)) for i in range(100)] + [
            op("cutout_large", 0.5, bytes=16_000_000),
            op("cutout_large", 1.5, bytes=64_000_000),
            op("voxel_scan", 0.2, voxels=1_000_000),
            op("voxel_view", 0.3, voxels=2_000_000),
        ]}
        got = m.workload_metrics("array_read", seg)
        self.assertAlmostEqual(got["cutout_large_mb_s"], 80.0 / 2.0)
        self.assertAlmostEqual(got["scan_mvox_s"], 3.0 / 0.5)
        self.assertAlmostEqual(got["voxel_query_ms_p50"], 250.0)
        self.assertAlmostEqual(got["cutout_small_ms_p50"], 505.0)
        self.assertAlmostEqual(got["cutout_small_ms_p90"], 900.0)

    def test_write_rates_and_stored_ratio(self):
        seg = {"ops": [op("ingest_full", 1.0, bytes=4_000_000), op("ingest_full", 3.0, bytes=4_000_000),
                       op("ingest_rmw", 0.2), op("ingest_rmw", 0.4), op("ingest_rmw", 9.0),
                       op("from_voxels", 1.0, bytes=1_000_000), op("rechunk", 1.0, bytes=3_000_000)],
               "stored_bytes": 850, "stored_raw_bytes": 1000}
        got = m.workload_metrics("array_write", seg)
        self.assertAlmostEqual(got["ingest_mb_s"], 2.0)
        self.assertAlmostEqual(got["ingest_rmw_ms_p50"], 400.0)
        self.assertAlmostEqual(got["bulk_write_mb_s"], 2.0)
        self.assertAlmostEqual(got["stored_bytes_per_user_byte"], 0.85)

    def test_rate_over_no_time_is_an_error(self):
        with self.assertRaises(ValueError):
            m.rate_m(10, 0.0)


class Failures(unittest.TestCase):
    def test_failed_frac(self):
        self.assertEqual(m.failed_frac(40, 0), 0.0)
        self.assertAlmostEqual(m.failed_frac(40, 3), 0.075)
        with self.assertRaises(ValueError):
            m.failed_frac(0, 0)

    def test_counts_include_checks(self):
        ops = [op("cutout_small", 0.1), op("readback", 0.0, ok=False), op("ingest_rmw", 0.2, ok=False)]
        self.assertEqual(m.counts(ops), (3, 2))

    def test_failed_and_warmup_requests_are_never_timings(self):
        ops = [op("ingest_rmw", 0.1), op("ingest_rmw", 50.0, ok=False), op("ingest_rmw", 9.0, warmup=True),
               op("ingest_rmw", 0.3)]
        self.assertEqual([o["s"] for o in m.timed_ops(ops, "ingest_rmw")], [0.1, 0.3])

    def test_a_pass_with_a_failed_query_is_dropped(self):
        q = lambda s, idx, ok=True, tag="warm", **kw: op("query", s, ok=ok, query="t9_bm25", **{"pass": tag},
                                                         pass_idx=idx, **kw)
        ops = [q(1.0, 0, tag="cold", warmup=True), q(2.0, 1, tag="cold"), q(3.0, 2, tag="cold"),
               q(0.5, 1), q(0.25, 1), q(0.5, 2), q(0.7, 2, ok=False), q(0.4, 3)]
        self.assertEqual(sorted(m.pass_totals(ops, "cold")), [2.0, 3.0])
        self.assertEqual(sorted(m.pass_totals(ops, "warm")), [0.4, 0.75])
        got = m.workload_metrics("corpus_build", {"ops": ops})
        self.assertAlmostEqual(got["corpus_cold_s"], 2.5)
        self.assertAlmostEqual(got["corpus_warm_s"], 0.575)


class Layers(unittest.TestCase):
    SPANS = [
        span(1, "cutout_small", 0, 1000),
        span(2, "volume.cutout", 10, 990, parent=1),
        span(3, "spark.job", 100, 400, parent=1),
        span(4, "spark.job", 300, 600, parent=1),
        span(5, "spark.job", 900, 1200, parent=1),  # ends after its request
        span(6, "replay", 2000, 3000),
        span(7, "chunkstore.get", 2100, 2200, parent=6),
        span(8, "codec.decode", 2200, 2500, parent=6),
        span(9, "voxel_scan", 4000, 4500),
        span(10, "volume.voxels", 4000, 4500, parent=9),
    ]

    def test_union_length(self):
        self.assertEqual(m.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(m.union_length([]), 0)

    def test_outside_jobs_clips_jobs_to_their_request_and_skips_replay(self):
        # request 1: 1000 us minus jobs [100, 600] and [900, 1000]; request 9 has no job
        self.assertAlmostEqual(m.outside_jobs_s(self.SPANS), (1000 - 600 + 500) / 1e6)

    def test_self_times(self):
        t = m.self_times(self.SPANS)
        self.assertEqual(t["spark.job"][0], 3)
        n, total, own = t["replay"]
        self.assertEqual(n, 1)
        self.assertAlmostEqual(total, 1000 / 1e6)
        self.assertAlmostEqual(own, 600 / 1e6)

    def test_layer_metrics(self):
        counters = {"spark.tasks": 12.0, "voxelscan.chunks_fetched": 6.0, "codec.decode_s": 0.3}
        named = {"ops.t9_bm25.warm_s": 0.5}
        got = m.layer_metrics(counters, self.SPANS, named, voxel_query_chunks=8)
        self.assertEqual(got["spark.tasks"], 12.0)
        self.assertEqual(got["codec.encode_s"], 0.0)  # idle layer
        self.assertEqual(got["volume.cutout.count"], 1.0)
        self.assertAlmostEqual(got["volume.cutout.s"], 980 / 1e6)
        self.assertEqual(got["volume.voxels.count"], 1.0)
        self.assertAlmostEqual(got["voxelscan.fetch_ratio"], 0.75)
        self.assertEqual(got["ops.t9_bm25.warm_s"], 0.5)
        self.assertEqual(got["ops.t9_bm25.cold_s"], 0.0)
        self.assertTrue(set(m.COUNTER_METRICS) <= set(got))


class Overhead(unittest.TestCase):
    def test_traced_minus_mean_of_surrounding_untraced(self):
        got = m.tracing_overhead({"a": 10.0, "b": 1.0}, {"a": 11.0, "b": 2.0}, {"a": 8.0, "b": 1.0})
        self.assertEqual(got, {"a": 2.0, "b": 1.0})


class EndToEnd(unittest.TestCase):
    def test_setup_is_session_plus_median_fixture(self):
        self.assertAlmostEqual(m.setup_s({"session_s": 3.0, "fixture_s": [1.0, 5.0, 2.0]}), 5.0)

    def test_corpus_mapping(self):
        raw = {"session_s": 1.0, "fixture_s": [1.0], "rss_peak_mb": 900.0}
        named = {"corpus_cold_s": 10.0, "corpus_warm_s": 2.0}
        got = m.end_to_end("corpus_build", raw, named, {"docs": 2000, "bytes": 500_000, "queries": 5})
        self.assertAlmostEqual(got["latency_ms"], 2000.0)
        self.assertAlmostEqual(got["throughput_mb_s"], 1.25)
        self.assertAlmostEqual(got["scan_rate_m_s"], 0.005)
        self.assertEqual(set(got), {"setup_s", "latency_ms", "throughput_mb_s", "scan_rate_m_s"})


if __name__ == "__main__":
    unittest.main()
