"""Metric math for the graft benchmark: turns the JVM's raw per-request
record into the named end-to-end and per-layer metrics. Pure functions,
covered by tests/test_metrics.py."""

import math
import statistics

# Percentiles tried, highest first, by the tail rule below.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def _rank(p, n):
    """1-based nearest rank of the p-th percentile of n samples (the
    epsilon keeps 99.9% of 10000 at rank 9990, not 9991)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def nearest_rank(values, p):
    """The p-th percentile by nearest rank: the smallest sample with at
    least p% of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(p, len(values)) - 1]


def tail_percentile(n):
    """The highest percentile of TAIL_LADDER that leaves at least ten
    samples beyond it (by nearest rank), or None when n < 20."""
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= TAIL_MIN_BEYOND:
            return p
    return None


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def rate_m(units, seconds):
    """Millions of units (bytes for MB/s, voxels for Mvox/s) per second of
    summed call time."""
    if seconds <= 0:
        raise ValueError("rate over no time")
    return units / seconds / 1e6


def failed_frac(attempted, failed):
    if attempted < 1:
        raise ValueError("no requests attempted")
    return failed / attempted


def timed_ops(ops, *kinds):
    """The measured requests of the given kinds whose call and check both
    passed: a failed request is never reported as a timing, and JVM
    warm-up requests are checked but not timed."""
    return [o for o in ops if o["kind"] in kinds and o["ok"] and not o.get("warmup")]


def pass_totals(ops, tag):
    """Wall seconds of each pass over the corpus queries whose every query
    passed its check; a pass with a failed query is not a timing."""
    passes = {}
    for o in ops:
        if o["kind"] == "query" and o["pass"] == tag and not o.get("warmup"):
            ok, total = passes.get(o["pass_idx"], (True, 0.0))
            passes[o["pass_idx"]] = (ok and o["ok"], total + o["s"])
    return [total for ok, total in passes.values() if ok]


def _ms_p50(ops):
    return median([o["s"] * 1e3 for o in ops])


def _rate(ops, field):
    return rate_m(sum(o[field] for o in ops), sum(o["s"] for o in ops))


def workload_metrics(workload, seg):
    """The workload's named metrics from one segment of the raw record."""
    ops = seg["ops"]
    if workload == "array_read":
        small_ms = [o["s"] * 1e3 for o in timed_ops(ops, "cutout_small")]
        tail = tail_percentile(len(small_ms))
        if tail is None:
            raise ValueError(f"{len(small_ms)} small cutouts are too few for a tail percentile")
        voxel = timed_ops(ops, "voxel_scan", "voxel_view")
        return {
            "cutout_small_ms_p50": median(small_ms),
            f"cutout_small_ms_p{tail:g}": nearest_rank(small_ms, tail),
            "cutout_large_mb_s": _rate(timed_ops(ops, "cutout_large"), "bytes"),
            "voxel_query_ms_p50": _ms_p50(voxel),
            "scan_mvox_s": _rate(voxel, "voxels"),
        }
    if workload == "array_write":
        return {
            "ingest_mb_s": _rate(timed_ops(ops, "ingest_full"), "bytes"),
            "ingest_rmw_ms_p50": _ms_p50(timed_ops(ops, "ingest_rmw")),
            "bulk_write_mb_s": _rate(timed_ops(ops, "from_voxels", "rechunk"), "bytes"),
            "stored_bytes_per_user_byte": seg["stored_bytes"] / seg["stored_raw_bytes"],
        }
    if workload == "corpus_build":
        cold, warm = pass_totals(ops, "cold"), pass_totals(ops, "warm")
        out = {"corpus_cold_s": median(cold), "corpus_warm_s": median(warm)}
        for q in QUERIES:
            for tag in ("cold", "warm"):
                runs = [o["s"] for o in timed_ops(ops, "query") if o["query"] == q and o["pass"] == tag]
                if runs:
                    out[f"ops.{q}.{tag}_s"] = median(runs)
        return out
    raise ValueError(f"unknown workload {workload}")


# Each workload's headline latency: the end-to-end `latency_ms`, and the
# metric the tracing overhead is reported against.
HEADLINE = {"array_read": "cutout_small_ms_p50", "array_write": "ingest_rmw_ms_p50",
            "corpus_build": "corpus_warm_s"}


# The contract's end-to-end metrics hold for every workload; each maps to
# one of the workload's named metrics (see README.md).
def end_to_end(workload, raw, named, corpus):
    if workload == "array_read":
        latency = named["cutout_small_ms_p50"]
        throughput = named["cutout_large_mb_s"]
        scan = named["scan_mvox_s"]
    elif workload == "array_write":
        latency = named["ingest_rmw_ms_p50"]
        throughput = named["ingest_mb_s"]
        scan = named["bulk_write_mb_s"]
    else:
        # all three follow the median warm pass: a run has one cold pass,
        # too few samples for a gated metric (corpus_cold_s is reported)
        n_queries = corpus["queries"]
        latency = named["corpus_warm_s"] * 1e3
        throughput = corpus["bytes"] * n_queries / named["corpus_warm_s"] / 1e6
        scan = corpus["docs"] * n_queries / named["corpus_warm_s"] / 1e6
    return {
        "setup_s": setup_s(raw),
        "latency_ms": latency,
        "throughput_mb_s": throughput,
        "scan_rate_m_s": scan,
    }


def tracing_overhead(before, traced, after):
    """Traced minus untraced value of each metric, the untraced value being
    the mean of the segments run just before and after the traced one."""
    return {k: traced[k] - (before[k] + after[k]) / 2 for k in traced if k in before and k in after}


def setup_s(raw):
    """Session start plus the median of the repeated fixture builds."""
    return raw["session_s"] + median(raw["fixture_s"])


def sample_counts(ops):
    """How many timed samples each request kind contributed."""
    out = {}
    for o in timed_ops(ops, *{o["kind"] for o in ops}):
        out[o["kind"]] = out.get(o["kind"], 0) + 1
    return out


def counts(ops):
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    return attempted, failed


# ---------------------------------------------------------------- spans

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _children(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def outside_jobs_s(spans):
    """Summed request time during which none of the request's Spark jobs
    ran: planning, encoders, collect and assembly outside Spark's jobs.
    The replay is not a request of the workload and is skipped."""
    kids = _children(spans)
    total_us = 0.0
    for r in spans:
        if r["parent"] != 0 or r["name"] == "replay":
            continue
        jobs = []
        stack = list(kids.get(r["id"], []))
        while stack:
            c = stack.pop()
            stack.extend(kids.get(c["id"], []))
            if c["name"] == "spark.job":
                jobs.append((max(c["start_us"], r["start_us"]), min(c["end_us"], r["end_us"])))
        busy = union_length([j for j in jobs if j[1] > j[0]])
        total_us += (r["end_us"] - r["start_us"]) - busy
    return total_us / 1e6


def self_times(spans):
    """Per span name: count, total seconds and self seconds (total minus
    the union of its direct children, clipped to the span)."""
    kids = _children(spans)
    table = {}
    for s in spans:
        dur = s["end_us"] - s["start_us"]
        inner = union_length([(max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"]))
                              for c in kids.get(s["id"], []) if c["end_us"] > c["start_us"]])
        row = table.setdefault(s["name"], [0, 0.0, 0.0])
        row[0] += 1
        row[1] += dur / 1e6
        row[2] += max(0.0, dur - inner) / 1e6
    return table


# Layer metrics reported by every traced run; a layer idle in a workload
# reports 0.
COUNTER_METRICS = (
    "spark.jobs", "spark.tasks", "spark.task_deser_s", "spark.sched_delay_s", "spark.result_bytes",
    "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "volume.chunks_touched",
    "chunkstore.get_count", "chunkstore.get_bytes", "chunkstore.get_s",
    "chunkstore.put_count", "chunkstore.put_bytes", "chunkstore.put_s",
    "codec.decode_s", "codec.decode_out_bytes", "codec.encode_s", "codec.encode_in_bytes",
    "voxelbuffer.slice_s", "voxelbuffer.blit_s",
    "voxelscan.chunks_fetched", "voxelscan.bytes_fetched", "voxelscan.rows_out",
    "registry.builds", "registry.build_s",
)
VOLUME_CALLS = ("cutout", "voxels", "toVoxels", "ingest", "fromVoxels", "rechunk")
QUERIES = ("d3_dedup_minhash", "d13_containment", "c18_fuzzy_decontam", "s12_sparse_topk", "t9_bm25")


def layer_metrics(counters, spans, named, voxel_query_chunks):
    """Every per-layer metric of one traced segment (`named` holds that
    segment's workload metrics)."""
    out = {name: float(counters.get(name, 0.0)) for name in COUNTER_METRICS}
    out["driver.outside_jobs_s"] = outside_jobs_s(spans)
    table = self_times(spans)
    for call in VOLUME_CALLS:
        n, total, _ = table.get(f"volume.{call}", (0, 0.0, 0.0))
        out[f"volume.{call}.count"] = float(n)
        out[f"volume.{call}.s"] = total
    out["voxelscan.fetch_ratio"] = (
        out["voxelscan.chunks_fetched"] / voxel_query_chunks if voxel_query_chunks else 0.0)
    for q in QUERIES:
        for tag in ("cold", "warm"):
            out[f"ops.{q}.{tag}_s"] = named.get(f"ops.{q}.{tag}_s", 0.0)
    return out
