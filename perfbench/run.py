#!/usr/bin/env python3
"""graft benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload array_read --seed 1 --seconds 20 --trace 0

Builds graft and the benchmark from source on first use (see build.py),
runs the workload in one JVM on local[min(nproc, 4)], checks every output,
and prints one JSON object as the last line of stdout: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. Traced runs
also write spans, a per-layer self-time table and the full metric report
under <build dir>/trace/<workload>-seed<seed>/."""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("array_read", "array_write", "corpus_build")
UNITS = {
    "setup_s": "s", "latency_ms": "ms", "throughput_mb_s": "MB/s", "scan_rate_m_s": "M/s",
    "rss_peak_mb": "MB", "jvm.rss_peak_mb": "MB",
    "cutout_large_mb_s": "MB/s",
    "voxel_query_ms_p50": "ms", "scan_mvox_s": "Mvox/s", "ingest_mb_s": "MB/s",
    "ingest_rmw_ms_p50": "ms", "bulk_write_mb_s": "MB/s", "stored_bytes_per_user_byte": "ratio",
    "corpus_cold_s": "s", "corpus_warm_s": "s", "failed_frac": "ratio",
}
# Whole-run limits: 180 s per run, 900 s for a run that also builds.
RUN_LIMIT_S = 175
BUILD_RUN_LIMIT_S = 885
# -XX:-UsePerfData: no hsperfdata file in the system temp dir
JVM_OPTS = ["-Xmx3g", "-XX:-UsePerfData"] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    if "_ms_" in name:
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_ratio", "_frac")):
        return "ratio"
    return "count"


def with_units(values):
    return {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()}


def cores():
    return max(1, min(len(os.sched_getaffinity(0)), 4))


def run_jvm(args, classpath, run_dir, limit_s):
    work = run_dir / "work"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    raw = run_dir / "raw.json"
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", classpath, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores()), "--work", str(work), "--raw", str(raw),
           "--spans", str(run_dir / "spans.jsonl"),
           "--hashes", str(HERE / "corpus_hashes.json")]
    # the JVM's stdout goes to stderr: the last stdout line is the result
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=limit_s, cwd=work)
    if r.returncode != 0:
        raise RuntimeError(f"benchmark JVM exited with {r.returncode}")
    return json.loads(raw.read_text())


def report(args, raw, spans):
    """The workload's named metrics per segment, the contract metrics and,
    for traced runs, the per-layer metrics and the tracing overhead."""
    segs = raw["segments"]
    named = [metrics.workload_metrics(args.workload, s) for s in segs]
    corpus = {}
    if args.workload == "corpus_build":
        s0 = segs[0]
        corpus = {"docs": s0["corpus_docs"], "bytes": s0["corpus_bytes"], "queries": s0["corpus_queries"]}
    all_ops = [o for s in segs for o in s["ops"]]
    attempted, failed = metrics.counts(all_ops)
    common = {"failed_frac": metrics.failed_frac(attempted, failed),
              "setup_s": metrics.setup_s(raw), "rss_peak_mb": raw["rss_peak_mb"]}
    out = {
        "workload": args.workload, "seed": args.seed, "cores": raw["cores"],
        "attempted": attempted, "failed": failed,
        "named": {**common, **named[0]},
        "samples": metrics.sample_counts(segs[0]["ops"]),
        "end_to_end": metrics.end_to_end(args.workload, raw, named[0], corpus),
    }
    if args.trace:
        traced = segs[1]
        voxel_chunks = sum(o.get("chunks", 0) for o in traced["ops"] if o["kind"] == "voxel_scan")
        layers = metrics.layer_metrics(raw["counters"], spans, named[1], voxel_chunks)
        overhead = metrics.tracing_overhead(named[0], named[1], named[2])
        out["segments"] = [{"traced": s["traced"], **n} for s, n in zip(segs, named)]
        out["tracing_overhead"] = overhead
        head = metrics.HEADLINE[args.workload]
        layers["failed_frac"] = common["failed_frac"]
        layers["jvm.rss_peak_mb"] = raw["rss_peak_mb"]
        layers["trace.overhead_frac"] = overhead[head] / ((named[0][head] + named[2][head]) / 2)
        out["per_layer"] = layers
        out["self_times"] = metrics.self_times(spans)
    return out


def write_trace(trace_dir, run_dir, rep):
    trace_dir.mkdir(parents=True, exist_ok=True)
    shutil.copyfile(run_dir / "spans.jsonl", trace_dir / "spans.jsonl")
    rows = sorted(rep["self_times"].items(), key=lambda kv: -kv[1][2])
    lines = ["name\tcount\ttotal_s\tself_s"] + [f"{n}\t{c}\t{t:.6f}\t{s:.6f}" for n, (c, t, s) in rows]
    (trace_dir / "selftime.tsv").write_text("\n".join(lines) + "\n")
    (trace_dir / "report.json").write_text(json.dumps(rep, indent=1, sort_keys=True) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    try:
        classpath, built = build.ensure_built()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    limit = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t_start)

    root = build.build_root()
    run_dir = root / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        raw = run_jvm(args, classpath, run_dir, limit)
        spans = []
        if args.trace:
            with open(run_dir / "spans.jsonl") as f:
                spans = [json.loads(line) for line in f if line.strip()]
        rep = report(args, raw, spans)
        if args.trace:
            write_trace(root / "trace" / f"{args.workload}-seed{args.seed}", run_dir, rep)
    except (RuntimeError, subprocess.TimeoutExpired, OSError, ValueError, KeyError) as e:
        print(f"[perfbench] run failed: {e!r}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"workload": args.workload, "report": with_units(rep["named"]),
                      "samples": rep["samples"]}), file=sys.stderr)
    chosen = rep["per_layer"] if args.trace else rep["end_to_end"]
    result = {
        "correct": rep["failed"] == 0,
        "attempted": rep["attempted"],
        "failed": rep["failed"],
        "metrics": with_units(chosen),
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
