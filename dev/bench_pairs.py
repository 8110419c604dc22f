#!/usr/bin/env python3
"""Alternating parent/change pairs of one perfbench workload, both sides
run from like copies.

    python3 dev/bench_pairs.py --base HEAD~1 --workload array_read \\
        --pairs 6 --scratch /tmp/graft-pairs [--seconds 10] [--seed 1]

Makes two copies under --scratch: `base/`, a `git archive` of the base
revision, and `change/`, the working tree's tracked and untracked files
(ignored files left out, as a commit would have them). A run from the repo
checkout itself can read about 10 % apart from one from a copy, so neither
side runs there. Each side builds in its own copy on its first run.

Pair i runs both sides with seed `--seed + i`, base first when i is even
and change first when it is odd. Each run must report `correct: true`
and `failed: 0`. The report gives, per end-to-end metric, each side's
median and quartiles, the per-pair deltas (change / base - 1), their
median, and the pairs the change wins in the metric's better direction
(read from BENCHMARK.json). `--out` also writes every run as JSON.
Neither `perfbench/` nor BENCHMARK.json is changed."""

import argparse
import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def quartiles(xs):
    """(q1, median, q3) of `xs`, inclusive method (the data's own range)."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(base, change, better):
    """Paired comparison of one metric: `base[i]` and `change[i]` are pair i.
    `better` is "lower" or "higher". Deltas are change / base - 1."""
    if len(base) != len(change) or not base:
        raise ValueError("need one base and one change value per pair")
    deltas = [c / b - 1.0 if b else float("nan") for b, c in zip(base, change)]
    wins = sum(1 for b, c in zip(base, change) if (c < b if better == "lower" else c > b))
    bq, cq = quartiles(base), quartiles(change)
    return {
        "base": {"q1": bq[0], "median": bq[1], "q3": bq[2]},
        "change": {"q1": cq[0], "median": cq[1], "q3": cq[2]},
        "deltas": deltas,
        "median_delta": statistics.median(deltas),
        "median_change": cq[1] / bq[1] - 1.0 if bq[1] else float("nan"),
        # the base's own spread, relative to its median
        "base_iqr_frac": (bq[2] - bq[0]) / bq[1] if bq[1] else float("nan"),
        "wins": wins,
        "pairs": len(base),
    }


def copy_base(rev, dest):
    dest.mkdir(parents=True)
    archive = subprocess.run(["git", "-C", str(REPO), "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)


def copy_working_tree(dest):
    names = subprocess.run(["git", "-C", str(REPO), "ls-files", "-z", "--cached", "--others",
                            "--exclude-standard"], check=True, capture_output=True).stdout
    for name in filter(None, names.decode().split("\0")):
        src = REPO / name
        if src.is_file():
            (dest / name).parent.mkdir(parents=True, exist_ok=True)
            shutil.copy2(src, dest / name)


def run_once(side_dir, workload, seed, seconds):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=side_dir, capture_output=True, text=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        raise RuntimeError(f"{side_dir.name} seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
    res = json.loads(lines[-1])
    if not res.get("correct") or res.get("failed"):
        raise RuntimeError(f"{side_dir.name} seed {seed}: not correct: {res}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--base", required=True, help="git revision of the parent side")
    ap.add_argument("--workload", required=True, choices=("array_read", "array_write", "corpus_build"))
    ap.add_argument("--pairs", type=int, default=6)
    ap.add_argument("--seed", type=int, default=1, help="seed of pair 0")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--scratch", required=True, type=Path, help="an empty or new directory")
    ap.add_argument("--out", type=Path, help="write every run and the summary here as JSON")
    args = ap.parse_args()

    if args.scratch.exists() and any(args.scratch.iterdir()):
        ap.error(f"{args.scratch} is not empty")
    base_dir, change_dir = args.scratch / "base", args.scratch / "change"
    copy_base(args.base, base_dir)
    change_dir.mkdir(parents=True)
    copy_working_tree(change_dir)

    better = {m["name"]: m["better"] for m in json.loads((REPO / "BENCHMARK.json").read_text())["end_to_end"]}
    runs = []
    for i in range(args.pairs):
        seed = args.seed + i
        order = [("base", base_dir), ("change", change_dir)]
        if i % 2:
            order.reverse()
        pair = {"seed": seed}
        for side, d in order:
            pair[side] = run_once(d, args.workload, seed, args.seconds)
            print(f"pair {i} seed {seed} {side}: {json.dumps(pair[side])}", file=sys.stderr, flush=True)
        runs.append(pair)

    summary = {}
    print(f"{args.workload}: {args.pairs} pairs, base {args.base}")
    print(f"{'metric':<18}{'base q1/med/q3':>30}{'change q1/med/q3':>30}{'med Δ':>9}{'wins':>7}")
    for name in runs[0]["base"]:
        s = summarize([r["base"][name] for r in runs], [r["change"][name] for r in runs],
                      better[name])
        summary[name] = s
        b, c = s["base"], s["change"]
        print(f"{name:<18}{b['q1']:>10.4g}{b['median']:>10.4g}{b['q3']:>10.4g}"
              f"{c['q1']:>10.4g}{c['median']:>10.4g}{c['q3']:>10.4g}"
              f"{s['median_delta']:>+9.1%}{s['wins']:>4}/{s['pairs']}")
        print(f"{'':<18}pair deltas: " + " ".join(f"{d:+.1%}" for d in s["deltas"]))
    if args.out:
        args.out.write_text(json.dumps({"workload": args.workload, "base": args.base,
                                        "runs": runs, "summary": summary}, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
