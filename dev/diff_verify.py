#!/usr/bin/env python3
"""Compare two `graft.Verify` output dirs query by query. Usage:
    python3 dev/diff_verify.py <outA> <outB> [name-substring...]

Each query's dump is read as a multiset of rows, every cell formatted the
way compare_oracle.py formats it for the driver's hash (`strict`), and the
two sorted multisets must be equal. With name substrings, only queries whose
name contains one of them are compared (the same filter `graft.Verify`
applies to its extra args). A query that one side dumped and the other did
not, or that either side lists in errors.json, is a DIFF.

This is the check for a behaviour-preserving refactor: dump both commits
with `graft.Verify` on the same data and every query must print OK. Exits
non-zero on any DIFF.
"""
import glob
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from compare_oracle import strict  # noqa: E402


def dumped(outdir):
    return {n for n in os.listdir(outdir) if os.path.isdir(os.path.join(outdir, n))}


def errors(outdir):
    path = os.path.join(outdir, "errors.json")
    return json.load(open(path)) if os.path.exists(path) else {}


def rows(con, pdir):
    files = glob.glob(f"{pdir}/*.parquet")
    df = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
    return list(df.columns), sorted(strict(r) for r in df.itertuples(index=False, name=None))


def main(out_a, out_b, only):
    con = duckdb.connect()
    names_a, names_b = dumped(out_a), dumped(out_b)
    errs_a, errs_b = errors(out_a), errors(out_b)
    names = sorted(n for n in names_a | names_b | set(errs_a) | set(errs_b)
                   if not only or any(s in n for s in only))
    diffs = 0
    for name in names:
        if name in errs_a or name in errs_b:
            why = errs_a.get(name) or errs_b.get(name)
            print(f"{name:28s} DIFF failed: {why}")
        elif name not in names_a or name not in names_b:
            side = out_a if name not in names_a else out_b
            print(f"{name:28s} DIFF no dump in {side}")
        else:
            cols_a, ra = rows(con, os.path.join(out_a, name))
            cols_b, rb = rows(con, os.path.join(out_b, name))
            if cols_a != cols_b:
                print(f"{name:28s} DIFF columns {cols_a} vs {cols_b}")
            elif ra != rb:
                first = next((p for p in zip(ra, rb) if p[0] != p[1]), None)
                print(f"{name:28s} DIFF rows {len(ra)} vs {len(rb)}; first differing: {first}")
            else:
                print(f"{name:28s} OK ({len(ra)} rows)")
                continue
        diffs += 1
    print(f"compared {len(names)}, DIFF {diffs}")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
