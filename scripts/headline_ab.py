"""Interleaved parent/change A/B of bench.py headline queries — the check
that a refactor did not slow the headline queries it touches.

Usage:
    python scripts/headline_ab.py --parent <checkout> [--change <checkout>] \\
        --sf <testdata>/sf0.1 [--pairs 5] query [query ...]

``--change`` defaults to the checkout holding this script. Every run is a
fresh process over ONE checkout: it starts a Spark session, runs each query
once untimed (engine build, codegen), then times it with bench.py's
``run_query`` (build + noop write). Pairs alternate which checkout runs
first (P C, C P, ...), so host drift lands on both sides. The summary gives
per query the parent's q1/median/q3, the change's median, the median gap
against the parent's IQR, and the pairs the change won; the last stdout
line is the same as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(root: str, sf: str, names: list[str]) -> None:
    """Worker: time ``names`` over the checkout at ``root``; print JSON."""
    sys.path.insert(0, root)
    from bench import run_query
    from horaedb_spark.core.session import get_spark
    from horaedb_spark.queries.registry import queries_map

    spark = get_spark(app_name="headline_ab")
    qmap = queries_map()
    out = {}
    for name in names:
        run_query(qmap[name], spark, sf)
        out[name] = run_query(qmap[name], spark, sf)
    print(json.dumps(out))


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent")
    ap.add_argument("--change", default=HERE)
    ap.add_argument("--sf", required=True, help="scale-factor data dir")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--run", help=argparse.SUPPRESS)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    if args.run:
        _run(args.run, args.sf, args.names)
        return 0
    if not args.parent:
        ap.error("--parent is required")

    def one(root: str) -> dict:
        cmd = [sys.executable, os.path.abspath(__file__), "--run", root,
               "--sf", args.sf, *args.names]
        res = subprocess.run(cmd, cwd=root, capture_output=True, text=True,
                             check=True)
        # Spark's progress bar may share stdout: take the last JSON line
        lines = [x for x in res.stdout.splitlines() if x.startswith("{")]
        return json.loads(lines[-1])

    times = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            times[side].append(one(getattr(args, side)))
        print(f"pair {i + 1}: parent {times['parent'][-1]} "
              f"change {times['change'][-1]}", flush=True)
    summary = {}
    for name in args.names:
        p = [t[name] for t in times["parent"]]
        c = [t[name] for t in times["change"]]
        q1, med, q3 = _quartiles(p)
        c_med = statistics.median(c)
        summary[name] = {
            "parent_q1_med_q3": [round(q1, 3), round(med, 3), round(q3, 3)],
            "change_median": round(c_med, 3),
            "gap": round(med - c_med, 3),
            "parent_iqr": round(q3 - q1, 3),
            "change_wins": sum(b < a for a, b in zip(p, c)),
            "pairs": len(p),
        }
        print(f"{name}: parent {summary[name]['parent_q1_med_q3']} "
              f"change median {c_med:.3f} (gap {med - c_med:+.3f} s, parent "
              f"IQR {q3 - q1:.3f} s, change faster in "
              f"{summary[name]['change_wins']}/{len(p)})")
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
