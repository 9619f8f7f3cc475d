"""Interleaved parent/change A/B of the benchmark of record (``perfbench/``).

Usage:
    python scripts/perfbench_ab.py --parent <checkout> [--change <checkout>] \\
        --seed 5 [--pairs 10] [--seconds 6] [--log runs.jsonl] \\
        workload [workload ...]

``--change`` defaults to the checkout holding this script. Every run is one
untraced ``perfbench/run.py`` in a fresh process over ONE checkout, with the
same seed on both sides. Pairs alternate which checkout runs first (P C,
C P, ...), so host drift lands on both sides. Every run is recorded, failed
and stalled ones too: one ``run {...}`` line each on stdout, and the same
JSON line appended to ``--log`` when given. A run that exits non-zero,
prints no result, reports ``correct: false`` or passes ``--timeout`` is kept
in the record and left out of the statistics (and its pair out of the win
count).

Per workload and end-to-end metric (``BENCHMARK.json``'s ``end_to_end``,
read from the change's checkout) the summary gives the parent's and the
change's q1/median/q3, the pairs the change won in the metric's better
direction, and whether the gap between the medians exceeds the parent's
IQR. The last stdout line is the summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def _one(root: str, workload: str, seed: int, seconds: float, timeout: float) -> dict:
    """One untraced perfbench run over the checkout at ``root``."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    rec = {"root": root, "workload": workload, "seed": seed, "started": t0}
    try:
        res = subprocess.run(cmd, cwd=root, capture_output=True, text=True,
                             timeout=timeout)
    except subprocess.TimeoutExpired:
        rec.update(status="stalled", wall_s=round(time.time() - t0, 1))
        return rec
    rec["wall_s"] = round(time.time() - t0, 1)
    stall = re.search(r"mc_stall_x=([0-9.]+)", res.stdout)
    rec["mc_stall_x"] = float(stall.group(1)) if stall else None
    # Spark's progress bar may share stdout: the result is the last JSON line
    lines = [x for x in res.stdout.replace("\r", "\n").splitlines()
             if x.startswith("{")]
    if res.returncode != 0 or not lines:
        rec.update(status="failed", returncode=res.returncode,
                   stderr_tail=res.stderr[-2000:])
        return rec
    out = json.loads(lines[-1])
    rec.update(status="ok" if out["correct"] else "incorrect",
               attempted=out["attempted"], failed=out["failed"],
               metrics={k: v["value"] for k, v in out["metrics"].items()})
    return rec


def _summary(runs: list[dict], workload: str, metrics: list[dict]) -> dict:
    """Per metric: both sides' quartiles over their good runs, and the wins
    over the pairs where both runs are good."""
    by_pair: dict[int, dict[str, dict]] = {}
    for r in runs:
        if r["workload"] == workload:
            by_pair.setdefault(r["pair"], {})[r["side"]] = r
    out = {}
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        sides = {s: [p[s]["metrics"][name] for p in by_pair.values()
                     if s in p and p[s]["status"] == "ok"]
                 for s in ("parent", "change")}
        if not sides["parent"] or not sides["change"]:
            out[name] = {"runs": {s: len(v) for s, v in sides.items()}}
            continue
        pq, cq = _quartiles(sides["parent"]), _quartiles(sides["change"])
        pairs = [(p["parent"]["metrics"][name], p["change"]["metrics"][name])
                 for p in by_pair.values()
                 if all(s in p and p[s]["status"] == "ok" for s in ("parent", "change"))]
        wins = sum((c < a) if lower else (c > a) for a, c in pairs)
        gap = pq[1] - cq[1] if lower else cq[1] - pq[1]  # > 0: change better
        out[name] = {
            "parent_q1_med_q3": [round(x, 4) for x in pq],
            "change_q1_med_q3": [round(x, 4) for x in cq],
            "median_change_pct": round(100.0 * (cq[1] - pq[1]) / pq[1], 2)
            if pq[1] else 0.0,
            "change_wins": wins,
            "pairs": len(pairs),
            "gap_exceeds_parent_iqr": gap > pq[2] - pq[0],
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", default=HERE)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--timeout", type=float, default=900,
                    help="seconds before a run counts as stalled")
    ap.add_argument("--log", help="append every run as one JSON line here")
    ap.add_argument("workloads", nargs="+")
    args = ap.parse_args()
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    runs = []
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for workload in args.workloads:
            for side in order:
                rec = _one(getattr(args, side), workload, args.seed,
                           args.seconds, args.timeout)
                rec.update(pair=i + 1, side=side)
                runs.append(rec)
                line = json.dumps(rec)
                print("run " + line, flush=True)
                if args.log:
                    with open(args.log, "a") as f:
                        f.write(line + "\n")
    summary = {}
    for workload in args.workloads:
        summary[workload] = _summary(runs, workload, metrics)
        for name, s in summary[workload].items():
            if "pairs" not in s:
                print(f"{workload} {name}: too few good runs {s['runs']}")
                continue
            print(f"{workload} {name}: parent {s['parent_q1_med_q3']} change "
                  f"{s['change_q1_med_q3']} ({s['median_change_pct']:+.1f}%), "
                  f"change better in {s['change_wins']}/{s['pairs']}, gap "
                  f"{'exceeds' if s['gap_exceeds_parent_iqr'] else 'inside'} "
                  f"the parent's IQR")
    summary["runs"] = {s: [r["status"] for r in runs if r["side"] == s]
                       for s in ("parent", "change")}
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
