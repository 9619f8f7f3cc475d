"""Steadiness runs: the benchmark on several seeds, with each end-to-end
metric's spread and the host record of every run.

    python3 perfbench/steady.py --workloads ingest_compact,promql_dashboard --seeds 1-10

Run from the root of a checkout. Each run is ``perfbench/run.py`` as a
child process, one after another. The spread of a metric is the distance
between the first and third quartile of its values
(``statistics.quantiles(values, n=4)``) over their median; the benchmark is
steady when every spread but ``setup_s``'s is below a third of the metric's
bound in ``BENCHMARK.json``. With ``--out`` the runs are written there as
JSON under the key ``--label``, next to what the file already holds
(``perfbench/RECORD.json`` is the committed record).
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
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload: str, seed: int, seconds: int, trace: int, known: set) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    rec = {"workload": workload, "seed": seed, "exit": proc.returncode,
           "run_wall_s": round(wall, 2)}
    if proc.returncode != 0 or not lines:
        rec["error"] = proc.stderr[-2000:]
        return rec
    result = json.loads(lines[-1])
    rec.update(correct=result["correct"], attempted=result["attempted"],
               failed=result["failed"],
               metrics={k: v["value"] for k, v in result["metrics"].items()})
    # from the human table above the JSON line: the host record, and the
    # workload's own named metrics that BENCHMARK.json does not list
    m = re.search(r"mc_stall_x=([0-9.]+)", proc.stdout)
    rec["host_mc_stall_x"] = float(m.group(1)) if m else None
    rec["named"] = {k: float(v) for k, v in re.findall(
        r"^  ([a-z_.0-9]+)\s+(-?[0-9.e+-]+|nan) \S+$", proc.stdout, re.M)
        if v != "nan" and k not in known}
    return rec


def spreads(runs: list[dict], bounds: dict) -> dict:
    out = {}
    for name, bound in bounds.items():
        vals = [r["metrics"][name] for r in runs if "metrics" in r]
        if len(vals) < 4:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        out[name] = {"median": med, "spread": round(spread, 4), "bound": bound,
                     "within_third": spread < bound / 3}
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", required=True)
    p.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", default=None)
    p.add_argument("--label", default="steadiness")
    args = p.parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    known = {m["name"] for m in bench["end_to_end"] + bench["per_layer"]}
    record = {"seconds": seconds, "trace": args.trace, "host_cores": os.cpu_count(),
              "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "workloads": {}}
    for wl in args.workloads.split(","):
        runs = []
        for seed in args.seeds:
            r = one_run(wl, seed, seconds, args.trace, known)
            runs.append(r)
            print(json.dumps({k: v for k, v in r.items() if k != "named"}), flush=True)
        entry = {"runs": runs}
        if not args.trace:
            entry["spread"] = spreads(runs, bounds)
            for name, s in entry["spread"].items():
                print(f"{wl:<18} {name:<18} median {s['median']:<12.5g} "
                      f"spread {s['spread']:<8} bound {s['bound']} "
                      f"{'ok' if s['within_third'] or name == 'setup_s' else 'WIDE'}",
                      flush=True)
        record["workloads"][wl] = entry
    if args.out:
        out = Path(args.out)
        doc = json.loads(out.read_text()) if out.exists() else {}
        doc[args.label] = record
        out.write_text(json.dumps(doc, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
