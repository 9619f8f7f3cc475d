"""Benchmark of record for horaedb_spark: one workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It starts a ``local[4]`` Spark session,
builds the workload's fixture through the engine's public API, drives one
closed-loop client for ``--seconds``, checks every output, and prints the
metrics: a table for people, then one JSON line (the last line of
standard output). ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
installs the tracer and reports the per-layer metrics instead.
Everything it writes goes under ``.perfbench_work/`` in the checkout and is
removed before it exits.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORES = 4

# End-to-end metrics every workload reports (README.md says what each
# workload's operation and probe are): name -> unit.
E2E_UNITS = {
    "setup_s": "s",
    "memory_mb": "MB",
    "op_p50_s": "s",
    "probe_p50_s": "s",
    "throughput_per_s": "1/s",
}


def mc_probe(n_threads: int) -> float:
    """Multi-core stall factor of the host: the wall of the same fixed
    compression work on ``n_threads`` threads at once over its wall on one
    (zlib releases the GIL while it compresses). About 1 on an idle host.
    The logic of ``bench.py``'s probe, with zlib in place of hashlib, whose
    md5 holds the GIL on this interpreter build."""
    import zlib
    from concurrent.futures import ThreadPoolExecutor

    buf = os.urandom(2 << 20)

    def unit(_=None) -> None:
        zlib.compress(buf, 6)

    ratios = []
    with ThreadPoolExecutor(n_threads) as pool:
        list(pool.map(unit, range(n_threads)))  # wake the threads and cores
        for _ in range(3):  # the least stalled of three: idle cores wake slowly
            t0 = time.perf_counter()
            unit()
            single = time.perf_counter() - t0
            t0 = time.perf_counter()
            list(pool.map(unit, range(n_threads)))
            ratios.append((time.perf_counter() - t0) / single)
    return min(ratios)


def start_session(work: Path, traced: bool):
    from horaedb_spark.core.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.local.dir": str(tmp),
        # a fixed, pre-touched heap: resident whole from the start, so
        # workloads.memory_mb can take it out and count its live part instead
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms2g -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:  # keep every job and stage of the run in the status store
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    return get_spark("perfbench", master=f"local[{CORES}]", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers it started) to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def install_tracer(spark):
    """Wrap the program's public layer boundaries (traced runs only)."""
    import pyspark.sql.classic.dataframe as classic

    from horaedb_spark.metric import ingest
    from horaedb_spark.metric.promql import PromQLCompiler
    from horaedb_spark.metric.store import MetricStore
    from horaedb_spark.storage.bucketed import BucketedMirror
    from horaedb_spark.storage.compaction import Compactor
    from horaedb_spark.storage.table import ColumnarTable
    from tracing import Tracer, exchanges_in

    tr = Tracer(spark)
    tr.count_py4j()

    def ssts_selected(rec, args, _out):
        rec["selected"] = len(args[1])
        rec["live"] = len(args[0].manifest.all_ssts())

    def bulk_out(rec, _args, out):
        rec["ssts"] = len(out)

    def refresh_out(rec, _args, out):
        rec["partitions"] = len(out.get("overwritten", ())) + len(out.get("dropped", ()))

    def compaction_out(rec, args, out):
        live = {s.file_id for s in args[0].table.manifest.all_ssts()}
        rec["ssts_out"] = len(out)
        rec["bytes"] = sum(s.size_bytes for s in out)
        rec["ssts_in"] = len(rec.pop("before", set()) - live)

    def collect_out(rec, args, out):
        rec["rows"] = len(out)
        rec["exchanges"] = exchanges_in(args[0])

    tr.wrap(ingest, "decode_payloads", "metric.ingest.decode_payloads")
    tr.wrap(MetricStore, "ingest", "metric.store.ingest")
    tr.wrap(MetricStore, "engine", "metric.store.engine")
    tr.wrap(ColumnarTable, "write", "storage.table.write")
    tr.wrap(ColumnarTable, "bulk_ingest", "storage.table.bulk_ingest", after=bulk_out)
    tr.wrap(ColumnarTable, "scan", "storage.table.scan")
    tr.wrap(ColumnarTable, "scan_ssts", "storage.table.scan_ssts", after=ssts_selected)
    tr.wrap(BucketedMirror, "refresh", "storage.bucketed.refresh", after=refresh_out)
    tr.wrap(Compactor, "run_all", "storage.compaction.run_all", after=compaction_out,
            before=lambda rec, args: rec.__setitem__(
                "before", {s.file_id for s in args[0].table.manifest.all_ssts()}))
    tr.wrap(PromQLCompiler, "compile", "metric.promql.compile")
    tr.wrap(classic.DataFrame, "collect", "spark.collect", after=collect_out)
    return tr


def run(args) -> int:
    if not (ROOT / "horaedb_spark" / "__init__.py").is_file():
        print(f"perfbench: no horaedb_spark package under {ROOT}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # Spark's Python workers import the program and the benchmark's modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE), *filter(None, [os.environ.get("PYTHONPATH")])])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["TMPDIR"] = str(work / "tmp")

    host = {"mc_stall_x": mc_probe(CORES)}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, args.trace)
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        tracer = install_tracer(spark) if args.trace else None
        ctx = workloads.Ctx(spark, str(work), args.seed, args.seconds, tracer)
        t0 = time.perf_counter()
        out = workloads.WORKLOADS[args.workload](ctx)
        out.checks_s = time.perf_counter() - t0 - out.setup_fixture_s - out.wall_s
        if tracer is not None:
            tracer.uninstall()
            tracer.read_jobs()
        result = report(args, out, session_s, ctx.memory_mb, host, tracer)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    print(json.dumps(result))
    return 0


def report(args, out, session_s: float, memory_mb: float, host: dict, tracer) -> dict:
    import workloads

    lat = out.latencies(*out.op_kinds)
    probe_lat = out.latencies(out.probe_kind)
    n = len(lat)
    # end-of-run table checks count as operations of their own
    attempted = len(out.ops) + out.final_checks
    failed = sum(1 for o in out.ops if not o.ok) + out.final_failed
    e2e = {
        "setup_s": session_s + out.setup_fixture_s,
        "memory_mb": memory_mb,
        "op_p50_s": workloads.percentile(lat, 50),
        "probe_p50_s": workloads.percentile(probe_lat, 50),
        "throughput_per_s": out.throughput,
    }
    named = dict(out.named, failed_share=(failed / attempted, "ratio"))
    lines = [f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
             f"trace={args.trace}",
             f"  operation={'+'.join(out.op_kinds)} (n={n}), probe={out.probe_kind} "
             f"(n={len(probe_lat)}), timed wall {out.wall_s:.2f} s, "
             f"session start {session_s:.2f} s, fixture {out.setup_fixture_s:.2f} s, "
             f"checks {out.checks_s:.2f} s",
             f"  host: mc_stall_x={host['mc_stall_x']:.2f}",
             "  ops: " + " ".join(f"{o.kind}={o.latency_s:.3f}{'' if o.ok else '!'}"
                                  for o in out.ops)]
    for k, v in e2e.items():
        lines.append(f"  {k:<28} {v:>14.6g} {E2E_UNITS[k]}")
    for k, (v, unit) in named.items():
        lines.append(f"  {k:<28} {v:>14.6g} {unit}")
    for f in out.check_failures[:20]:
        lines.append(f"  CHECK FAILED: {f}")
    if tracer is None:
        reported = {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}
    else:
        import layers

        reported = layers.per_layer(out, tracer, host)
        for k, (v, u) in reported.items():
            lines.append(f"  {k:<44} {v:>14.6g} {u}")
    # a metric with no sample (every such operation failed) reads 0; the run
    # is then reported as not correct
    metrics = {k: {"value": v if math.isfinite(v) else 0.0, "unit": u}
               for k, (v, u) in reported.items()}
    print("\n".join(lines), flush=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
