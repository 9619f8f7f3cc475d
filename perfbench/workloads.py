"""The two workloads: set-up, a closed timed loop, and output checks.

One client drives the engine's public API; it sends its next operation
only after the previous one returned. Each workload returns per-operation
latencies and its own named metrics; memory is read when the timed loop
ends, and output checks run after that and count every mismatch as a
failed operation.
"""

from __future__ import annotations

import json
import math
import os
import time
import urllib.parse
import urllib.request
import zlib
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np
from pyspark.sql import functions as F

import gen
from horaedb_spark.core.timeutil import TimeRange
from horaedb_spark.metric import ingest as ingest_mod
from horaedb_spark.metric.promql import PromQLCompiler
from horaedb_spark.metric.store import MetricStore
from horaedb_spark.server import ControlServer
from horaedb_spark.storage.compaction import Compactor, SchedulerConfig
from horaedb_spark.storage.table import ScanRequest


@dataclass
class Op:
    kind: str
    latency_s: float
    ok: bool = True
    items: int = 0  # samples a batch ingests / rows a scan returns


@dataclass
class Outcome:
    """One run of a workload, as the report needs it."""

    setup_fixture_s: float
    wall_s: float  # the timed loop
    ops: list[Op]
    op_kinds: tuple[str, ...]  # the operations op_p50_s reports
    probe_kind: str  # the operation probe_p50_s reports
    throughput: float  # throughput_per_s
    named: dict  # the workload's own metrics: name -> (value, unit)
    layer: dict  # counts the traced report reads
    check_failures: list[str]
    final_checks: int = 0  # end-of-run checks not tied to one operation
    final_failed: int = 0
    checks_s: float = 0.0  # wall of the output checks after the timed loop

    def latencies(self, *kinds: str) -> list[float]:
        return [o.latency_s for o in self.ops if o.ok and o.kind in kinds]


class Ctx:
    """What every workload gets: the session, its scratch directory, the
    seed, the run length and (traced runs only) the tracer. A workload
    brackets its timed loop with ``start_loop`` and ``end_loop``."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.tracer = tracer
        self.memory_mb = float("nan")

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return nullcontext({})
        return self.tracer.span(name, **attrs)

    def start_loop(self) -> float:
        if self.tracer is not None:
            self.tracer.measuring = True
        return time.perf_counter()

    def end_loop(self, t_start: float) -> float:
        """The loop's wall; also takes the memory reading, before any check."""
        wall = time.perf_counter() - t_start
        if self.tracer is not None:
            self.tracer.measuring = False
        self.memory_mb = memory_mb(self.spark)
        return wall


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def memory_mb(spark) -> float:
    """Memory the run has used so far: the peak RSS of this Python process,
    the driver JVM's peak RSS outside its heap, and the JVM heap still live
    after a full collection. The heap itself is fixed and pre-touched (see
    ``run.start_session``), so it is resident whole from the start; its
    committed size is taken out of the JVM's peak and its live part put
    back, which keeps the figure free of when the collector ran."""
    import resource

    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    heap = mx.getHeapMemoryUsage()
    jvm_pid = spark.sparkContext._gateway.proc.pid
    mb = 1024.0 * 1024.0
    return (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
            + _vm_hwm_mb(jvm_pid) - heap.getCommitted() / mb + heap.getUsed() / mb)


def _timed(ctx: Ctx, kind: str, fn, items=0) -> tuple[Op, object]:
    """Run one operation; ``items`` is a count, or a function that takes
    the operation's result and counts it."""
    t0 = time.perf_counter()
    with ctx.span("op." + kind) as rec:
        out = fn()
    op = Op(kind, time.perf_counter() - t0, True, items(out) if callable(items) else items)
    rec["items"] = op.items
    return op, out


class DiskWalk:
    """Bytes written and stored under some roots, from walking the tree
    between operations: a file counts as written when it is new or its size
    or mtime changed since the previous walk. Files created and deleted
    within one operation (staging, task attempts) are not seen."""

    def __init__(self, *roots: str):
        self.roots = roots
        self.seen = self._walk()

    def _walk(self) -> dict[str, tuple[int, int]]:
        out = {}
        for root in self.roots:
            for d, _dirs, files in os.walk(root):
                for f in files:
                    p = os.path.join(d, f)
                    try:
                        st = os.stat(p)
                    except FileNotFoundError:
                        continue
                    out[p] = (st.st_size, st.st_mtime_ns)
        return out

    def step(self) -> int:
        now = self._walk()
        new = sum(s for p, (s, m) in now.items() if self.seen.get(p) != (s, m))
        self.seen = now
        return new

    def stored(self) -> int:
        return sum(s for s, _m in self._walk().values())


def percentile(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_pct(n: int) -> int:
    """The highest whole percentile with at least ten samples above it,
    and never below the median."""
    if n <= 0:
        return 50
    return max(50, int(math.floor(100.0 * (1.0 - 10.0 / n))))


# ======================================================= ingest_compact

INGEST_SEG_MS = 6 * 3_600_000
INGEST_SCRAPE_MS = 15_000
INGEST_START_MS = 1_767_225_600_000 + 3 * 3_600_000  # 2026-01-01T03:00Z
FRESH_QUERY = "sum by (job) (node_memory_active_bytes)"
FRESH_LOOKBACK_MS = 300_000
INGEST_TICKS = 5  # scrapes of every series in one batch
# One unit: a batch, a read-after-write query, a raw merge-on-read scan of
# the batch's time window, then a compaction pass over the store's four
# tables. So every query and scan reads the same shape of state: two SSTs
# per segment, what the previous unit left and the new batch.
INGEST_UNIT = ("batch", "fresh", "scan", "compact")
INGEST_ROUND = 4  # units in one round of the closed loop


def ingest_compact(ctx: Ctx) -> Outcome:
    spark = ctx.spark
    stream = gen.IngestStream(
        ctx.seed, n_targets=60, scrape_ms=INGEST_SCRAPE_MS, segment_ms=INGEST_SEG_MS,
        start_tick=INGEST_START_MS // INGEST_SCRAPE_MS, ticks_per_batch=INGEST_TICKS,
        payloads_per_batch=10, resend_share=0.05, late_share=0.01,
    )
    root = os.path.join(ctx.work, "ingest_store")
    tracer = ctx.tracer
    layer = {"decode_s": [], "decodes_per_batch": [], "decode_samples": [],
             "batch_bytes": []}
    decode_one = ingest_mod.decode_write_request
    if tracer:
        # Traced runs only: count payload decodes. decode_payloads' worker
        # function looks decode_write_request up in its module when it is
        # pickled, so a counting passthrough set there ships to the Python
        # workers with the job; it adds no stage to the plan.
        decode_counter = spark.sparkContext.accumulator(0)

        def counting_decode(payload):
            decode_counter.add(1)
            return decode_one(payload)

        tracer.replace(ingest_mod, "decode_write_request", counting_decode)

    def ingest_batch(store, payloads):
        df = spark.createDataFrame(payloads, "payload binary, seq long")
        store.ingest(ingest_mod.decode_payloads(df))

    def fresh_query(store, at_ms):
        eng = store.engine()
        df = PromQLCompiler(eng, INGEST_SCRAPE_MS, FRESH_LOOKBACK_MS,
                            start_ms=at_ms, end_ms=at_ms).compile(FRESH_QUERY)
        rows = df.filter(F.col("ts_ms") == at_ms).collect()
        return {r["series_key"]: r["value"] for r in rows}

    def raw_scan(store, lo_ms, hi_ms):
        """Row count and value sum of the data table over [lo, hi). The time
        range prunes SSTs; the predicate keeps the rows."""
        with ctx.span("scan.build"):
            df = store.data.scan(ScanRequest(
                TimeRange(lo_ms, hi_ms), predicate=f"ts_ms >= {lo_ms} AND ts_ms < {hi_ms}",
                ordered=False))
        with ctx.span("scan.consume"):
            row = df.agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")).collect()[0]
        return int(row["n"]), float(row["s"] or 0.0)

    config = SchedulerConfig(input_sst_min_num=2)

    def compact(store):
        for t in _tables(store):
            Compactor(t, config).run_all()

    ops: list[Op] = []
    reads = []  # (op, kind, stream mark, window, answer), checked after the loop
    failures = []
    tot = {"samples": 0, "wall": 0.0, "write_bytes": 0}

    def unit(timed: bool) -> None:
        """One unit of INGEST_UNIT; set-up runs it untimed, with no record."""
        payloads, n, last_tick = stream.next_batch()
        at = last_tick * INGEST_SCRAPE_MS
        window = ((last_tick - INGEST_TICKS + 1) * INGEST_SCRAPE_MS, at + INGEST_SCRAPE_MS)
        steps = {"batch": (lambda: ingest_batch(store, payloads), n),
                 "fresh": (lambda: fresh_query(store, at), 0),
                 "scan": (lambda: raw_scan(store, *window), lambda g: g[0]),
                 "compact": (lambda: compact(store), 0)}
        for kind in INGEST_UNIT:
            fn, items = steps[kind]
            if not timed:
                fn()
                continue
            try:
                if kind == "batch" and tracer:  # decode cost on one core, charged to overhead
                    def decode_all():
                        o0 = time.perf_counter()
                        n_dec = sum(len(decode_one(p)) for p, _s in payloads)
                        layer["decode_s"].append(time.perf_counter() - o0)
                        layer["decode_samples"].append(n_dec)
                    tracer.annotate(decode_all)
                    before = decode_counter.value
                op, got = _timed(ctx, kind, fn, items)
                if kind == "batch":
                    if tracer:
                        layer["decodes_per_batch"].append(
                            (decode_counter.value - before) / len(payloads))
                    tot["samples"] += n
                elif kind in ("fresh", "scan"):
                    reads.append((op, kind, stream.mark, at if kind == "fresh" else window,
                                  got))
                if kind in ("batch", "compact"):
                    tot["wall"] += op.latency_s
                written = disk.step()  # a fresh query runs the mirror refresh
                tot["write_bytes"] += written
                if kind == "batch":
                    layer["batch_bytes"].append(written)
            except Exception as e:  # the loop must go on and count the failure
                op = Op(kind, float("nan"), False)
                failures.append(f"{kind}: {type(e).__name__}: {e}"[:300])
            ops.append(op)

    # ---- set-up: open an empty store and run one unit untimed and cold (its
    # compaction finds one SST per segment and does nothing). The loop's
    # first unit still warms up, its compaction being the first real one;
    # the medians over a round of four leave it out.
    t0 = time.perf_counter()
    with ctx.span("setup"):
        store = MetricStore(spark, root, INGEST_SEG_MS, data_buckets=4)
        unit(timed=False)
    setup_s = time.perf_counter() - t0

    disk = DiskWalk(root, os.path.join(ctx.work, "warehouse"))
    t_start = ctx.start_loop()
    while time.perf_counter() - t_start < ctx.seconds:  # whole rounds
        for _ in range(INGEST_ROUND):
            unit(timed=True)
    wall = ctx.end_loop(t_start)

    # ---- checks outside the timed region: each read-after-write answer
    # against the samples sent before it, then the merged data table
    states: dict = {}
    for op, kind, mark, arg, got in reads:
        if mark not in states:
            states[mark] = stream.expected(upto=mark)
        state = states[mark]
        if kind == "fresh":
            want = gen.instant_sum_by_job(stream.fleet, state, "node_memory_active_bytes",
                                          arg, FRESH_LOOKBACK_MS)
            want = {f"job={k}": v for k, v in want.items()}
        else:
            w = state[(state["ts_ms"] >= arg[0]) & (state["ts_ms"] < arg[1])]
            want = (len(w), float(w["value"].sum()))
        if got != want:
            op.ok = False
            failures.append(f"{kind} at {arg}: {got} != {want}")
    final_failed = 0
    stored = disk.stored()
    want = stream.expected()
    data = store.data.scan(ScanRequest(ordered=False))
    series = store.series.scan(ScanRequest(ordered=False))
    metrics = store.metrics.scan(ScanRequest(ordered=False))
    got = (data.join(series, ["metric_id", "tsid"])
           .join(metrics.select("metric_id", "metric_name"), "metric_id")
           .select("metric_name", "series_key", "ts_ms", "value").toPandas())
    fleet = stream.fleet
    want_keys = [f"{fleet.names[i]}|{fleet.series_key(i)}" for i in want["series"]]
    got_keys = [f"{a}|{b}" for a, b in zip(got["metric_name"], got["series_key"])]
    want_sum = _checksum(want_keys, want["ts_ms"], want["value"])
    got_sum = _checksum(got_keys, got["ts_ms"], got["value"])
    if len(got) != len(want) or got_sum != want_sum:
        final_failed = 1
        failures.append(f"data table: {len(got)} rows, checksum {got_sum}; "
                        f"expected {len(want)} rows, checksum {want_sum}")
    layer.update(
        live_ssts=sum(len(t.manifest.all_ssts()) for t in _tables(store)),
        deltas=sum(t.manifest.delta_count() for t in _tables(store)),
    )

    throughput = tot["samples"] / tot["wall"] if tot["wall"] else 0.0
    out = Outcome(setup_s, wall, ops, ("batch",), "fresh", throughput, {}, layer,
                  failures, 1, final_failed)
    out.named = {
        "ingest_samples_per_s": (throughput, "samples/s"),
        "ingest_batch_p50_s": (percentile(out.latencies("batch"), 50), "s"),
        "fresh_query_p50_s": (percentile(out.latencies("fresh"), 50), "s"),
        "raw_scan_p50_s": (percentile(out.latencies("scan"), 50), "s"),
        "compaction_p50_s": (percentile(out.latencies("compact"), 50), "s"),
        "write_bytes_per_sample": (tot["write_bytes"] / max(1, tot["samples"]), "B"),
        "stored_bytes_per_sample": (stored / max(1, len(want)), "B"),
    }
    return out


def _tables(store):
    return (store.data, store.series, store.index, store.metrics)


def _checksum(keys, ts, vals) -> int:
    """Order-free digest of (key, ts, value) rows; values are integers."""
    total = 0
    for k, t, v in zip(keys, ts.tolist(), vals.tolist()):
        total += (zlib.crc32(f"{k}|{t}".encode()) + 1) * int(v)
    return total


# ===================================================== promql_dashboard

DASH_SCRAPE_MS = 60_000
DASH_SEG_MS = 2 * 3_600_000
DASH_START_MS = 1_767_225_600_000
DASH_TICKS = 3 * 60  # three hours of one-minute scrapes
# The dashboard: seven panels, each a PromQL shape with its own window
# (range ms and step, or instant). Range functions need their [range] to be
# a multiple of the step. `ref` marks the selector and aggregation panels
# also checked against the generator's own values.
H = 3_600_000
PANELS = (
    ("histogram_quantile(0.9, sum by (le) "
     "(rate(http_request_duration_seconds_bucket[5m])))", 2 * H, "5m", None),
    ("topk(3, node_memory_active_bytes)", None, "1m", None),
    ('sum by (instance) (rate(node_cpu_seconds_total{mode=~"user|system"}[5m]))',
     H, "1m", None),
    ("rate(node_cpu_seconds_total[5m]) / on(instance) group_left node_num_cpus",
     2 * H, "5m", None),
    ('max_over_time(rate(http_requests_total{code="500"}[5m])[30m:5m])', H, "5m", None),
    ("sum by (job) (node_memory_active_bytes)", None, "1m",
     ("sum", "node_memory_active_bytes", {})),
    ('node_load1{job="api"}', 2 * H, "1m", ("none", "node_load1", {"job": "api"})),
)
STEP_MS = {"1m": 60_000, "5m": 300_000}


def dashboard_refreshes(seed: int) -> list[list[dict]]:
    """Dashboard refreshes, each one request per panel (two of the seven
    are instant queries). A refresh's "now" is drawn from the seed and differs
    between refreshes, so no two requests of a run share a window and the
    server's response cache never hits."""
    rng = np.random.default_rng(seed + 7)
    end_max = DASH_START_MS + (DASH_TICKS - 1) * DASH_SCRAPE_MS
    out = []
    for back in rng.permutation(60):
        now = end_max - int(back) * DASH_SCRAPE_MS
        refresh = []
        for q, rng_ms, step, ref in PANELS:
            req = {"query": q, "ref": ref, "step": step, "step_ms": STEP_MS[step]}
            if rng_ms is None:
                req.update(kind="instant", time=now / 1000)
            else:
                req.update(kind="range", start=(now - rng_ms) / 1000, end=now / 1000)
            refresh.append(req)
        out.append(refresh)
    return out


def _fixture_frame(spark, fleet: gen.Fleet, first_tick: int, n_ticks: int):
    """The fleet's samples as a Spark frame, computed in Spark from the
    generator's parameters with the same integer formulas as
    ``Fleet.values`` (no per-sample Python on the way in)."""
    rows = [(i, fleet.names[i], fleet.labels[i], int(fleet.kind[i]), int(fleet.base[i]),
             int(fleet.rate[i]), int(fleet.mult[i]), int(fleet.mod[i]),
             int(fleet.share[i]), int(fleet.offset_ms[fleet.target[i]]))
            for i in range(fleet.n)]
    params = spark.createDataFrame(
        rows, "sid long, name string, labels map<string,string>, kind int, "
              "base long, rate long, mult long, mod long, share long, offset long")
    ticks = spark.range(first_tick, first_tick + n_ticks).withColumnRenamed("id", "tick")
    counter = "(base + tick * rate + pmod(tick * mult, rate))"
    value = F.expr(
        f"CASE kind WHEN 0 THEN 1 WHEN 1 THEN {counter} WHEN 3 THEN base "
        f"WHEN 4 THEN ({counter} * share) div 100 ELSE base + pmod(tick * mult, mod) END"
    ).cast("double")
    return params.crossJoin(ticks).select(
        "name", "labels",
        (F.col("tick") * fleet.scrape_ms + F.col("offset")).alias("ts_ms"),
        value.alias("value"), F.lit(1).cast("long").alias("seq"),
    )


def _http_get(port: int, req: dict) -> dict:
    params = {"query": req["query"], "step": req["step"]}
    if req["kind"] == "instant":
        params["time"] = repr(req["time"])
        path = "/api/v1/query"
    else:
        params["start"], params["end"] = repr(req["start"]), repr(req["end"])
        path = "/api/v1/query_range"
    url = f"http://127.0.0.1:{port}{path}?{urllib.parse.urlencode(params)}"
    with urllib.request.urlopen(url, timeout=120) as resp:
        return json.loads(resp.read())


def _library_answer(engine, req: dict) -> dict:
    """The same request evaluated through the library, shaped as the HTTP
    API shapes it (lookback: Prometheus' 5m below a 5m step, else one step)."""
    step_ms = req["step_ms"]
    lookback = 300_000 if step_ms < 300_000 else None
    if req["kind"] == "instant":
        t_ms = int(req["time"] * 1000)
        at = t_ms - t_ms % step_ms
        rows = (PromQLCompiler(engine, step_ms, lookback, start_ms=at, end_ms=at)
                .compile(req["query"]).filter(F.col("ts_ms") == at).collect())
        return {r["series_key"]: [(r["ts_ms"], r["value"])] for r in rows}
    start, end = int(req["start"] * 1000), int(req["end"] * 1000)
    df = PromQLCompiler(engine, step_ms, lookback, start_ms=start, end_ms=end).compile(
        req["query"])
    rows = df.filter((F.col("ts_ms") >= start) & (F.col("ts_ms") <= end)).collect()
    out: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["series_key"], r["ts_ms"])):
        out.setdefault(r["series_key"], []).append((r["ts_ms"], r["value"]))
    return out


def _response_series(payload: dict) -> dict:
    out = {}
    for item in payload["data"]["result"]:
        key = ",".join(f"{k}={v}" for k, v in sorted(item["metric"].items()))
        pts = item["values"] if "values" in item else [item["value"]]
        out[key] = [(int(round(t * 1000)), float(v)) for t, v in pts]
    return out


def _same(a: dict, b: dict) -> bool:
    if a.keys() != b.keys():
        return False
    for k in a:
        if len(a[k]) != len(b[k]):
            return False
        for (t1, v1), (t2, v2) in zip(a[k], b[k]):
            if t1 != t2 or not (v1 == v2 or math.isclose(v1, v2, rel_tol=1e-9,
                                                         abs_tol=1e-12)):
                return False
    return True


def _reference_answer(fleet: gen.Fleet, req: dict) -> dict:
    """Selector and ``sum by (job)`` panels from the generator's values: at
    each step a series contributes its latest sample in (t - lookback, t]."""
    how, metric, match = req["ref"]
    step_ms = req["step_ms"]
    lookback = 300_000 if step_ms < 300_000 else step_ms
    first = DASH_START_MS
    last = DASH_START_MS + (DASH_TICKS - 1) * DASH_SCRAPE_MS
    idx = np.array([i for i in range(fleet.n) if fleet.names[i] == metric
                    and all(fleet.labels[i].get(k) == v for k, v in match.items())])
    if req["kind"] == "instant":
        t_ms = int(req["time"] * 1000)
        steps = np.array([t_ms - t_ms % step_ms])
    else:
        lo = int(req["start"] * 1000)
        hi = int(req["end"] * 1000)
        # the engine's grid runs over the selected data's range
        s0 = -(-max(lo, first + int(fleet.offset_ms.min())) // step_ms) * step_ms
        steps = np.arange(s0, min(hi, last + int(fleet.offset_ms.max())) + 1, step_ms)
    per_series = {}
    for i in idx:
        off = int(fleet.offset_ms[fleet.target[i]])
        tick = (steps - off) // DASH_SCRAPE_MS
        ts = tick * DASH_SCRAPE_MS + off
        ok = (tick >= first // DASH_SCRAPE_MS) & (ts > steps - lookback)
        ok &= tick <= (last // DASH_SCRAPE_MS)
        vals = fleet.values(np.full(len(steps), i), tick)
        per_series[i] = {int(t): float(v) for t, v, k in zip(steps, vals, ok) if k}
    out: dict[str, list] = {}
    if how == "none":
        for i, pts in per_series.items():
            if pts:
                out[fleet.series_key(i)] = sorted(pts.items())
        return out
    groups: dict[str, dict[int, list[float]]] = {}
    for i, pts in per_series.items():
        g = groups.setdefault(f"job={fleet.labels[i]['job']}", {})
        for t, v in pts.items():
            g.setdefault(t, []).append(v)
    for key, g in groups.items():  # how == "sum"
        out[key] = sorted((t, float(sum(xs))) for t, xs in g.items())
    return out


def promql_dashboard(ctx: Ctx) -> Outcome:
    spark = ctx.spark
    fleet = gen.make_fleet(ctx.seed, n_targets=30, scrape_ms=DASH_SCRAPE_MS)
    first_tick = DASH_START_MS // DASH_SCRAPE_MS
    warm = {"kind": "range", "query": "sum(rate(http_requests_total[5m]))",
            "start": (DASH_START_MS + H) / 1000, "end": (DASH_START_MS + 2 * H) / 1000,
            "step": "1m", "step_ms": 60_000}
    t0 = time.perf_counter()
    with ctx.span("setup"):
        store = MetricStore(spark, os.path.join(ctx.work, "dash_store"), DASH_SEG_MS,
                            data_buckets=4)
        store.ingest(_fixture_frame(spark, fleet, first_tick, DASH_TICKS))
        server = ControlServer(Compactor(store.data), metric_engine=store.engine())
        server.start()
        _http_get(server.port, warm)
    setup_s = time.perf_counter() - t0

    ops, answers = [], []
    refreshes = iter(dashboard_refreshes(ctx.seed))
    t_start = ctx.start_loop()
    try:
        # whole refreshes until the run length has passed
        while time.perf_counter() - t_start < ctx.seconds:
            for req in next(refreshes):
                try:
                    op, payload = _timed(ctx, req["kind"],
                                         lambda: _http_get(server.port, req))
                    op.ok = payload.get("status") == "success"
                except Exception:  # counted (no answer), and the client goes on
                    op, payload = Op(req["kind"], float("nan"), False), None
                answers.append((req, payload if op.ok else None))
                ops.append(op)
        wall = ctx.end_loop(t_start)
        stats = dict(server.query_cache_stats)
    finally:
        server.stop()

    # ---- checks outside the timed region, all requests at once: each is
    # mostly driver-side compile, so they overlap well on four cores
    check_eng = store.engine(from_mirror=False)

    def check(item) -> str | None:
        req, payload = item
        if payload is None:
            return "no answer"
        try:
            got = _response_series(payload)
            if not _same(got, _library_answer(check_eng, req)):
                return "differs from the library over the merge-on-read engine"
            if req["ref"] is not None and not _same(got, _reference_answer(fleet, req)):
                return "differs from the generator's values"
        except Exception as e:  # a check that cannot run fails its operation
            return f"check raised {type(e).__name__}: {e}"[:300]
        return None

    with ThreadPoolExecutor(len(PANELS)) as pool:
        verdicts = list(pool.map(check, answers))
    failures = []
    for op, (req, _p), bad in zip(ops, answers, verdicts):
        if bad is not None:
            op.ok = False
            failures.append(f"{req['kind']} {req['query']}: {bad}")

    layer = {
        "cache": stats,
        "live_ssts": sum(len(t.manifest.all_ssts()) for t in _tables(store)),
        "deltas": sum(t.manifest.delta_count() for t in _tables(store)),
    }
    out = Outcome(setup_s, wall, ops, ("range", "instant"), "instant", 0.0, {}, layer,
                  failures)
    lat = out.latencies("range", "instant")
    out.throughput = len(lat) / wall
    out.named = {
        "query_p50_s": (percentile(lat, 50), "s"),
        "query_tail_s": (percentile(lat, tail_pct(len(lat))), "s"),
        "query_range_p50_s": (percentile(out.latencies("range"), 50), "s"),
        "instant_query_p50_s": (percentile(out.latencies("instant"), 50), "s"),
    }
    return out


WORKLOADS = {
    "ingest_compact": ingest_compact,
    "promql_dashboard": promql_dashboard,
}
