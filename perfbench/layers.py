"""Per-layer metrics of a traced run, from its spans and Spark jobs.

Each metric is named after the module whose public calls the span wraps
(``metric.ingest``, ``metric.store``, ``storage.table``, ...). Times and
counts are means per call of that layer inside the timed loop unless the
name says otherwise; a layer the workload does not reach reports 0.
"""

from __future__ import annotations

from statistics import fmean

from tracing import SpanTree

OP_SPANS = ("op.batch", "op.fresh", "op.scan", "op.compact", "op.range", "op.instant")
QUERY_OPS = ("op.fresh", "op.range", "op.instant")


def _mean(xs) -> float:
    xs = list(xs)
    return fmean(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(out, tracer, host: dict) -> dict[str, tuple[float, str]]:
    t = SpanTree(tracer)
    ops = [sp for sp in t.spans.values() if sp["name"] in OP_SPANS]
    op_ids = {sp["id"] for sp in ops}

    def in_ops(name: str) -> list:
        out_ = []
        for sp in t.named(name):
            p = sp["parent"]
            while p is not None and p not in op_ids:
                p = t.spans[p]["parent"]
            if p is not None:
                out_.append(sp)
        return out_

    def jobs_sum(spans, key: str) -> float:
        return sum(j[key] for sp in spans for j in t.jobs(sp))

    layer = out.layer
    m: dict[str, tuple[float, str]] = {}

    # metric.ingest: decode cost on one core, and how often a batch decodes
    dec_s, dec_n = layer.get("decode_s", []), layer.get("decode_samples", [])
    m["metric.ingest.decode_s"] = (_mean(dec_s), "s")
    m["metric.ingest.decodes_per_batch"] = (_mean(layer.get("decodes_per_batch", [])),
                                            "count")
    m["metric.ingest.samples_per_core_s"] = (_ratio(sum(dec_n), sum(dec_s)), "1/s")

    # metric.store
    ing = in_ops("metric.store.ingest")
    m["metric.store.ingest_s"] = (_mean(sp.dur for sp in ing), "s")
    m["metric.store.ingest_jobs"] = (_mean(len(t.jobs(sp)) for sp in ing), "count")
    m["metric.store.ingest_py4j_calls"] = (_mean(sp["py4j"] for sp in ing), "count")
    m["metric.store.ingest_driver_gap_s"] = (_mean(t.driver_gap(sp) for sp in ing), "s")
    # the dashboard builds its one engine in set-up
    eng = in_ops("metric.store.engine") or t.named("metric.store.engine", under="setup")
    m["metric.store.engine_s"] = (_mean(sp.dur for sp in eng), "s")

    # storage.table, write side (per ingest batch)
    m["storage.table.bulk_ingest_s"] = (
        _mean(sp.dur for sp in in_ops("storage.table.bulk_ingest")), "s")
    m["storage.table.catalog_write_s"] = (_mean(
        sum(s.dur for s in t.subtree(sp) if s["name"] == "storage.table.write")
        for sp in ing), "s")
    m["storage.table.ssts_written"] = (_mean(
        sum(1 if s["name"] == "storage.table.write" else s.get("ssts", 0)
            for s in t.subtree(sp)
            if s["name"] in ("storage.table.write", "storage.table.bulk_ingest"))
        for sp in ing), "count")
    m["storage.table.bytes_written"] = (_mean(layer.get("batch_bytes", [])), "B")

    # storage.table, scan side: the raw merge-on-read scans (op.scan); the
    # scans a mirror refresh runs are counted in storage.bucketed
    raw = [sp for sp in ops if sp["name"] == "op.scan"]
    consume = [s for sp in raw for s in t.subtree(sp) if s["name"] == "scan.consume"]
    rows_out = sum(sp.get("items", 0) for sp in raw)
    m["storage.table.scan_build_s"] = (_mean(
        s.dur for sp in raw for s in t.subtree(sp) if s["name"] == "storage.table.scan"),
        "s")
    m["storage.table.scan_exec_s"] = (_mean(sp.dur for sp in consume), "s")
    m["storage.table.scan_shuffle_bytes"] = (
        _ratio(jobs_sum(consume, "shuffle_bytes"), len(consume)), "B")
    m["storage.table.rows_read_per_row_out"] = (
        _ratio(jobs_sum(consume, "input_records"), rows_out), "ratio")

    # storage.manifest
    sel = [s for sp in raw for s in t.subtree(sp) if s["name"] == "storage.table.scan_ssts"]
    m["storage.manifest.live_ssts"] = (float(layer.get("live_ssts", 0)), "count")
    m["storage.manifest.delta_count"] = (float(layer.get("deltas", 0)), "count")
    m["storage.manifest.ssts_selected_ratio"] = (
        _mean(_ratio(sp["selected"], sp["live"]) for sp in sel if "live" in sp), "ratio")

    # storage.compaction (per compaction round over the store's tables)
    rounds = [sp for sp in ops if sp["name"] == "op.compact"]
    runs = [[s for s in t.subtree(r) if s["name"] == "storage.compaction.run_all"]
            for r in rounds]
    m["storage.compaction.run_s"] = (_mean(sum(s.dur for s in rs) for rs in runs), "s")
    for key, name, unit in (("bytes", "bytes_rewritten", "B"),
                            ("ssts_in", "ssts_in", "count"),
                            ("ssts_out", "ssts_out", "count")):
        m[f"storage.compaction.{name}"] = (
            _mean(sum(s.get(key, 0) for s in rs) for rs in runs), unit)

    # storage.bucketed (the tsid-bucketed read mirror)
    ref = in_ops("storage.bucketed.refresh")
    m["storage.bucketed.refresh_s"] = (_mean(sp.dur for sp in ref), "s")
    m["storage.bucketed.partitions_rewritten"] = (
        _mean(sp.get("partitions", 0) for sp in ref), "count")

    # metric.promql: compile (build) and the result collect (exec)
    comp = in_ops("metric.promql.compile")
    final = [sp for sp in t.named("spark.collect")
             if sp["parent"] is not None and t.spans[sp["parent"]]["name"] in QUERY_OPS]
    m["metric.promql.build_s"] = (_mean(sp.dur for sp in comp), "s")
    m["metric.promql.py4j_calls"] = (_mean(sp["py4j"] for sp in comp), "count")
    m["metric.promql.driver_gap_s"] = (_mean(t.driver_gap(sp) for sp in comp), "s")
    m["metric.promql.exec_s"] = (_mean(sp.dur for sp in final), "s")
    m["metric.promql.jobs"] = (_mean(len(t.jobs(sp)) for sp in final), "count")
    m["metric.promql.tasks"] = (_ratio(jobs_sum(final, "tasks"), len(final)), "count")
    m["metric.promql.exchanges"] = (_mean(sp.get("exchanges", 0) for sp in final), "count")
    m["metric.promql.shuffle_bytes"] = (
        _ratio(jobs_sum(final, "shuffle_bytes"), len(final)), "B")
    m["metric.promql.rows_read_per_row_out"] = (
        _ratio(jobs_sum(final, "input_records"), sum(sp.get("rows", 0) for sp in final)),
        "ratio")

    # server: HTTP wall not spent in the engine's spans, and its cache
    reqs = [sp for sp in ops if sp["name"] in ("op.range", "op.instant")]
    cache = layer.get("cache", {})
    m["server.overhead_s"] = (_mean(t.self_time(sp) for sp in reqs), "s")
    m["server.cache_hit_ratio"] = (
        _ratio(cache.get("hits", 0), cache.get("hits", 0) + cache.get("misses", 0)),
        "ratio")

    # Spark runtime, per operation of the timed loop
    m["spark.executor_run_s"] = (_ratio(jobs_sum(ops, "run_s"), len(ops)), "s")
    m["spark.tasks"] = (_ratio(jobs_sum(ops, "tasks"), len(ops)), "count")
    m["spark.spill_bytes"] = (jobs_sum(ops, "spill_bytes"), "B")

    # storage bytes per ingested sample (ingest workload)
    for k in ("write_bytes_per_sample", "stored_bytes_per_sample"):
        m[f"storage.{k}"] = (out.named.get(k, (0.0,))[0], "B")

    m["host.mc_stall_x"] = (host["mc_stall_x"], "x")
    m["trace.overhead_ratio"] = (_ratio(tracer.overhead_s, out.wall_s), "ratio")
    return m
