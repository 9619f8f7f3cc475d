"""Storage-engine queries: the reference's implemented operator set (SURVEY.md
§2 A1-A12, C1-C3) exercised end-to-end under the DuckDB correctness gate.

Each query ingests driver testdata into a real ``ColumnarTable`` (multi-SST
writes, manifest, segments), scans it through the merge-on-read path, and
returns a DataFrame whose content a plain SQL oracle over the *raw* tables can
reproduce. The ingest slices are pre-deduplicated per slice with a
deterministic order (ts DESC, event_id DESC), so "newest ``__seq__`` wins"
collapses to "newest timestamp wins" — SQL-expressible while still exercising
cross-file versioning for real.

Tables are built once per (sf_dir, flavor) in a process-local temp dir and
reused across queries.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from horaedb_spark.core.schema import StorageSchema, UpdateMode
from horaedb_spark.core.timeutil import TimeRange, truncate_by
from horaedb_spark.queries.registry import register
from horaedb_spark.queries.tables import events_ms, load_table
from horaedb_spark.storage.compaction import Compactor, SchedulerConfig
from horaedb_spark.storage.table import ColumnarTable, ScanRequest, WriteRequest

DAY_MS = 86_400_000
_CACHE: dict[tuple, ColumnarTable] = {}


def _events_schema() -> StorageSchema:
    return StorageSchema(
        T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("ts_ms", T.LongType()),
                T.StructField("value", T.DoubleType()),
            ]
        ),
        num_primary_keys=2,
        update_mode=UpdateMode.OVERWRITE,
    )


def _dedup_slice(df: DataFrame) -> DataFrame:
    """One row per (user_id, event_type) per slice: latest ts, then highest
    event_id — deterministic so the oracle can mirror it."""
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts_ms"), F.desc("event_id")
    )
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select("user_id", "event_type", "ts_ms", "value")
    )


def _build_events_table(
    spark: SparkSession,
    sf_dir: str,
    segment_ms: int,
    slices_per_segment: int,
    shared: bool = True,
) -> ColumnarTable:
    key = (sf_dir, segment_ms, slices_per_segment)
    if shared and key in _CACHE:
        return _CACHE[key]
    ev = events_ms(spark, sf_dir).persist()
    width = segment_ms // slices_per_segment
    # One aggregation pass finds the non-empty slices (vs an isEmpty job per
    # slice), then one write job per SST — the write fan-out is the operator.
    slices = sorted(
        r[0] for r in ev.select(F.expr(f"(ts_ms div {width}) * {width}").alias("s"))
        .distinct()
        .collect()
    )
    root = tempfile.mkdtemp(prefix="horaedb_events_")
    table = ColumnarTable(spark, root, _events_schema(), segment_ms)

    # SST writes are independent Spark jobs — submit them concurrently so the
    # scheduler interleaves their stages (the cluster pattern for bulk
    # ingest: N writers, one table, manifest serializes metadata only).
    # File ids are pre-allocated in slice order so version precedence
    # (__seq__) follows logical time, not write-completion timing.
    ids = [table.alloc_file_id() for _ in slices]

    def write_slice(arg: tuple[int, int]):
        start, fid = arg
        end = start + width
        sl = ev.filter((F.col("ts_ms") >= start) & (F.col("ts_ms") < end))
        table.write(WriteRequest(_dedup_slice(sl), TimeRange(start, end), file_id=fid))

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(4) as pool:
        list(pool.map(write_slice, zip(slices, ids)))
    ev.unpersist()
    if shared:
        _CACHE[key] = table
    return table


# Oracle building block: latest event per (user, type) within each 15-day
# epoch-aligned segment — exactly what the segmented merge-on-read scan yields.
_SEG_15D = 15 * DAY_MS


@register(
    "storage_scan_overwrite",
    oracle=f"""
    SELECT user_id, event_type, ts_ms, value FROM (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, value,
             row_number() OVER (
               PARTITION BY user_id, event_type, epoch_ms(ts) // {_SEG_15D}
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    ORDER BY user_id, event_type
    """,
)
def storage_scan_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 composite scan: events ingested as 4 SSTs per 15-day segment; the
    merge-on-read dedup keeps the newest ``__seq__`` per (segment, PK); output
    ordered old→new segment then PK (the scan contract, storage.rs:82-84)."""
    table = _build_events_table(spark, sf_dir, _SEG_15D, 4)
    return table.scan()


@register(
    "storage_scan_predicate_projection",
    # Mirrors the engine's stage order: (1) what's physically stored is one
    # row per PK per slice (the ingest pre-dedup), (2) the scan filter runs
    # over stored rows BEFORE the merge, (3) the merge keeps the newest
    # surviving version per (segment, PK).
    oracle=f"""
    WITH stored AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, value,
             row_number() OVER (
               PARTITION BY user_id, event_type, epoch_ms(ts) // {_SEG_15D // 4}
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ), surviving AS (
      SELECT * FROM stored WHERE rn = 1 AND value > 50.0
    )
    SELECT user_id, event_type, ts_ms FROM (
      SELECT user_id, event_type, ts_ms,
             row_number() OVER (
               PARTITION BY user_id, event_type, ts_ms // {_SEG_15D}
               ORDER BY ts_ms DESC) AS rn2
      FROM surviving
    ) WHERE rn2 = 1
    ORDER BY user_id, event_type
    """,
)
def storage_scan_predicate_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+A4: residual predicate on a value column applied BEFORE the merge
    (FilterExec precedes MergeExec, read.rs:467-492) + projection with
    PK/__seq__ force-include then drop (types.rs:203-216)."""
    table = _build_events_table(spark, sf_dir, _SEG_15D, 4)
    return table.scan(
        ScanRequest(predicate="value > 50.0", projections=["user_id", "event_type", "ts_ms"])
    )


@register(
    "storage_time_range_scan",
    oracle=f"""
    SELECT user_id, event_type, ts_ms, value FROM (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, value,
             row_number() OVER (
               PARTITION BY user_id, event_type, epoch_ms(ts) // {_SEG_15D}
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
      WHERE epoch_ms(ts) // {_SEG_15D} = (SELECT min(epoch_ms(ts) // {_SEG_15D}) FROM events)
    ) WHERE rn = 1
    ORDER BY user_id, event_type
    """,
)
def storage_time_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 time-range pruning: scan only the first 15-day segment; the manifest
    prunes the other segments' SSTs before any IO (manifest/mod.rs:165-172)."""
    table = _build_events_table(spark, sf_dir, _SEG_15D, 4)
    lo = min(s.time_range.start for s in table.manifest.all_ssts())
    seg = truncate_by(lo, _SEG_15D)
    return table.scan(ScanRequest(time_range=TimeRange(seg, seg + _SEG_15D)))


@register(
    "storage_compaction_scan",
    oracle=f"""
    SELECT user_id, event_type, ts_ms, value FROM (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, value,
             row_number() OVER (
               PARTITION BY user_id, event_type, epoch_ms(ts) // {_SEG_15D}
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    ORDER BY user_id, event_type
    """,
)
def storage_compaction_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1-C3: compact every segment (min 2 input SSTs), then scan. The result
    must be byte-identical to the uncompacted scan — compaction is a physical
    rewrite, not a semantic change (executor.rs:155-222)."""
    key = (sf_dir, "compacted")
    if key not in _CACHE:
        # fresh table (don't mutate the shared one), then compact to one SST/segment
        table = _build_fresh_events_table(spark, sf_dir)
        compactor = Compactor(table, SchedulerConfig(input_sst_min_num=2))
        while compactor.run_once(now_ms=0) is not None:
            pass
        _CACHE[key] = table
    return _CACHE[key].scan()


def _build_fresh_events_table(spark: SparkSession, sf_dir: str) -> ColumnarTable:
    """Unshared build for the compaction query: compaction physically deletes
    input SSTs, which must never happen under a table other queries' lazy
    plans still reference."""
    return _build_events_table(spark, sf_dir, _SEG_15D, 4, shared=False)


@register(
    "storage_append_concat",
    oracle="""
    SELECT lang, string_agg(text, '' ORDER BY source, doc_id) AS concat_text
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def storage_append_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 BytesMergeOperator: documents ingested one SST per source (sources in
    lexicographic order => increasing ``__seq__``), value = text bytes
    pre-concatenated per lang within each source (doc_id order). The append
    merge concatenates across SSTs in seq order, reproducing
    one|two|three|four -> onetwothreefour (operator.rs:150-158) on real data."""
    key = (sf_dir, "append")
    if key not in _CACHE:
        docs = load_table(spark, sf_dir, "documents").persist()
        schema = StorageSchema(
            T.StructType(
                [
                    T.StructField("lang", T.StringType()),
                    T.StructField("value", T.BinaryType()),
                ]
            ),
            num_primary_keys=1,
            update_mode=UpdateMode.APPEND,
        )
        root = tempfile.mkdtemp(prefix="horaedb_docs_")
        table = ColumnarTable(spark, root, schema, 1 << 60)
        sources = sorted(r[0] for r in docs.select("source").distinct().collect())
        for i, src in enumerate(sources):
            sl = (
                docs.filter(F.col("source") == src)
                .groupBy("lang")
                .agg(
                    F.encode(
                        F.array_join(
                            F.transform(
                                F.array_sort(
                                    F.collect_list(F.struct("doc_id", "text"))
                                ),
                                lambda s: s["text"],
                            ),
                            "",
                        ),
                        "UTF-8",
                    ).alias("value")
                )
            )
            table.write(WriteRequest(sl, TimeRange(i, i + 1)))
        docs.unpersist()
        _CACHE[key] = table
    return (
        _CACHE[key]
        .scan()
        .select("lang", F.decode("value", "UTF-8").alias("concat_text"))
        .orderBy("lang")
    )


@register(
    "storage_bulk_ingest_scan",
    oracle=f"""
    SELECT user_id, event_type, ts_ms, value FROM (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, value,
             row_number() OVER (
               PARTITION BY user_id, event_type, epoch_ms(ts) // {_SEG_15D}
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    ORDER BY user_id, event_type
    """,
)
def storage_bulk_ingest_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk-load path: the whole events table lands in ONE Spark job as one
    SST per 15-day segment (vs the per-request write path's one-SST-per-
    call), then scans through the same merge-on-read machinery. The
    cluster-scale backfill ingest (SCALING.md)."""
    key = (sf_dir, "bulk")
    if key not in _CACHE:
        ev = events_ms(spark, sf_dir)
        # one row per (pk, segment) keeps the merge deterministic for the
        # oracle (within-SST duplicate PKs tie on __seq__)
        w = Window.partitionBy(
            "user_id", "event_type", F.expr(f"(ts_ms div {_SEG_15D}) * {_SEG_15D}")
        ).orderBy(F.desc("ts_ms"), F.desc("event_id"))
        deduped = (
            ev.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .select("user_id", "event_type", "ts_ms", "value")
        )
        root = tempfile.mkdtemp(prefix="horaedb_bulk_")
        table = ColumnarTable(spark, root, _events_schema(), _SEG_15D)
        table.bulk_ingest(deduped, "ts_ms")
        _CACHE[key] = table
    return _CACHE[key].scan()


@register(
    "storage_stats_pruned_scan",
    oracle=f"""
    WITH lo AS (SELECT min(epoch_ms(ts)) AS mn FROM events)
    SELECT user_id, event_type, ts_ms, value FROM (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, value,
             row_number() OVER (
               PARTITION BY user_id, event_type, epoch_ms(ts) // {_SEG_15D}
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
      WHERE epoch_ms(ts) >=
            (SELECT (mn // {_SEG_15D}) * {_SEG_15D} + {20 * DAY_MS} FROM lo)
    ) WHERE rn = 1
    ORDER BY user_id, event_type, ts_ms
    """,
)
def storage_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-stats SST skipping (A2 generalized to value predicates): a
    plain ``ts_ms >= day 20`` predicate — no explicit time_range — lets the
    manifest's per-column (min, max) footer stats drop SSTs from the path
    list before Spark lists a single file. Because stats are per *slice*
    (sub-segment), this prunes FINER than segment time-range pruning:
    mid-segment slices that end before the cutoff are skipped too. The
    oracle sees only the filter; file-level pruning is proven in
    tests/test_storage.py."""
    table = _build_events_table(spark, sf_dir, _SEG_15D, 4)
    lo = min(s.time_range.start for s in table.manifest.all_ssts())
    cutoff = truncate_by(lo, _SEG_15D) + 20 * DAY_MS
    df = table.scan(ScanRequest(predicate=f"ts_ms >= {cutoff}"))
    return df.orderBy("user_id", "event_type", "ts_ms")


_ROLLUP_CACHE: dict[str, ColumnarTable] = {}


@register(
    "storage_continuous_rollup",
    oracle=f"""
    WITH stored AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, value,
             row_number() OVER (
               PARTITION BY user_id, event_type, epoch_ms(ts) // {_SEG_15D}
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_type, ts_ms - ts_ms % {DAY_MS} AS day_ms,
           count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 6)
             AS sum_value
    FROM stored WHERE rn = 1
    GROUP BY 1, 2, 3 ORDER BY user_id, event_type, day_ms
    """,
)
def storage_continuous_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate (the hypertable rollup): the raw merge-on-read
    table downsamples into a DAILY rollup ColumnarTable — scan raw ->
    aggregate -> bulk_ingest into a second PK table (PK = user, type, day)
    -> serve queries from the rollup. The materialization is one Spark job
    per refresh (bulk_ingest writes one SST per segment in a single pass);
    at 100 TB the rollup is the table dashboards actually hit, ~10^3x
    smaller than raw. The oracle aggregates the raw semantics directly —
    rollup maintenance must be lossless."""
    key = f"rollup:{sf_dir}"
    if key not in _ROLLUP_CACHE:
        raw = _build_events_table(spark, sf_dir, _SEG_15D, 4)
        daily = (
            raw.scan(ScanRequest(ordered=False))
            .groupBy(
                "user_id",
                "event_type",
                (F.col("ts_ms") - F.pmod(F.col("ts_ms"), F.lit(DAY_MS))).alias(
                    "day_ms"
                ),
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(F.col("value").cast("decimal(30,10)")).cast("double"), 6
                ).alias("sum_value"),
            )
        )
        schema = StorageSchema(
            T.StructType(
                [
                    T.StructField("user_id", T.LongType()),
                    T.StructField("event_type", T.StringType()),
                    T.StructField("day_ms", T.LongType()),
                    T.StructField("n", T.LongType()),
                    T.StructField("sum_value", T.DoubleType()),
                ]
            ),
            num_primary_keys=3,
            update_mode=UpdateMode.OVERWRITE,
        )
        root = tempfile.mkdtemp(prefix="horaedb_rollup_")
        rollup = ColumnarTable(spark, root, schema, _SEG_15D)
        rollup.bulk_ingest(daily, "day_ms")
        _ROLLUP_CACHE[key] = rollup
    out = _ROLLUP_CACHE[key].scan(ScanRequest(ordered=False))
    return out.orderBy("user_id", "event_type", "day_ms")


@register(
    "storage_incremental_rollup",
    oracle=f"""
    SELECT event_type, epoch_ms(ts) - epoch_ms(ts) % {DAY_MS} AS day_ms,
           count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 6)
             AS sum_value
    FROM events
    GROUP BY 1, 2 ORDER BY event_type, day_ms
    """,
)
def storage_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invalidation-based INCREMENTAL rollup maintenance (storage/rollup.py):
    phase-1 ingest (early data minus a held-back "late" slice) -> refresh ->
    phase-2 ingest (the tail PLUS the late early rows) -> refresh. The
    second refresh discovers invalidated day-buckets from new-SST manifest
    metadata only and recomputes just those intervals — including the OLD
    days the late rows landed in — then serves from the rollup. Must equal
    the full aggregate over all events (the oracle): incremental maintenance
    is only correct if it is indistinguishable from a rebuild."""
    key = f"inc_rollup:{sf_dir}"
    if key in _CACHE:
        rollup = _CACHE[key]
    else:
        from horaedb_spark.storage.rollup import ContinuousRollup

        ev = events_ms(spark, sf_dir).select(
            "event_id", "ts_ms", "event_type", "value"
        ).persist()
        lo, hi = ev.agg(F.min("ts_ms"), F.max("ts_ms")).first()
        cutoff = truncate_by(lo + int((hi - lo) * 0.7), DAY_MS)
        late = F.pmod(F.col("event_id"), F.lit(11)) == 5
        early = F.col("ts_ms") < cutoff

        raw_schema = StorageSchema(
            T.StructType(
                [
                    T.StructField("event_id", T.LongType()),
                    T.StructField("ts_ms", T.LongType()),
                    T.StructField("event_type", T.StringType()),
                    T.StructField("value", T.DoubleType()),
                ]
            ),
            num_primary_keys=1,  # event_id: unique -> idempotent re-ingest
            update_mode=UpdateMode.OVERWRITE,
        )
        roll_schema = StorageSchema(
            T.StructType(
                [
                    T.StructField("event_type", T.StringType()),
                    T.StructField("day_ms", T.LongType()),
                    T.StructField("n", T.LongType()),
                    T.StructField("sum_value", T.DoubleType()),
                ]
            ),
            num_primary_keys=2,
            update_mode=UpdateMode.OVERWRITE,
        )
        raw = ColumnarTable(
            spark, tempfile.mkdtemp(prefix="horaedb_incraw_") + "/t",
            raw_schema, _SEG_15D,
        )
        roll = ColumnarTable(
            spark, tempfile.mkdtemp(prefix="horaedb_incroll_") + "/t",
            roll_schema, _SEG_15D,
        )

        def daily(df: DataFrame) -> DataFrame:
            return df.groupBy(
                "event_type",
                (F.col("ts_ms") - F.pmod("ts_ms", F.lit(DAY_MS))).alias("day_ms"),
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(F.col("value").cast("decimal(30,10)")).cast("double"), 6
                ).alias("sum_value"),
            )

        rollup = ContinuousRollup(raw, roll, "ts_ms", "day_ms", DAY_MS, daily)
        raw.bulk_ingest(ev.filter(early & ~late), "ts_ms")
        rollup.refresh()
        raw.bulk_ingest(ev.filter(~early | (early & late)), "ts_ms")
        stats = rollup.refresh()
        assert stats.delta_ssts > 0 and stats.refreshed_rows > 0
        # a third refresh with no new SSTs must be a metadata-only no-op
        assert rollup.refresh().delta_ssts == 0
        ev.unpersist()
        _CACHE[key] = rollup
    return (
        rollup.serve()
        .select("event_type", "day_ms", "n", "sum_value")
        .orderBy("event_type", "day_ms")
    )


@register(
    "storage_zorder_scan",
    oracle="""
    SELECT user_id, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS id_checksum,
           round(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 6)
             AS sum_value
    FROM events WHERE user_id <= 30 AND value >= 250
    GROUP BY user_id ORDER BY user_id
    """,
)
def storage_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ordered bulk load + two-dimensional stats-pruned scan: events land
    curve-sliced on (user_id, value), so the selective predicate prunes
    whole SSTs on BOTH columns via manifest col_stats before Spark lists a
    path (functions/layout.py; the Delta/Iceberg OPTIMIZE ZORDER technique
    on this engine's primitives). The merged result must equal the plain
    filtered aggregate — layout must never change answers."""
    key = f"zorder:{sf_dir}"
    if key not in _CACHE:
        ev = events_ms(spark, sf_dir).select(
            "event_id", "ts_ms", "user_id", "value"
        )
        schema = StorageSchema(
            T.StructType(
                [
                    T.StructField("event_id", T.LongType()),
                    T.StructField("ts_ms", T.LongType()),
                    T.StructField("user_id", T.LongType()),
                    T.StructField("value", T.DoubleType()),
                ]
            ),
            num_primary_keys=1,
            update_mode=UpdateMode.OVERWRITE,
        )
        table = ColumnarTable(
            spark, tempfile.mkdtemp(prefix="horaedb_zorder_") + "/t",
            schema, _SEG_15D,
        )
        table.bulk_ingest(ev, "ts_ms", cluster_by=["user_id", "value"],
                          cluster_slices=8)
        _CACHE[key] = table
    out = _CACHE[key].scan(
        ScanRequest(predicate="user_id <= 30 AND value >= 250", ordered=False)
    )
    return (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").cast("long").alias("id_checksum"),
            F.round(
                F.sum(F.col("value").cast("decimal(30,10)")).cast("double"), 6
            ).alias("sum_value"),
        )
        .orderBy("user_id")
    )


@register(
    "storage_retention_downsample",
    oracle=f"""
    SELECT event_type,
           epoch_ms(ts) - epoch_ms(ts) % {DAY_MS} AS day_ms,
           count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 6)
             AS sum_value
    FROM events
    GROUP BY 1, 2 ORDER BY event_type, day_ms
    """,
)
def storage_retention_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The observability retention pattern end-to-end: raw events roll up
    daily, then a TTL compaction pass EXPIRES every raw SST — and the
    rollup must still serve the FULL history (the oracle aggregates the
    original events, which the raw table no longer holds). Raw keeps days;
    rollups keep years; queries older than raw retention transparently come
    from the rollup."""
    key = f"retention:{sf_dir}"
    if key in _CACHE:
        rollup = _CACHE[key]
    else:
        from horaedb_spark.storage.rollup import ContinuousRollup

        DAY = DAY_MS
        ev = events_ms(spark, sf_dir).select(
            "event_id", "ts_ms", "event_type", "value"
        )
        raw = ColumnarTable(
            spark, tempfile.mkdtemp(prefix="horaedb_ret_raw_") + "/t",
            StorageSchema(
                T.StructType(
                    [
                        T.StructField("event_id", T.LongType()),
                        T.StructField("ts_ms", T.LongType()),
                        T.StructField("event_type", T.StringType()),
                        T.StructField("value", T.DoubleType()),
                    ]
                ),
                num_primary_keys=1,
                update_mode=UpdateMode.OVERWRITE,
            ),
            _SEG_15D,
        )
        roll = ColumnarTable(
            spark, tempfile.mkdtemp(prefix="horaedb_ret_roll_") + "/t",
            StorageSchema(
                T.StructType(
                    [
                        T.StructField("event_type", T.StringType()),
                        T.StructField("day_ms", T.LongType()),
                        T.StructField("n", T.LongType()),
                        T.StructField("sum_value", T.DoubleType()),
                    ]
                ),
                num_primary_keys=2,
                update_mode=UpdateMode.OVERWRITE,
            ),
            _SEG_15D,
        )

        def daily(df: DataFrame) -> DataFrame:
            return df.groupBy(
                "event_type",
                (F.col("ts_ms") - F.pmod("ts_ms", F.lit(DAY))).alias("day_ms"),
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(F.col("value").cast("decimal(30,10)")).cast("double"), 6
                ).alias("sum_value"),
            )

        rollup = ContinuousRollup(raw, roll, "ts_ms", "day_ms", DAY, daily)
        raw.bulk_ingest(ev, "ts_ms")
        rollup.refresh()
        # TTL pass: expire EVERYTHING in raw (retention := 1ms before "now"
        # = just past the data's max ts). Loop: each run_once processes one
        # picked task; with no merge candidates (min_num high) only expiry
        # remains — run until the manifest is empty.
        hi = ev.agg(F.max("ts_ms")).first()[0]
        comp = Compactor(raw, SchedulerConfig(input_sst_min_num=999, ttl_ms=1))
        for _ in range(64):
            if not raw.manifest.all_ssts():
                break
            comp.run_once(now_ms=hi + _SEG_15D)
        assert raw.manifest.all_ssts() == [], "raw retention must have expired"
        assert raw.scan(ScanRequest(ordered=False)).count() == 0
        _CACHE[key] = rollup
    return (
        rollup.serve()
        .select("event_type", "day_ms", "n", "sum_value")
        .orderBy("event_type", "day_ms")
    )


@register(
    "storage_snapshot_diff",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, value, event_id
      FROM events
    ), sl AS (
      SELECT DISTINCT (ts_ms // {_SEG_15D // 4}) * {_SEG_15D // 4} AS s FROM ev
    ), cut AS (
      SELECT max(s) + {_SEG_15D // 4} AS c FROM (
        SELECT s, row_number() OVER (ORDER BY s) AS rn, count(*) OVER () AS n
        FROM sl
      ) WHERE rn <= n // 2
    ), ma AS (
      SELECT * FROM (
        SELECT user_id, event_type, ts_ms, value, ts_ms // {_SEG_15D} AS seg,
               row_number() OVER (
                 PARTITION BY user_id, event_type, ts_ms // {_SEG_15D}
                 ORDER BY ts_ms DESC, event_id DESC) AS rn
        FROM ev, cut WHERE ev.ts_ms < cut.c
      ) WHERE rn = 1
    ), mb AS (
      SELECT * FROM (
        SELECT user_id, event_type, ts_ms, value, ts_ms // {_SEG_15D} AS seg,
               row_number() OVER (
                 PARTITION BY user_id, event_type, ts_ms // {_SEG_15D}
                 ORDER BY ts_ms DESC, event_id DESC) AS rn
        FROM ev
      ) WHERE rn = 1
    ), diff AS (
      SELECT b.user_id, b.ts_ms,
             CASE WHEN a.user_id IS NULL THEN 'added'
                  WHEN a.ts_ms != b.ts_ms OR a.value != b.value THEN 'updated'
             END AS change_type
      FROM mb b LEFT JOIN ma a
        ON a.seg = b.seg AND a.user_id = b.user_id AND a.event_type = b.event_type
    )
    SELECT change_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(user_id) AS BIGINT) AS id_checksum,
           CAST(sum(ts_ms) AS BIGINT) AS ts_checksum
    FROM diff WHERE change_type IS NOT NULL
    GROUP BY change_type ORDER BY change_type
    """,
)
def storage_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MVCC time travel as a DIFF: scan the table as-of the mid-ingest
    sequence (the first half of its SSTs) and against head, then classify
    every head row per (segment, PK) as added (key absent at the snapshot)
    or updated (version advanced). Both scans are ordinary manifest-filtered
    merge-on-read reads — time travel costs a metadata filter, never a data
    rewrite — and the diff is one co-keyed left join of the two merged
    views. The change-set checksums pin exact membership."""
    table = _build_events_table(spark, sf_dir, _SEG_15D, 4)
    seqs = sorted(s.file_id for s in table.manifest.all_ssts())
    as_of = seqs[len(seqs) // 2 - 1]
    cols = ["user_id", "event_type", "ts_ms", "value"]

    def merged(req: ScanRequest) -> DataFrame:
        # every row's segment is the one containing its timestamp (the write
        # path guarantees it), so the diff key derives from ts_ms directly
        return table.scan(req).select(
            F.expr(f"ts_ms div {_SEG_15D}").alias("seg"), *cols
        )

    a = merged(ScanRequest(ordered=False, as_of_seq=as_of))
    b = merged(ScanRequest(ordered=False))
    a = a.select("seg", "user_id", "event_type",
                 F.col("ts_ms").alias("a_ts"), F.col("value").alias("a_v"))
    diff = b.join(a, ["seg", "user_id", "event_type"], "left").withColumn(
        "change_type",
        F.when(F.col("a_ts").isNull(), F.lit("added")).when(
            (F.col("a_ts") != F.col("ts_ms")) | (F.col("a_v") != F.col("value")),
            F.lit("updated"),
        ),
    )
    return (
        diff.filter(F.col("change_type").isNotNull())
        .groupBy("change_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("user_id").cast("long").alias("id_checksum"),
            F.sum("ts_ms").cast("long").alias("ts_checksum"),
        )
        .orderBy("change_type")
    )


_INDEX_CACHE: dict[str, "SecondaryIndex"] = {}


@register(
    "storage_secondary_index_scan",
    oracle=f"""
    SELECT user_id, event_type, ts_ms, value FROM (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, value,
             row_number() OVER (
               PARTITION BY user_id, event_type, epoch_ms(ts) // {_SEG_15D}
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1 AND event_type = 'purchase'
    ORDER BY user_id, ts_ms
    """,
)
def storage_secondary_index_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary inverted index (storage/index.py — the RFC's index-table
    design generalized from the metric layer to any PK column): a persisted
    posting list ``event_type -> SST file ids`` built in one distributed
    pass, consulted before the scan so the point lookup reads only SSTs
    containing the value. On uniformly distributed testdata every slice
    holds every type (no files drop here — tests/test_storage.py proves the
    pruning on a sparse fixture); what this query pins is SOUNDNESS: the
    index-pruned merge-on-read result must equal the plain filtered merge.
    """
    from horaedb_spark.storage.index import SecondaryIndex

    table = _build_events_table(spark, sf_dir, _SEG_15D, 4)
    key = f"etype:{sf_dir}"
    if key not in _INDEX_CACHE:
        idx = SecondaryIndex(table, "event_type")
        idx.build()
        _INDEX_CACHE[key] = idx
    df = _INDEX_CACHE[key].scan_eq("purchase", ScanRequest(ordered=False))
    return df.select("user_id", "event_type", "ts_ms", "value").orderBy(
        "user_id", "ts_ms"
    )


_DELETED_TABLES: dict[str, ColumnarTable] = {}


@register(
    "storage_delete_scan",
    oracle=f"""
    SELECT user_id, event_type, ts_ms, value FROM (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, value,
             row_number() OVER (
               PARTITION BY user_id, event_type, epoch_ms(ts) // {_SEG_15D}
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1 AND NOT (event_type = 'click' AND value < 50.0)
    ORDER BY user_id, event_type, ts_ms
    """,
)
def storage_delete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE (LSM tombstones): ``DELETE WHERE event_type='click'
    AND value < 50`` against the merged current state, then a normal scan.
    The delete is one Spark job writing kilobyte-sized tombstone SSTs (PKs +
    NULL values, ``__reserved__`` marker, winning ``__seq__``) — no data
    rewrite, which is the only delete shape that works on a 100 TB table.
    Scans drop tombstone winners post-merge; the first full-segment
    compaction garbage-collects them (tests/test_delete.py pins partial vs
    full GC). The reference has no row-delete surface — extension documented
    in DIVERGENCES.md."""
    key = f"{sf_dir}:deleted"
    if key not in _DELETED_TABLES:
        table = _build_events_table(spark, sf_dir, _SEG_15D, 4, shared=False)
        table.delete("event_type = 'click' AND value < 50.0")
        _DELETED_TABLES[key] = table
    return (
        _DELETED_TABLES[key]
        .scan()
        .orderBy("user_id", "event_type", "ts_ms")
    )


_PL_CACHE: dict[str, ColumnarTable] = {}


def _build_point_lookup_table(spark: SparkSession, sf_dir: str) -> ColumnarTable:
    """Events pre-deduped to one row per (PK, segment), bulk-loaded
    range-clustered on user_id with PK bloom filters — the layout a 100 TB
    deployment uses for point lookups."""
    if sf_dir in _PL_CACHE:
        return _PL_CACHE[sf_dir]
    from horaedb_spark.storage.table import WriteConfig

    ev = events_ms(spark, sf_dir)
    w = Window.partitionBy(
        "user_id", "event_type", F.expr(f"ts_ms div {_SEG_15D}")
    ).orderBy(F.desc("ts_ms"), F.desc("event_id"))
    one_per_pk_seg = (
        ev.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select("user_id", "event_type", "ts_ms", "value")
    )
    root = tempfile.mkdtemp(prefix="horaedb_ptlkp_")
    table = ColumnarTable(
        spark,
        root,
        _events_schema(),
        _SEG_15D,
        write_config=WriteConfig(bloom_filter_columns=("user_id", "event_type")),
    )
    table.bulk_ingest(one_per_pk_seg, "ts_ms", cluster_by=["user_id"])
    _PL_CACHE[sf_dir] = table
    return table


@register(
    "storage_point_lookup",
    oracle=f"""
    SELECT user_id, event_type, ts_ms, value FROM (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, value,
             row_number() OVER (
               PARTITION BY user_id, event_type, epoch_ms(ts) // {_SEG_15D}
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE user_id = 42
    ) WHERE rn = 1
    ORDER BY event_type, ts_ms
    """,
)
def storage_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PK point lookup on a range-clustered, bloom-filtered table — the
    "fetch one series" read that dominates TSDB workloads. Three pruning
    layers stack: (1) manifest column-stats skip SSTs whose user_id range
    excludes the key (the table is bulk-loaded clustered on user_id, so
    most files drop before Spark lists a path), (2) parquet bloom filters
    on the PK columns skip row groups inside surviving files
    (WriteConfig parity, config.rs:120-133), (3) ordinary row-group
    min/max pruning. Plan-asserted: the scan reads strictly fewer files
    than the table holds (tests/test_plans.py)."""
    table = _build_point_lookup_table(spark, sf_dir)
    return table.scan(
        ScanRequest(predicate="user_id = 42")
    ).orderBy("event_type", "ts_ms")


_UPDATED_TABLES: dict[str, ColumnarTable] = {}


@register(
    "storage_update_scan",
    oracle=f"""
    SELECT user_id, event_type, ts_ms,
           CASE WHEN event_type = 'error' THEN value * 2 ELSE value END AS value
    FROM (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, value,
             row_number() OVER (
               PARTITION BY user_id, event_type, epoch_ms(ts) // {_SEG_15D}
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    ORDER BY user_id, event_type, ts_ms
    """,
)
def storage_update_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level UPDATE (new-version rewrite): ``UPDATE SET value = value*2
    WHERE event_type='error'`` against the merged current state, then a
    normal scan. The update writes one per-segment SST holding ONLY the
    touched rows with a winning ``__seq__`` — the untouched data is never
    rewritten, which with delete/write/bulk_ingest completes the DML
    surface (tests/test_delete.py pins as-of time travel across updates).
    Extension over the reference, documented in DIVERGENCES.md."""
    key = f"{sf_dir}:updated"
    if key not in _UPDATED_TABLES:
        table = _build_events_table(spark, sf_dir, _SEG_15D, 4, shared=False)
        table.update("event_type = 'error'", {"value": "value * 2"})
        _UPDATED_TABLES[key] = table
    return (
        _UPDATED_TABLES[key]
        .scan()
        .orderBy("user_id", "event_type", "ts_ms")
    )


@register(
    "storage_rollup_cascade",
    # milli-quantized sums keep the cascade EXACT: level-2 sums level-1
    # integer partials, so cascaded == direct (stddv_over_time-style
    # quantization divergence, documented)
    oracle=f"""
    SELECT event_type,
           epoch_ms(ts) - epoch_ms(ts) % {DAY_MS} AS day_ms,
           count(*) AS n,
           round(CAST(sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 1000.0, 6) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def storage_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-RESOLUTION rollup cascade (the hypertable pattern): raw →
    6-hour continuous rollup → daily continuous rollup MAINTAINED FROM THE
    6-HOUR ONE. Both levels refresh incrementally off manifest metadata;
    writing new raw segments invalidates 6 h buckets, whose rollup SSTs in
    turn invalidate day buckets — the refresh cost at every level is
    proportional to invalidated data, never history, and the daily level
    never rescans raw at all. Level-1 sums are exact int64 milli-units so
    the cascade is bit-lossless (sum-of-partials == direct aggregate, the
    oracle). Two-phase ingest exercises the propagation."""
    key = f"cascade:{sf_dir}"
    if key in _CACHE:
        l2 = _CACHE[key]
    else:
        from horaedb_spark.storage.rollup import ContinuousRollup

        ev = events_ms(spark, sf_dir).select(
            "event_id", "ts_ms", "event_type", "value"
        ).persist()
        lo, hi = ev.agg(F.min("ts_ms"), F.max("ts_ms")).first()
        cutoff = truncate_by(lo + int((hi - lo) * 0.6), DAY_MS)
        H6 = 6 * 3_600_000

        raw_schema = StorageSchema(
            T.StructType(
                [
                    T.StructField("event_id", T.LongType()),
                    T.StructField("ts_ms", T.LongType()),
                    T.StructField("event_type", T.StringType()),
                    T.StructField("value", T.DoubleType()),
                ]
            ),
            num_primary_keys=1,
            update_mode=UpdateMode.OVERWRITE,
        )

        def _lvl_schema(bucket_col: str) -> StorageSchema:
            return StorageSchema(
                T.StructType(
                    [
                        T.StructField("event_type", T.StringType()),
                        T.StructField(bucket_col, T.LongType()),
                        T.StructField("n", T.LongType()),
                        T.StructField("sum_milli", T.LongType()),
                    ]
                ),
                num_primary_keys=2,
                update_mode=UpdateMode.OVERWRITE,
            )

        raw = ColumnarTable(
            spark, tempfile.mkdtemp(prefix="horaedb_cascraw_") + "/t",
            raw_schema, _SEG_15D,
        )
        r6 = ColumnarTable(
            spark, tempfile.mkdtemp(prefix="horaedb_casc6h_") + "/t",
            _lvl_schema("b6_ms"), _SEG_15D,
        )
        r1d = ColumnarTable(
            spark, tempfile.mkdtemp(prefix="horaedb_casc1d_") + "/t",
            _lvl_schema("day_ms"), _SEG_15D,
        )

        def agg6(df: DataFrame) -> DataFrame:
            return df.groupBy(
                "event_type",
                (F.col("ts_ms") - F.pmod("ts_ms", F.lit(H6))).alias("b6_ms"),
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.floor(F.col("value") * 1000 + 0.5).cast("long"))
                .cast("long")
                .alias("sum_milli"),
            )

        def agg1d(df: DataFrame) -> DataFrame:
            # input rows are LEVEL-1 rollup rows — sums of partials, no raw
            return df.groupBy(
                "event_type",
                (F.col("b6_ms") - F.pmod("b6_ms", F.lit(DAY_MS))).alias("day_ms"),
            ).agg(
                F.sum("n").cast("long").alias("n"),
                F.sum("sum_milli").cast("long").alias("sum_milli"),
            )

        l1 = ContinuousRollup(raw, r6, "ts_ms", "b6_ms", H6, agg6)
        l2 = ContinuousRollup(r6, r1d, "b6_ms", "day_ms", DAY_MS, agg1d)

        raw.bulk_ingest(ev.filter(F.col("ts_ms") < cutoff), "ts_ms")
        l1.refresh()
        l2.refresh()
        raw.bulk_ingest(ev.filter(F.col("ts_ms") >= cutoff), "ts_ms")
        s1 = l1.refresh()
        s2 = l2.refresh()
        assert s1.delta_ssts > 0 and s2.delta_ssts > 0
        assert l2.refresh().delta_ssts == 0  # cascade quiesces
        ev.unpersist()
        _CACHE[key] = l2
    return (
        l2.serve()
        .select(
            "event_type",
            "day_ms",
            "n",
            F.round(F.col("sum_milli").cast("double") / 1000.0, 6).alias(
                "sum_value"
            ),
        )
        .orderBy("event_type", "day_ms")
    )


_MERGED_TABLES: dict[str, ColumnarTable] = {}


@register(
    "storage_merge_into_scan",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_type, ts_ms, value FROM (
        SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, value,
               row_number() OVER (
                 PARTITION BY user_id, event_type, epoch_ms(ts) // {_SEG_15D}
                 ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    )
    SELECT user_id, event_type, ts_ms,
           CASE WHEN event_type = 'click' AND user_id < 30
                THEN value + 100 ELSE value END AS value
    FROM base
    WHERE NOT (event_type = 'click' AND user_id >= 30 AND user_id < 40)
    UNION ALL
    SELECT 10000 + i, 'click', 1704067200000, 42.0
    FROM (SELECT unnest(generate_series(0, 4)) AS i)
    ORDER BY user_id, event_type, ts_ms
    """,
)
def storage_merge_into_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert-with-conditions): one source batch updates the
    click rows of users <30 (`value = cur_value + 100` — current columns
    visible in the clause), deletes the click rows of users 30-39, and
    inserts five brand-new users — in ONE staged write mixing new versions
    and tombstones with per-row markers. The scan after the merge must
    equal the oracle's hand-applied semantics over the segment-latest
    state."""
    key = f"{sf_dir}:merged"
    if key not in _MERGED_TABLES:
        table = _build_events_table(spark, sf_dir, _SEG_15D, 4, shared=False)
        # source: the CURRENT click rows of users <40 (their own ts keeps
        # them in their segment) + 5 synthetic new users
        cur = table.scan(ScanRequest(predicate="event_type = 'click'"))
        src = cur.filter(F.col("user_id") < 40).select(
            "user_id", "event_type", "ts_ms", "value"
        )
        inserts = spark.range(5).select(
            (F.col("id") + 10000).alias("user_id"),
            F.lit("click").alias("event_type"),
            F.lit(1704067200000).alias("ts_ms"),
            F.lit(42.0).alias("value"),
        )
        table.merge_into(
            src.unionByName(inserts),
            "ts_ms",
            when_matched_update={"value": "cur_value + 100"},
            when_matched_delete="user_id >= 30 AND user_id < 40",
        )
        _MERGED_TABLES[key] = table
    return (
        _MERGED_TABLES[key].scan().orderBy("user_id", "event_type", "ts_ms")
    )


_EVOLVED_TABLES: dict[str, ColumnarTable] = {}


@register(
    "storage_schema_evolution_scan",
    oracle=f"""
    SELECT user_id, event_type, ts_ms, value,
           CASE WHEN ts_ms >= 1705276800000
                THEN 'v2:' || event_type END AS note
    FROM (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, value,
             row_number() OVER (
               PARTITION BY user_id, event_type, epoch_ms(ts) // {_SEG_15D}
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    ORDER BY user_id, event_type, ts_ms
    """,
)
def storage_schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online schema evolution under the oracle gate (A12+): ingest phase 1,
    ALTER TABLE ADD COLUMN note (nullable, zero rewrite), ingest phase 2
    with the column populated — the scan surfaces NULL for every pre-
    evolution SST and the real values for post-evolution rows, merged
    across both generations. The 100 TB property: the old petabytes are
    never touched; the explicit read schema projects the new column as
    NULL out of old files."""
    key = f"{sf_dir}:evolved"
    if key not in _EVOLVED_TABLES:
        cutoff = 1_705_276_800_000  # day 14 — mid-month phase split
        ev = events_ms(spark, sf_dir)
        w = Window.partitionBy(
            "user_id", "event_type", F.expr(f"ts_ms div {_SEG_15D}")
        ).orderBy(F.desc("ts_ms"), F.desc("event_id"))

        def dedup(df):
            return (
                df.withColumn("__rn__", F.row_number().over(w))
                .filter(F.col("__rn__") == 1)
            )

        table = ColumnarTable(
            spark, tempfile.mkdtemp(prefix="horaedb_evo_") + "/t",
            _events_schema(), _SEG_15D,
        )
        p1 = dedup(ev.filter(F.col("ts_ms") < cutoff)).select(
            "user_id", "event_type", "ts_ms", "value"
        )
        table.bulk_ingest(p1, "ts_ms")
        table.evolve_schema([T.StructField("note", T.StringType())])
        p2 = dedup(ev.filter(F.col("ts_ms") >= cutoff)).select(
            "user_id",
            "event_type",
            "ts_ms",
            "value",
            F.concat(F.lit("v2:"), F.col("event_type")).alias("note"),
        )
        table.bulk_ingest(p2, "ts_ms")
        _EVOLVED_TABLES[key] = table
    return (
        _EVOLVED_TABLES[key].scan().orderBy("user_id", "event_type", "ts_ms")
    )


@register(
    "storage_bucketed_scan",
    oracle=f"""
    SELECT user_id, count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE), 6)
             AS sum_value,
           max(ts_ms) AS last_ts
    FROM (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, value,
             row_number() OVER (
               PARTITION BY user_id, event_type, epoch_ms(ts) // {_SEG_15D}
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    GROUP BY user_id ORDER BY user_id
    """,
)
def storage_bucketed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opt-in bucketed table property (storage/bucketed.py): the same
    merge-on-read state as ``storage_scan_overwrite``, but SERVED from the
    maintained bucketed catalog mirror — hash-bucketed on user_id, so this
    per-user aggregation (and any join on user_id) runs WITHOUT exchanging
    the fact side; the layout must never change answers (the oracle is the
    plain deduped aggregate). Incremental maintenance and the no-exchange
    plan property are pinned in tests/test_bucketing.py."""
    key = (sf_dir, "bucketed")
    if key not in _CACHE:
        from horaedb_spark.storage.bucketed import BucketSpec

        base = _build_events_table(spark, sf_dir, _SEG_15D, 4)
        # same SSTs, bucketed serving layer on top
        table = ColumnarTable(
            spark, base.root, _events_schema(), _SEG_15D,
            bucket_spec=BucketSpec(8, ("user_id",)),
        )
        table.refresh_bucketed()
        _CACHE[key] = table
    out = _CACHE[key].bucketed_scan()
    return (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(30,10)")).cast("double"), 6
            ).alias("sum_value"),
            F.max("ts_ms").alias("last_ts"),
        )
        .orderBy("user_id")
    )
