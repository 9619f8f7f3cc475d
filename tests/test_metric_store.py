"""MetricStore: the metric layer persisted on ColumnarTables (RFC:102-138 —
each metric table is an instance of the generic columnar storage)."""

import logging

import pytest
from pyspark.sql import functions as F

from horaedb_spark.core.timeutil import TimeRange
from horaedb_spark.metric.engine import Matcher
from horaedb_spark.metric.store import MetricStore
from horaedb_spark.storage.table import ScanRequest

HOUR = 3600 * 1000


def _samples(spark, rows):
    # rows: (name, {labels}, ts_ms, value, seq)
    return spark.createDataFrame(
        rows, "name string, labels map<string,string>, ts_ms long, value double, seq long"
    )


def _catalog_ssts(store):
    return {
        "metrics": len(store.metrics.manifest.all_ssts()),
        "index": len(store.index.manifest.all_ssts()),
        "series": len(store.series.manifest.all_ssts()),
    }


def _ingest_logged(store, frame, caplog):
    """Ingest and return the store's one log record for it."""
    caplog.clear()
    with caplog.at_level(logging.DEBUG, logger="horaedb_spark.metric.store"):
        store.ingest(frame)
    recs = [r for r in caplog.records if hasattr(r, "metric_ingest")]
    assert len(recs) == 1, caplog.records
    return recs[0].metric_ingest


def test_ingest_and_query_round_trip(spark, tmp_path):
    store = MetricStore(spark, str(tmp_path / "ms"), HOUR)
    store.ingest(
        _samples(
            spark,
            [
                ("cpu", {"host": "a"}, 1000, 1.0, 1),
                ("cpu", {"host": "b"}, 1000, 2.0, 1),
                ("mem", {"host": "a"}, 2000, 3.0, 1),
            ],
        )
    )
    eng = store.engine()
    assert {r.tag_value for r in eng.label_values("cpu", "host").collect()} == {"a", "b"}
    out = eng.select_series("cpu", [Matcher("host", "=", "a")])
    assert [(r.ts_ms, r.value) for r in out.collect()] == [(1000, 1.0)]


def test_reingest_is_idempotent_and_d10_dedup(spark, tmp_path):
    store = MetricStore(spark, str(tmp_path / "ms2"), HOUR)
    batch = [("cpu", {"host": "a"}, 1000, 1.0, 1)]
    store.ingest(_samples(spark, batch))
    # second batch: same series, same ts, new value -> max seq (later file) wins
    store.ingest(_samples(spark, [("cpu", {"host": "a"}, 1000, 9.0, 2)]))
    eng = store.engine()
    rows = eng.select_series("cpu", with_labels=False).collect()
    assert [(r.ts_ms, r.value) for r in rows] == [(1000, 9.0)]
    # catalogs did not duplicate, and the known series wrote no catalog SST
    assert eng.series.count() == 1
    assert eng.index.count() == 1
    assert eng.metrics.count() == 1
    assert _catalog_ssts(store) == {"metrics": 1, "index": 1, "series": 1}
    assert len(store.data.manifest.all_ssts()) == 2


def test_time_partitioned_data_prunes(spark, tmp_path):
    store = MetricStore(spark, str(tmp_path / "ms3"), HOUR)
    store.ingest(
        _samples(
            spark,
            [
                ("cpu", {"h": "a"}, 1000, 1.0, 1),          # segment 0
                ("cpu", {"h": "a"}, HOUR + 1000, 2.0, 1),   # segment 1
            ],
        )
    )
    assert len(store.data.manifest.all_ssts()) == 2
    eng = store.engine(TimeRange(0, HOUR))
    rows = eng.select_series("cpu", with_labels=False).collect()
    assert [(r.ts_ms, r.value) for r in rows] == [(1000, 1.0)]
    # pruning happened at the manifest
    assert len(store.data.manifest.find_ssts(TimeRange(0, HOUR))) == 1


def test_store_recovery(spark, tmp_path):
    root = str(tmp_path / "ms4")
    store = MetricStore(spark, root, HOUR)
    store.ingest(_samples(spark, [("cpu", {"h": "a"}, 1000, 1.0, 1)]))
    # reopen from disk: manifests replay, data intact
    store2 = MetricStore(spark, root, HOUR)
    eng = store2.engine()
    assert eng.data.count() == 1
    assert eng.label_values("cpu", "h").count() == 1


def test_packed_data_table_round_trip(spark, tmp_path):
    """RFC 20240827:218-231 packed layout: pack-on-compaction, explicit
    ts_min/ts_max stats, unpack-on-scan identical to row-per-sample."""
    store = MetricStore(spark, str(tmp_path / "mp"), HOUR, pack_ms=30 * 60_000)
    # 1 series, 12 samples over 2 pack windows + a second series
    rows = [("cpu", {"host": "a"}, i * 300_000, float(i), 1) for i in range(12)]
    rows += [("cpu", {"host": "b"}, 600_000, 42.0, 1)]
    store.ingest(_samples(spark, rows))
    store.compact_to_packed()
    packed = store.packed_data.scan().collect()
    # host=a packs into 2 windows (0, 1800000); host=b into 1 -> 3 rows < 13
    assert len(packed) == 3
    by_key = {(r.tsid, r.pack_start_ms): r for r in packed}
    a2 = [r for r in packed if r.n_points == 6]
    assert len(a2) == 2  # host=a windows carry 6 points each
    for r in packed:
        pts = [p.ts_ms for p in r.points]
        assert pts == sorted(pts)
        assert r.ts_min == pts[0] and r.ts_max == pts[-1]
    # unpack == row-per-sample scan, exactly
    from horaedb_spark.storage.table import ScanRequest

    flat = store.data.scan(ScanRequest(ordered=False))
    unp = store.packed_scan()
    assert sorted(map(tuple, unp.collect())) == sorted(map(tuple, flat.collect()))


def test_packed_scan_time_range_prunes_by_stats(spark, tmp_path):
    store = MetricStore(spark, str(tmp_path / "mpr"), HOUR, pack_ms=30 * 60_000)
    rows = [("cpu", {"h": "a"}, i * 300_000, float(i), 1) for i in range(12)]
    store.ingest(_samples(spark, rows))
    store.compact_to_packed()
    # range [1500000, 2100000) straddles both windows
    out = store.packed_scan(TimeRange(1_500_000, 2_100_000)).collect()
    assert sorted(r.ts_ms for r in out) == [1_500_000, 1_800_000]


def test_packed_recompaction_is_idempotent(spark, tmp_path):
    store = MetricStore(spark, str(tmp_path / "mpi"), HOUR, pack_ms=30 * 60_000)
    store.ingest(_samples(spark, [("cpu", {"h": "a"}, 1000, 1.0, 1)]))
    store.compact_to_packed()
    # late point lands in the same window; re-pack overwrites the pack row
    store.ingest(_samples(spark, [("cpu", {"h": "a"}, 2000, 2.0, 2)]))
    store.compact_to_packed()
    packed = store.packed_data.scan().collect()
    assert len(packed) == 1 and packed[0].n_points == 2
    assert [(r.ts_ms, r.value) for r in store.packed_scan().orderBy("ts_ms").collect()] == [
        (1000, 1.0),
        (2000, 2.0),
    ]


def test_packed_engine_matches_flat_engine(spark, tmp_path):
    store = MetricStore(spark, str(tmp_path / "mpe"), HOUR, pack_ms=30 * 60_000)
    rows = [("cpu", {"host": "a"}, i * 300_000, float(i % 5), i) for i in range(10)]
    store.ingest(_samples(spark, rows))
    store.compact_to_packed()
    flat = store.engine().select_series("cpu", [Matcher("host", "=", "a")])
    pk = store.packed_engine().select_series("cpu", [Matcher("host", "=", "a")])
    assert sorted(map(tuple, flat.collect())) == sorted(map(tuple, pk.collect()))


def test_backfill_is_single_pass_regardless_of_segment_count(spark, tmp_path):
    """A multi-segment backfill through MetricStore.ingest must run a
    CONSTANT number of Spark jobs (the data write is ONE
    bulk_ingest/partitionBy job), not one job per touched segment — the
    pre-r9 shape serialized a multi-year backfill into hundreds of
    sequential per-segment writes. Checked by job-group job counts: a
    12-segment batch may not cost more jobs than a 2-segment batch. SST
    layout is unchanged: one SST per segment."""
    sc = spark.sparkContext

    def jobs_for(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup(f"{group}-done", "clear")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def batch(n_segs):
        return _samples(
            spark,
            [("cpu", {"h": f"h{i % 3}"}, i * HOUR + 500, float(i), 1)
             for i in range(n_segs)],
        )

    s_small = MetricStore(spark, str(tmp_path / "small"), HOUR)
    s_large = MetricStore(spark, str(tmp_path / "large"), HOUR)
    n_small = jobs_for("bf-small", lambda: s_small.ingest(batch(2)))
    n_large = jobs_for("bf-large", lambda: s_large.ingest(batch(12)))
    assert len(s_small.data.manifest.all_ssts()) == 2
    assert len(s_large.data.manifest.all_ssts()) == 12
    assert n_large <= n_small, (n_small, n_large)
    # the engine still reads every segment back correctly
    eng = s_large.engine()
    assert eng.data.count() == 12


def test_field_selection_pushes_down_on_durable_scan(spark, tmp_path):
    """The multi-field claim made concrete on the durable path: field_id is
    a PK-prefix column of the data table, so select_series(field=...) must
    land as a pushed parquet filter (and the PK sort keeps each field's
    rows contiguous within an SST for row-group skipping)."""
    rows = [
        ("http_req_sum", {"h": "a"}, 1000 + i, float(i), i) for i in range(50)
    ] + [
        ("http_req_count", {"h": "a"}, 1000 + i, float(i), 100 + i)
        for i in range(50)
    ]
    samples = _samples(spark, rows)
    from horaedb_spark.metric.ingest import group_metric_families

    store = MetricStore(spark, str(tmp_path / "push"), HOUR)
    store.ingest(group_metric_families(samples))
    eng = store.engine()
    out = eng.select_series("http_req", field="sum", with_labels=False)
    assert out.count() == 50
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    # toString() truncates long filter lists ("EqualTo(fiel..."), so match
    # within the line rather than up to a closing bracket
    m = re.search(r"PushedFilters: \[[^\n]*field_id", plan)
    assert m, plan[-2500:]
    assert re.search(r"DataFilters: \[[^\n]*field_id", plan), plan[-2500:]


def test_ingest_pre_epoch_timestamps_via_bulk_path(spark, tmp_path):
    """The r9 bulk_ingest routing must keep the floor-form segment math:
    a pre-epoch sample (ts < 0) lands in the NEGATIVE segment containing
    it (truncate_by semantics) and scans back; the r8-era per-segment loop
    handled this and the single-pass path must too."""
    store = MetricStore(spark, str(tmp_path / "pre"), HOUR)
    store.ingest(
        _samples(
            spark,
            [
                ("cpu", {"h": "a"}, -5, 1.5, 1),       # segment -HOUR
                ("cpu", {"h": "a"}, 1000, 2.5, 2),     # segment 0
            ],
        )
    )
    segs = sorted(
        s.time_range.start for s in store.data.manifest.all_ssts()
    )
    assert segs == [-HOUR, 0]
    rows = sorted(
        (r.ts_ms, r.value)
        for r in store.engine().select_series("cpu", with_labels=False).collect()
    )
    assert rows == [(-5, 1.5), (1000, 2.5)]


def _legacy_store(spark, root):
    """Materialize a pre-multi-field store layout (the round-8 shape:
    4-column data PK=(metric_id,tsid,ts_ms), metrics keyed on metric_name
    alone) by writing through legacy-shaped ColumnarTables directly."""
    from pyspark.sql import types as T

    from horaedb_spark.core.schema import StorageSchema, UpdateMode
    from horaedb_spark.metric import model
    from horaedb_spark.storage.table import ColumnarTable, WriteRequest

    L, S, D = T.LongType(), T.StringType(), T.DoubleType()

    def _schema(fields, n):
        return StorageSchema(
            T.StructType([T.StructField(a, b) for a, b in fields]),
            num_primary_keys=n,
            update_mode=UpdateMode.OVERWRITE,
        )

    samples = _samples(
        spark,
        [("cpu", {"host": "a"}, 1000, 1.0, 1), ("cpu", {"host": "b"}, 2000, 2.0, 1)],
    )
    data = ColumnarTable(
        spark,
        f"{root}/data",
        _schema([("metric_id", L), ("tsid", L), ("ts_ms", L), ("value", D)], 3),
        HOUR,
    )
    data.bulk_ingest(
        model.with_ids(samples).select("metric_id", "tsid", "ts_ms", "value"), "ts_ms"
    )
    metrics = ColumnarTable(
        spark,
        f"{root}/metrics",
        _schema(
            [("metric_name", S), ("metric_id", L), ("field_name", S),
             ("field_id", L), ("field_type", S)],
            1,
        ),
        1 << 60,
    )
    metrics.write(
        WriteRequest(model.build_metrics_table(samples), TimeRange(0, 1))
    )
    from horaedb_spark.metric.store import MetricStore as MS

    series = ColumnarTable(
        spark, f"{root}/series",
        _schema([("metric_id", L), ("tsid", L), ("series_key", S)], 2), 1 << 60,
    )
    from horaedb_spark.metric import model as m

    series.write(WriteRequest(m.build_series_table(samples), TimeRange(0, 1)))
    index = ColumnarTable(
        spark, f"{root}/index",
        _schema([("metric_id", L), ("tag_key", S), ("tag_value", S), ("tsid", L)], 4),
        1 << 60,
    )
    index.write(WriteRequest(m.build_index_table(samples), TimeRange(0, 1)))
    return samples


def test_legacy_store_open_refuses_loudly(spark, tmp_path):
    import pytest

    root = str(tmp_path / "legacy1")
    _legacy_store(spark, root)
    with pytest.raises(ValueError, match="predates the multi-field layout"):
        MetricStore(spark, root, HOUR)


def test_migrate_legacy_is_metadata_only_and_preserves_rows(spark, tmp_path):
    from horaedb_spark.metric import model
    from horaedb_spark.metric.engine import Matcher

    root = str(tmp_path / "legacy2")
    _legacy_store(spark, root)
    import glob as _glob
    import os as _os

    files_before = {
        p: _os.path.getmtime(p)
        for p in _glob.glob(f"{root}/data/data/**/*.parquet", recursive=True)
    }
    store = MetricStore.migrate_legacy(spark, root, HOUR)
    # no SST rewritten: identical file set, identical mtimes
    files_after = {
        p: _os.path.getmtime(p)
        for p in _glob.glob(f"{root}/data/data/**/*.parquet", recursive=True)
    }
    assert files_after == files_before
    # legacy rows surface the default field_id via the existence default
    rows = store.data.scan().orderBy("ts_ms").collect()
    default_fid = spark.range(1).select(
        model.field_id(F.lit(model.DEFAULT_FIELD)).alias("f")
    ).first()["f"]
    assert [(r.ts_ms, r.value, r.field_id) for r in rows] == [
        (1000, 1.0, default_fid),
        (2000, 2.0, default_fid),
    ]
    # multi-field ingest AFTER migration keeps fields distinct at the same
    # (metric_id, tsid, ts_ms) — the silent-collapse the migration prevents
    store.ingest(
        spark.createDataFrame(
            [("req", "sum", {"host": "a"}, 1000, 10.0, 2),
             ("req", "count", {"host": "a"}, 1000, 4.0, 2)],
            "name string, field string, labels map<string,string>, "
            "ts_ms long, value double, seq long",
        )
    )
    eng = store.engine()
    out = eng.select_series("req", [Matcher("host", "=", "a")], field="sum")
    assert [(r.ts_ms, r.value) for r in out.collect()] == [(1000, 10.0)]
    out = eng.select_series("req", [Matcher("host", "=", "a")], field="count")
    assert [(r.ts_ms, r.value) for r in out.collect()] == [(1000, 4.0)]
    # legacy single-field series still selectable
    out = eng.select_series("cpu", [Matcher("host", "=", "a")])
    assert [(r.ts_ms, r.value) for r in out.collect()] == [(1000, 1.0)]
    # idempotent
    MetricStore.migrate_legacy(spark, root, HOUR)


def test_migrate_schema_validation_rules(spark, tmp_path):
    import pytest
    from pyspark.sql import types as T

    from horaedb_spark.core.schema import StorageSchema, UpdateMode
    from horaedb_spark.storage.table import ColumnarTable

    L, D = T.LongType(), T.DoubleType()
    tbl = ColumnarTable(
        spark,
        str(tmp_path / "mig"),
        StorageSchema(
            T.StructType([T.StructField("k", L), T.StructField("v", D)]),
            num_primary_keys=1,
        ),
        HOUR,
    )
    # added PK without a default -> refused
    with pytest.raises(ValueError, match="existence default"):
        tbl.migrate_schema(
            StorageSchema(
                T.StructType(
                    [T.StructField("k", L), T.StructField("k2", L), T.StructField("v", D)]
                ),
                num_primary_keys=2,
            )
        )
    # dropping a column -> refused
    with pytest.raises(ValueError, match="drops existing column"):
        tbl.migrate_schema(
            StorageSchema(T.StructType([T.StructField("k", L)]), num_primary_keys=1)
        )
    # type change -> refused
    with pytest.raises(ValueError, match="changes type"):
        tbl.migrate_schema(
            StorageSchema(
                T.StructType([T.StructField("k", L), T.StructField("v", L)]),
                num_primary_keys=1,
            )
        )
    # update-mode change -> refused
    with pytest.raises(ValueError, match="update mode"):
        tbl.migrate_schema(
            StorageSchema(
                T.StructType(
                    [T.StructField("k", L), T.StructField("v", T.BinaryType())]
                ),
                num_primary_keys=1,
                update_mode=UpdateMode.APPEND,
            )
        )
    # promoting an EXISTING value column into the PK -> refused (rows
    # previously merged as versions of one key would resurrect as
    # distinct keys; NULLs in the promoted column become NULL merge keys)
    with pytest.raises(ValueError, match="promotes existing value column"):
        tbl.migrate_schema(
            StorageSchema(
                T.StructType([T.StructField("k", L), T.StructField("v", D)]),
                num_primary_keys=2,
            )
        )
    # added PK WITH a default -> accepted, persisted, survives reopen
    tbl.migrate_schema(
        StorageSchema(
            T.StructType(
                [T.StructField("k", L), T.StructField("k2", L), T.StructField("v", D)]
            ),
            num_primary_keys=2,
            column_defaults={"k2": 7},
        )
    )
    reopened = ColumnarTable(
        spark,
        str(tmp_path / "mig"),
        StorageSchema(
            T.StructType([T.StructField("k", L), T.StructField("v", D)]),
            num_primary_keys=1,
        ),
        HOUR,
    )
    assert reopened.schema.primary_keys == ("k", "k2")
    assert reopened.schema.column_defaults == {"k2": 7}


def test_migrate_legacy_covers_packed_table(spark, tmp_path):
    """The packed data table (lazily created, r8 layout keyed on
    (metric_id, tsid, pack_start_ms)) migrates too: legacy pack rows
    surface the default field_id, the packed property refuses to open an
    unmigrated legacy packed table, and a post-migration multi-field
    compact_to_packed keeps fields in separate pack rows."""
    import pytest
    from pyspark.sql import types as T

    from horaedb_spark.core.schema import StorageSchema, UpdateMode
    from horaedb_spark.metric import model
    from horaedb_spark.storage.table import ColumnarTable

    root = str(tmp_path / "legacy3")
    samples = _legacy_store(spark, root)
    # materialize a LEGACY packed table (pre-field_id shape) from the
    # legacy flat data, exactly what r8's compact_to_packed persisted
    L, D = T.LongType(), T.DoubleType()
    point = T.StructType([T.StructField("ts_ms", L), T.StructField("value", D)])
    legacy_packed = ColumnarTable(
        spark,
        f"{root}/data_packed",
        StorageSchema(
            T.StructType(
                [
                    T.StructField("metric_id", L),
                    T.StructField("tsid", L),
                    T.StructField("pack_start_ms", L),
                    T.StructField("points", T.ArrayType(point)),
                    T.StructField("ts_min", L),
                    T.StructField("ts_max", L),
                    T.StructField("n_points", L),
                ]
            ),
            num_primary_keys=3,
            update_mode=UpdateMode.OVERWRITE,
        ),
        HOUR,
    )
    flat = model.with_ids(samples).select("metric_id", "tsid", "ts_ms", "value")
    packed_rows = model.pack_data_table(flat, HOUR).select(
        "metric_id", "tsid", "pack_start_ms", "points", "ts_min", "ts_max", "n_points"
    )
    legacy_packed.bulk_ingest(packed_rows, "pack_start_ms")

    # unmigrated open refuses on the packed property too
    from horaedb_spark.metric.store import MetricStore

    store = None
    with pytest.raises(ValueError, match="predates the multi-field layout"):
        MetricStore(spark, root, HOUR)

    store = MetricStore.migrate_legacy(spark, root, HOUR)
    assert store.packed_data.schema.primary_keys == (
        "metric_id", "tsid", "field_id", "pack_start_ms",
    )
    default_fid = spark.range(1).select(
        model.field_id(F.lit(model.DEFAULT_FIELD)).alias("f")
    ).first()["f"]
    unp = store.packed_scan().orderBy("ts_ms").collect()
    assert [(r.ts_ms, r.value, r.field_id) for r in unp] == [
        (1000, 1.0, default_fid),
        (2000, 2.0, default_fid),
    ]
    # multi-field ingest + re-pack after migration: fields stay separate
    store.ingest(
        spark.createDataFrame(
            [("req", "sum", {"host": "a"}, 1000, 10.0, 2),
             ("req", "count", {"host": "a"}, 1000, 4.0, 2)],
            "name string, field string, labels map<string,string>, "
            "ts_ms long, value double, seq long",
        )
    )
    store.compact_to_packed()
    eng = store.packed_engine()
    out = eng.select_series("req", field="sum")
    assert [(r.ts_ms, r.value) for r in out.collect()] == [(1000, 10.0)]
    out = eng.select_series("req", field="count")
    assert [(r.ts_ms, r.value) for r in out.collect()] == [(1000, 4.0)]


def test_migrate_schema_rejects_pk_narrowing_and_value_defaults(spark, tmp_path):
    """Two guards from the round-10 review: (a) the key may only WIDEN —
    narrowing (or reordering a column out of the key) would re-dedup the
    table per the smaller key and silently lose every non-max-seq row;
    (b) existence defaults are PK-only — on a nullable value column the
    scan-side coalesce could not distinguish a pre-migration file from a
    deliberately-stored NULL and would rewrite legitimate NULLs."""
    import pytest
    from pyspark.sql import types as T

    from horaedb_spark.core.schema import StorageSchema
    from horaedb_spark.storage.table import ColumnarTable

    L, D = T.LongType(), T.DoubleType()
    tbl = ColumnarTable(
        spark,
        str(tmp_path / "narrow"),
        StorageSchema(
            T.StructType(
                [T.StructField("a", L), T.StructField("b", L), T.StructField("v", D)]
            ),
            num_primary_keys=2,
        ),
        HOUR,
    )
    with pytest.raises(ValueError, match="demotes PK"):
        tbl.migrate_schema(
            StorageSchema(
                T.StructType(
                    [T.StructField("a", L), T.StructField("b", L), T.StructField("v", D)]
                ),
                num_primary_keys=1,
            )
        )
    with pytest.raises(ValueError, match="demotes PK"):
        tbl.migrate_schema(  # reorder b past the key boundary
            StorageSchema(
                T.StructType(
                    [T.StructField("a", L), T.StructField("v", D), T.StructField("b", L)]
                ),
                num_primary_keys=1,
            )
        )
    with pytest.raises(ValueError, match="non-PK column"):
        StorageSchema(
            T.StructType([T.StructField("a", L), T.StructField("v", D)]),
            num_primary_keys=1,
            column_defaults={"v": 0.0},
        )


def test_compaction_materializes_existence_defaults(spark, tmp_path):
    """DIVERGENCES #28 claims compaction bakes existence defaults into its
    outputs (the coalesce decays to identity as files rewrite). Pin it:
    after migrating a table to a defaulted PK column and compacting, the
    compacted parquet PHYSICALLY contains the default (raw read, no
    coalesce), and the scan still serves identical rows."""
    from pyspark.sql import types as T

    from horaedb_spark.core.schema import StorageSchema
    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.compaction import CompactionTask, Compactor, SchedulerConfig
    from horaedb_spark.storage.table import ColumnarTable, WriteRequest

    L, D = T.LongType(), T.DoubleType()
    root = str(tmp_path / "mat")
    tbl = ColumnarTable(
        spark,
        root,
        StorageSchema(
            T.StructType([T.StructField("k", L), T.StructField("v", D)]),
            num_primary_keys=1,
        ),
        HOUR,
    )
    tbl.write(
        WriteRequest(
            spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"),
            TimeRange(0, 1000),
        )
    )
    tbl.write(
        WriteRequest(
            spark.createDataFrame([(1, 9.0)], "k long, v double"),
            TimeRange(0, 1000),
        )
    )
    tbl.migrate_schema(
        StorageSchema(
            T.StructType(
                [T.StructField("k", L), T.StructField("shard", L), T.StructField("v", D)]
            ),
            num_primary_keys=2,
            column_defaults={"shard": 42},
        )
    )
    want = sorted(map(tuple, tbl.scan().select("k", "shard", "v").collect()))
    assert want == [(1, 42, 9.0), (2, 42, 2.0)]
    comp = Compactor(tbl, SchedulerConfig())
    task = CompactionTask(inputs=list(tbl.manifest.all_ssts()))
    out = comp.execute(task)
    assert out is not None
    # raw parquet of the compacted SST: the default is PHYSICAL now
    raw = spark.read.parquet(out.path)
    assert "shard" in raw.columns
    assert sorted((r.k, r.shard) for r in raw.select("k", "shard").collect()) == [
        (1, 42), (2, 42),
    ]
    # merged scan unchanged
    got = sorted(map(tuple, tbl.scan().select("k", "shard", "v").collect()))
    assert got == want


def test_engine_serves_from_tsid_bucketed_mirror(spark, tmp_path):
    """data_buckets opts the data table into a tsid-bucketed mirror and
    engine() serves from it: (a) row-identical to the merge-on-read scan
    across overwrites and time ranges, (b) the data plan has NO dedup
    window (merge pre-paid at refresh), (c) a tsid-keyed aggregation runs
    exchange-free, (d) time-range selection prunes catalog partitions."""
    root = str(tmp_path / "bkt_store")
    store = MetricStore(spark, root, HOUR, data_buckets=4)
    rows = [("cpu", {"host": f"h{i % 3}"}, i * HOUR // 2 + 500, float(i), 1)
            for i in range(8)]
    store.ingest(_samples(spark, rows))
    # overwrite one sample: the mirror must serve the WINNING version
    store.ingest(_samples(spark, [("cpu", {"host": "h0"}, 500, 99.0, 2)]))

    plain = store.engine(from_mirror=False)
    mirror = store.engine()  # auto: data_buckets set
    want = sorted(map(tuple, plain.data.collect()))
    got = sorted(map(tuple, mirror.data.collect()))
    assert got == want and len(got) == 8

    # (b) no dedup window in the mirror-served plan
    plan = mirror.data._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan[:1500]

    # (c) tsid-keyed aggregation: no exchange below the aggregate
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        agg = mirror.data.groupBy("tsid").agg(F.sum("value").alias("s"))
        agg.collect()
        aplan = agg._jdf.queryExecution().executedPlan().toString()
        aplan = aplan.split("== Initial Plan ==")[0]
        assert "Exchange" not in aplan, aplan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # (a cont.) time-ranged engines agree too
    tr = TimeRange(HOUR, 3 * HOUR)
    want = sorted(map(tuple, store.engine(tr, from_mirror=False).data.collect()))
    got_df = store.engine(tr).data
    got = sorted(map(tuple, got_df.collect()))
    assert got == want and got
    # (d) partition pruning visible in the plan
    splan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "__segment__" in splan.split("PartitionFilters", 1)[-1][:300], splan[:2000]

    # select_series + matchers through the mirror-served engine
    eng = store.engine()
    out = eng.select_series("cpu", [Matcher("host", "=", "h0")])
    ref = store.engine(from_mirror=False).select_series(
        "cpu", [Matcher("host", "=", "h0")]
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, ref.collect()))


def test_engine_from_mirror_without_data_buckets_raises(spark, tmp_path):
    """Asking for the mirror path on a store that never opted in must fail
    with a store-level remedy, not a ColumnarTable internals error."""
    import pytest

    store = MetricStore(spark, str(tmp_path / "nomirror"), HOUR)
    store.ingest(_samples(spark, [("cpu", {"host": "a"}, 1000, 1.0, 1)]))
    with pytest.raises(ValueError, match="data_buckets"):
        store.engine(from_mirror=True)
    # and the merge-on-read path still serves
    assert store.engine().data.count() == 1


def test_store_engine_threshold_override_not_poisoned_by_shared_memo(spark, tmp_path):
    """Engines from one store share the broadcast-decision memo, but the
    documented per-instance series_broadcast_threshold override must still
    win: a sibling engine's earlier broadcast=True decision (made under
    the default threshold) must not leak into an engine whose override
    says the series table is too big to broadcast."""
    store = MetricStore(spark, str(tmp_path / "memo"), HOUR)
    store.ingest(
        _samples(
            spark,
            [("cpu", {"host": f"h{i}"}, 1000 + i, float(i), 1) for i in range(5)],
        )
    )
    a = store.engine()
    out_a = a.select_series("cpu", with_labels=True)
    rows_a = sorted((r.ts_ms, r.value) for r in out_a.collect())
    plan_a = out_a._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_a.split("== Initial Plan ==")[0]

    b = store.engine()
    b.series_broadcast_threshold = 1  # everything is "too big"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out_b = b.select_series("cpu", with_labels=True)
        rows_b = sorted((r.ts_ms, r.value) for r in out_b.collect())
        plan_b = out_b._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" not in plan_b.split("== Initial Plan ==")[0], (
        plan_b[:1500]
    )
    assert rows_b == rows_a and len(rows_a) == 5


def _hosts(spark, hosts, ts, value=1.0, seq=1):
    return _samples(spark, [("cpu", {"host": h}, ts, value, seq) for h in hosts])


def test_known_series_ingest_adds_no_catalog_sst(spark, tmp_path, caplog):
    """Catalog rows are written only for keys the store lacks: batches of
    known series add an SST to the data table alone."""
    store = MetricStore(spark, str(tmp_path / "known"), HOUR)
    first = _ingest_logged(store, _hosts(spark, "abc", 1000), caplog)
    assert first["catalogs"] == "written in full" and first["key_set"] == "not read"
    assert _catalog_ssts(store) == {"metrics": 1, "index": 1, "series": 1}
    # the first later batch reads the key set back; the next reuses it
    second = _ingest_logged(store, _hosts(spark, "abc", 2000, 2.0, 2), caplog)
    assert second == {"batch_keys": 4, "new_keys": 0, "new_series": 0,
                      "catalogs": "skipped", "key_set": "re-read"}
    third = _ingest_logged(store, _hosts(spark, "ab", 3000, 3.0, 3), caplog)
    assert third == {"batch_keys": 3, "new_keys": 0, "new_series": 0,
                     "catalogs": "skipped", "key_set": "reused"}
    assert _catalog_ssts(store) == {"metrics": 1, "index": 1, "series": 1}
    eng = store.engine()
    assert {r.tag_value for r in eng.label_values("cpu", "host").collect()} == set("abc")
    out = eng.select_series("cpu", [Matcher("host", "=", "a")])
    assert sorted((r.ts_ms, r.value) for r in out.collect()) == [
        (1000, 1.0), (2000, 2.0), (3000, 3.0)
    ]


def test_one_new_series_writes_catalog_rows_for_it_only(spark, tmp_path, caplog):
    store = MetricStore(spark, str(tmp_path / "onenew"), HOUR)
    store.ingest(_hosts(spark, "abc", 1000))
    before = {t: {s.file_id for s in getattr(store, t).manifest.all_ssts()}
              for t in ("metrics", "index", "series")}
    info = _ingest_logged(store, _hosts(spark, "abcd", 2000), caplog)
    assert info["new_series"] == 1 and info["new_keys"] == 1
    assert info["catalogs"] == "written"
    assert _catalog_ssts(store) == {"metrics": 1, "index": 2, "series": 2}
    for t in ("index", "series"):
        new = [s for s in getattr(store, t).manifest.all_ssts()
               if s.file_id not in before[t]]
        assert [s.num_rows for s in new] == [1], t  # host=d's one label
    series = store.series.scan(ScanRequest(ordered=False))
    assert series.count() == 4
    eng = store.engine()
    out = eng.select_series("cpu", [Matcher("host", "=", "d")])
    assert [(r.ts_ms, r.value) for r in out.collect()] == [(2000, 1.0)]


def test_known_field_with_new_type_updates_metrics_row(spark, tmp_path):
    """The metrics row follows the field type each way: f64 -> i64 -> f64."""
    store = MetricStore(spark, str(tmp_path / "ftype"), HOUR)

    def field_types():
        rows = store.metrics.scan(ScanRequest(ordered=False)).collect()
        return [(r.metric_name, r.field_name, r.field_type) for r in rows]

    store.ingest(_hosts(spark, "a", 1000))
    store.ingest(_hosts(spark, "a", 2000))  # known: reads the key set back
    as_long = spark.createDataFrame(
        [("cpu", {"host": "a"}, 3000, 7, 3)],
        "name string, labels map<string,string>, ts_ms long, value long, seq long",
    )
    store.ingest(as_long)
    assert _catalog_ssts(store) == {"metrics": 2, "index": 1, "series": 1}
    assert field_types() == [("cpu", "value", "i64")]
    store.ingest(_hosts(spark, "a", 4000, 4.0, 4))
    assert _catalog_ssts(store) == {"metrics": 3, "index": 1, "series": 1}
    assert field_types() == [("cpu", "value", "f64")]


def test_key_set_is_reread_after_delete_restore_or_another_writer(
    spark, tmp_path, caplog
):
    """The known key set is only valid at the catalog state it was recorded
    at: series rows removed under it, through this handle or another one
    on the same root, come back with the next batch."""
    root = str(tmp_path / "reread")
    store = MetricStore(spark, root, HOUR)

    def series_keys(handle):
        return {r.series_key for r in handle.series.scan(ScanRequest(ordered=False))
                .collect()}

    store.ingest(_hosts(spark, "ab", 1000))
    store.ingest(_hosts(spark, "ab", 2000))  # reads the key set back
    store.series.delete(F.col("series_key") == "host=b")
    assert series_keys(store) == {"host=a"}
    info = _ingest_logged(store, _hosts(spark, "ab", 3000), caplog)
    assert info["key_set"] == "re-read" and info["new_series"] == 1
    assert series_keys(store) == {"host=a", "host=b"}
    keep = max(s.file_id for s in store.series.manifest.all_ssts())
    store.ingest(_hosts(spark, "abc", 4000))
    # this handle's own catalog write (host=c) is read back, then reused
    info = _ingest_logged(store, _hosts(spark, "abc", 5000), caplog)
    assert info["key_set"] == "re-read" and info["new_keys"] == 0
    info = _ingest_logged(store, _hosts(spark, "abc", 5500), caplog)
    assert info["key_set"] == "reused" and info["new_keys"] == 0
    # another handle on the same root rolls the series table back to before
    # host=c; this handle's manifests do not see it until it re-reads
    other = MetricStore(spark, root, HOUR)
    other.series.restore(keep)
    assert series_keys(other) == {"host=a", "host=b"}
    info = _ingest_logged(store, _hosts(spark, "abc", 6000), caplog)
    assert info["key_set"] == "re-read" and info["new_series"] == 1
    reopened = MetricStore(spark, root, HOUR)
    assert series_keys(reopened) == {"host=a", "host=b", "host=c"}
    out = reopened.engine().select_series("cpu", [Matcher("host", "=", "c")])
    assert sorted(r.ts_ms for r in out.collect()) == [4000, 5000, 5500, 6000]


@pytest.mark.parametrize("failing", ["index", "series"])
def test_ingest_failing_before_series_write_is_retried(
    spark, tmp_path, monkeypatch, failing
):
    """Series rows are written last: a batch that fails at its index or
    series write leaves its new series unknown, so re-ingesting it writes
    them."""
    store = MetricStore(spark, str(tmp_path / "crash"), HOUR)
    store.ingest(_hosts(spark, "a", 1000))
    store.ingest(_hosts(spark, "a", 2000))
    table = getattr(store, failing)
    write, calls = table.write, []

    def fail_once(req):
        calls.append(req)
        if len(calls) == 1:
            raise OSError(f"injected {failing} write failure")
        return write(req)

    monkeypatch.setattr(table, "write", fail_once)
    batch = _hosts(spark, "ab", 3000)
    with pytest.raises(OSError, match="injected"):
        store.ingest(batch)
    store.ingest(batch)
    assert len(calls) == 2
    eng = store.engine()
    assert {r.tag_value for r in eng.label_values("cpu", "host").collect()} == {"a", "b"}
    out = eng.select_series("cpu", [Matcher("host", "=", "b")])
    assert [(r.ts_ms, r.value) for r in out.collect()] == [(3000, 1.0)]


def test_series_broadcast_memo_cleared_only_when_series_grow(spark, tmp_path):
    store = MetricStore(spark, str(tmp_path / "memo2"), HOUR)
    store.ingest(_hosts(spark, "ab", 1000))
    store.engine().select_series("cpu", with_labels=True)
    assert store._series_bcast_memo
    store.ingest(_hosts(spark, "ab", 2000))  # known series: memo kept
    assert store._series_bcast_memo
    store.ingest(_hosts(spark, "abc", 3000))  # a new series: memo cleared
    assert store._series_bcast_memo == {}


def test_concurrent_ingests_on_one_handle_keep_every_series(spark, tmp_path):
    """Threads ingesting new series through one handle share its key set:
    every series gets its catalog rows, and afterwards all are known."""
    import sys
    import threading

    store = MetricStore(spark, str(tmp_path / "threads"), HOUR)
    store.ingest(_hosts(spark, "a", 1000))
    hosts = [f"t{i}" for i in range(6)]  # more threads than local[4] cores
    frames = {h: _hosts(spark, ["a", h], 2000) for h in hosts}
    errors = []

    def run(h):
        try:
            store.ingest(frames[h])
        except Exception as e:  # reported below, with the thread's host
            errors.append((h, e))

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=run, args=(h,)) for h in hosts]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    keys = {r.series_key for r in store.series.scan(ScanRequest(ordered=False)).collect()}
    assert keys == {f"host={h}" for h in ["a", *hosts]}
    store.ingest(_hosts(spark, ["a", *hosts], 3000))
    assert _catalog_ssts(store)["series"] == 1 + len(hosts)
