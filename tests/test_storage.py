"""Golden storage tests replicating the reference's canonical cases:

- test_storage_write_and_scan (storage.rs:391-491): two overlapping writes in
  one segment -> full scan returns merged rows, newest __seq__ wins per
  (pk1, pk2), PK-ordered; predicate scan pk1=11.
- append-mode concat (operator.rs:139-159, read.rs:526-536).
- manifest time-range pruning (manifest/mod.rs:165-172).
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from horaedb_spark.core.schema import StorageSchema, UpdateMode
from horaedb_spark.core.timeutil import TimeRange
from horaedb_spark.storage.manifest import Manifest, ManifestBackpressure, SstFile
from horaedb_spark.storage.table import ColumnarTable, ScanRequest, WriteRequest

TWO_HOURS = 2 * 3600 * 1000


def kv_schema():
    return StorageSchema(
        T.StructType(
            [
                T.StructField("pk1", T.LongType()),
                T.StructField("pk2", T.LongType()),
                T.StructField("value", T.LongType()),
            ]
        ),
        num_primary_keys=2,
        update_mode=UpdateMode.OVERWRITE,
    )


@pytest.fixture()
def table(spark, tmp_path):
    return ColumnarTable(spark, str(tmp_path / "kv"), kv_schema(), TWO_HOURS)


def _write(table, rows, tr):
    df = table.spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    return table.write(WriteRequest(df, tr))


def test_storage_write_and_scan(table):
    # Rows from the reference golden test (storage.rs:440-463 / FIXTURES.md F1)
    _write(table, [(11, 100, 2), (11, 100, 7), (9, 1, 4), (10, 2, 6), (5, 3, 1)], TimeRange(1, 10))
    _write(table, [(11, 100, 22), (11, 99, 77), (9, 1, 44), (10, 2, 66)], TimeRange(10, 20))

    got = [tuple(r) for r in table.scan().collect()]
    assert got == [(5, 3, 1), (9, 1, 44), (10, 2, 66), (11, 99, 77), (11, 100, 22)]


def test_storage_scan_with_predicate(table):
    _write(table, [(11, 100, 2), (11, 100, 7), (9, 1, 4), (10, 2, 6), (5, 3, 1)], TimeRange(1, 10))
    _write(table, [(11, 100, 22), (11, 99, 77), (9, 1, 44), (10, 2, 66)], TimeRange(10, 20))

    got = [tuple(r) for r in table.scan(ScanRequest(predicate="pk1 = 11")).collect()]
    assert got == [(11, 99, 77), (11, 100, 22)]


def test_scan_projection_keeps_merge_correct(table):
    _write(table, [(1, 1, 10)], TimeRange(1, 10))
    _write(table, [(1, 1, 20)], TimeRange(10, 20))
    got = table.scan(ScanRequest(projections=["value"])).collect()
    assert [r.value for r in got] == [20]
    assert got[0].asDict().keys() == {"value"}


def test_scan_keep_builtin_exposes_seq(table):
    s1 = _write(table, [(1, 1, 10)], TimeRange(1, 10))
    s2 = _write(table, [(1, 1, 20)], TimeRange(10, 20))
    assert s2.file_id > s1.file_id
    row = table.scan(ScanRequest(keep_builtin=True)).collect()[0]
    assert row["__seq__"] == s2.file_id
    assert row["__reserved__"] is None


def test_equal_pk_in_different_segments_both_survive(table):
    # Merge is per segment; union is ordered old -> new (storage.rs:343-369).
    _write(table, [(1, 1, 10)], TimeRange(0, 100))
    _write(table, [(1, 1, 20)], TimeRange(TWO_HOURS, TWO_HOURS + 100))
    got = [r.value for r in table.scan().collect()]
    assert got == [10, 20]


def test_time_range_pruning(table):
    _write(table, [(1, 1, 10)], TimeRange(0, 100))
    _write(table, [(2, 2, 20)], TimeRange(TWO_HOURS, TWO_HOURS + 100))
    got = table.scan(ScanRequest(time_range=TimeRange(0, TWO_HOURS))).collect()
    assert [r.value for r in got] == [10]
    # and the pruning happened at the manifest, not the executor:
    assert len(table.manifest.find_ssts(TimeRange(0, TWO_HOURS))) == 1


def test_write_rejects_cross_segment_range(table):
    df = table.spark.createDataFrame([(1, 1, 1)], "pk1 long, pk2 long, value long")
    with pytest.raises(ValueError):
        table.write(WriteRequest(df, TimeRange(TWO_HOURS - 10, TWO_HOURS + 10)))
    # enable_check=False skips the validation (storage.rs:307-316)
    table.write(WriteRequest(df, TimeRange(TWO_HOURS - 10, TWO_HOURS + 10), enable_check=False))


def test_empty_scan_schema(table):
    df = table.scan()
    assert df.count() == 0
    assert df.columns == ["pk1", "pk2", "value"]


def test_append_mode_concat(spark, tmp_path):
    # operator.rs:150-158: one|two|three|four -> onetwothreefour;
    # read.rs:526-533: cross-batch groups concat in seq order.
    schema = StorageSchema(
        T.StructType(
            [T.StructField("pk1", T.LongType()), T.StructField("value", T.BinaryType())]
        ),
        num_primary_keys=1,
        update_mode=UpdateMode.APPEND,
    )
    t = ColumnarTable(spark, str(tmp_path / "append"), schema, TWO_HOURS)
    mk = lambda rows: spark.createDataFrame(rows, "pk1 long, value binary")
    t.write(WriteRequest(mk([(1, b"one"), (1, b"two"), (2, b"5")]), TimeRange(1, 5)))
    t.write(WriteRequest(mk([(1, b"three"), (2, b"6")]), TimeRange(5, 8)))
    t.write(WriteRequest(mk([(1, b"four"), (2, b"78")]), TimeRange(8, 10)))
    got = {r.pk1: bytes(r.value) for r in t.scan().collect()}
    assert got == {1: b"onetwothreefour", 2: b"5678"}


def test_manifest_find_ssts_and_replay(tmp_path):
    root = str(tmp_path / "m")
    m = Manifest(root)
    for i in range(20):
        m.add_file(
            SstFile(
                file_id=i,
                path=f"{root}/sst={i}",
                time_range=TimeRange(i * 10, i * 10 + 10),
                max_sequence=i,
                num_rows=1,
                size_bytes=10,
            )
        )
    assert [s.file_id for s in m.find_ssts(TimeRange(25, 45))] == [2, 3, 4]
    m.update([], [0, 1])
    # recovery: fresh Manifest replays snapshot + deltas into the same state
    m2 = Manifest(root)
    assert [s.file_id for s in m2.all_ssts()] == list(range(2, 20))
    assert m2.delta_count() == 0  # folded into snapshot on open


def test_manifest_backpressure(tmp_path):
    m = Manifest(str(tmp_path / "bp"), merge_soft_threshold=1000, merge_hard_threshold=3)
    sst = lambda i: SstFile(i, f"p{i}", TimeRange(0, 1), i, 1, 1)
    for i in range(3):
        m.add_file(sst(i))
    with pytest.raises(ManifestBackpressure):
        m.add_file(sst(99))
    m.merge_snapshot()
    m.add_file(sst(100))  # recovered after merge


def test_write_path_sorts_by_pk_within_files(spark, tmp_path):
    """A5 golden test (storage.rs:493-536 parity): every written SST file
    holds rows in ascending PK order."""
    import pyarrow.parquet as pq
    import glob as _glob

    t = ColumnarTable(spark, str(tmp_path / "sorted"), kv_schema(), TWO_HOURS)
    rows = [(9, 1, 4), (5, 3, 1), (11, 100, 2), (10, 2, 6), (5, 1, 7)]
    df = spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    sst = t.write(WriteRequest(df, TimeRange(1, 10)))
    for f in _glob.glob(f"{sst.path}/**/*.parquet", recursive=True):
        tbl = pq.read_table(f).to_pylist()
        keys = [(r["pk1"], r["pk2"]) for r in tbl]
        assert keys == sorted(keys), f
    # and __seq__/__reserved__ are stamped (types.rs:219-239). A part file
    # may be empty (executor partition with no rows) — read the first
    # NON-empty one, not blindly part 0.
    one = next(
        rows[0]
        for rows in (
            pq.read_table(f).to_pylist()
            for f in sorted(_glob.glob(f"{sst.path}/**/*.parquet", recursive=True))
        )
        if rows
    )
    assert one["__seq__"] == sst.file_id
    assert one["__reserved__"] is None


def test_snapshot_read_as_of_seq(spark, tmp_path):
    """MVCC time travel: scanning as of an earlier sequence sees the table as
    it was after that write — enabled by __seq__ versioning (types.rs:35-41)."""
    t = ColumnarTable(spark, str(tmp_path / "tt"), kv_schema(), TWO_HOURS)
    mk = lambda rows: spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    s1 = t.write(WriteRequest(mk([(1, 1, 10)]), TimeRange(1, 5)))
    s2 = t.write(WriteRequest(mk([(1, 1, 20), (2, 2, 5)]), TimeRange(5, 9)))
    assert [tuple(r) for r in t.scan(ScanRequest(as_of_seq=s1.file_id)).collect()] == [
        (1, 1, 10)
    ]
    assert [tuple(r) for r in t.scan(ScanRequest(as_of_seq=s2.file_id)).collect()] == [
        (1, 1, 20),
        (2, 2, 5),
    ]


def test_bulk_ingest_one_sst_per_segment(spark, tmp_path):
    """Bulk load: one job, one SST per segment, correct merge vs later writes."""
    t = ColumnarTable(spark, str(tmp_path / "bulk"), kv_schema(), 1000)
    df = spark.createDataFrame(
        [(1, 1, 10, 100), (2, 2, 20, 1500), (3, 3, 30, 2500), (1, 1, 11, 900)],
        "pk1 long, pk2 long, value long, ts long",
    )
    ssts = t.bulk_ingest(df, "ts")
    assert len(ssts) == 3  # segments 0, 1000, 2000
    assert {s.time_range.start for s in ssts} == {0, 1000, 2000}
    assert sum(s.num_rows for s in ssts) == 4
    # a later per-request write overrides the bulk rows (higher seq)
    t.write(
        WriteRequest(
            spark.createDataFrame([(2, 2, 99)], "pk1 long, pk2 long, value long"),
            TimeRange(1000, 2000),
        )
    )
    got = [tuple(r) for r in t.scan(ScanRequest(projections=["pk1", "pk2", "value"])).collect()]
    # segment 0 has duplicate (1,1): highest ts row wrote later in file? both
    # rows share the SST/seq — the deterministic row-position tie-break keeps
    # exactly one; assert the stable winners for the unambiguous keys
    assert (2, 2, 99) in got
    assert (3, 3, 30) in got
    assert len([r for r in got if (r[0], r[1]) == (1, 1)]) == 1


def test_two_handles_on_one_root_allocate_ids_past_absorbed_deltas(spark, tmp_path):
    """Two handles on one root each allocate file ids (= merge sequence)
    from their own counter. Once a handle has absorbed the other's deltas
    (sync_if_behind), its next ids lie above every id it absorbed, so
    (1) two handles bulk-ingesting one segment never pick the same SST id,
    and (2) a re-write of a key the other handle deleted outranks that
    handle's tombstone."""
    root = str(tmp_path / "two")
    cols = "pk1 long, pk2 long, value long, ts long"
    t0 = 1_767_225_600_000  # a real epoch-ms segment: bulk ids run ahead of the clock
    seed = ColumnarTable(spark, root, kv_schema(), 1000)
    seed.bulk_ingest(spark.createDataFrame([(1, 1, 10, t0)], cols), "ts")
    a = ColumnarTable(spark, root, kv_schema(), 1000)
    b = ColumnarTable(spark, root, kv_schema(), 1000)

    (sa,) = a.bulk_ingest(spark.createDataFrame([(2, 2, 20, t0 + 1)], cols), "ts")
    b.manifest.sync_if_behind()
    (sb,) = b.bulk_ingest(spark.createDataFrame([(2, 2, 21, t0 + 2)], cols), "ts")
    assert sb.file_id > sa.file_id

    b.delete("pk1 = 1")
    a.manifest.sync_if_behind()
    _write(a, [(1, 1, 11)], TimeRange(t0, t0 + 1000))
    want = [(1, 1, 11), (2, 2, 21)]
    assert [tuple(r) for r in a.scan().collect()] == want
    b.manifest.sync_if_behind()
    assert [tuple(r) for r in b.scan().collect()] == want


def test_write_config_reaches_parquet_footers(spark, tmp_path):
    """Writer config parity (reference config.rs:120-133): codec, dictionary,
    and PK bloom filters plumb through to the parquet footers of an SST."""
    import glob
    import os

    import pyarrow.parquet as pq

    from horaedb_spark.storage.table import WriteConfig

    # repetitive pk1 so dictionary encoding is viable (parquet-mr falls back
    # to PLAIN when a dictionary would not compress)
    df = spark.createDataFrame(
        [(i % 10, i, i * 10) for i in range(5000)], "pk1 long, pk2 long, value long"
    ).coalesce(1)

    def write_with(tag: str, wc: WriteConfig | None):
        t = ColumnarTable(
            spark, str(tmp_path / tag), kv_schema(), TWO_HOURS, write_config=wc
        )
        t.write(WriteRequest(df, TimeRange(0, 10)))
        return glob.glob(f"{t.data_dir}/**/*.parquet", recursive=True)

    # bloom on pk2 (high cardinality: parquet-mr skips blooms for fully
    # dictionary-encoded chunks, where the dictionary already is an exact
    # membership test)
    wc = WriteConfig(
        codec="zstd", enable_dictionary=True, bloom_filter_columns=("pk2",)
    )
    files = write_with("wc", wc)
    assert files
    col = pq.ParquetFile(files[0]).metadata.row_group(0).column(0)
    assert col.compression == "ZSTD"
    assert any("DICTIONARY" in str(e) for e in col.encodings)

    # default config parity with the reference: snappy, dictionary off
    f2 = write_with("wc2", None)[0]
    col2 = pq.ParquetFile(f2).metadata.row_group(0).column(0)
    assert col2.compression == "SNAPPY"
    assert not any("DICTIONARY" in str(e) for e in col2.encodings)

    # bloom filter presence: this duckdb/pyarrow can't read bloom offsets, so
    # assert the observable artifact — the bloom-bearing file is materially
    # larger than the identical write without it (blooms are appended pages)
    no_bloom = write_with(
        "wc3", WriteConfig(codec="zstd", enable_dictionary=True)
    )[0]
    assert os.path.getsize(files[0]) > os.path.getsize(no_bloom) * 1.5


# ---------------------------------------------------------------- col stats
def test_write_collects_col_stats(spark, tmp_path):
    t = ColumnarTable(spark, str(tmp_path / "cs"), kv_schema(), TWO_HOURS)
    df = spark.createDataFrame(
        [(1, 1, 10), (2, 2, 99)], "pk1 long, pk2 long, value long"
    )
    sst = t.write(WriteRequest(df, TimeRange(0, 100)))
    assert sst.col_stats["value"] == [10, 99]
    assert sst.col_stats["pk1"] == [1, 2]
    # stats survive the manifest JSON roundtrip
    t2 = ColumnarTable(spark, t.root, kv_schema(), TWO_HOURS)
    assert t2.manifest.all_ssts()[0].col_stats["value"] == [10, 99]


def test_scan_prunes_ssts_by_value_stats(spark, tmp_path):
    t = ColumnarTable(spark, str(tmp_path / "pr"), kv_schema(), TWO_HOURS)
    lo = spark.createDataFrame(
        [(1, 1, 10), (2, 2, 20)], "pk1 long, pk2 long, value long"
    )
    hi = spark.createDataFrame(
        [(3, 3, 1000), (4, 4, 2000)], "pk1 long, pk2 long, value long"
    )
    t.write(WriteRequest(lo, TimeRange(0, 100)))
    t.write(WriteRequest(hi, TimeRange(100, 200)))
    out = t.scan(ScanRequest(predicate="value >= 500", ordered=False))
    # correctness: only the hi rows
    assert sorted(r.value for r in out.collect()) == [1000, 2000]
    # pruning: the lo SST never enters the path list
    files = out.inputFiles()
    assert files and all("sst=" in f for f in files)
    hi_sst = {s.file_id for s in t.manifest.all_ssts() if s.col_stats["value"][0] >= 500}
    assert {int(f.split("sst=")[1].split("/")[0]) for f in files} == hi_sst


def test_stats_pruning_skips_complex_predicates(spark, tmp_path):
    """Un-parseable predicates (OR, functions) must disable pruning, not
    mis-prune."""
    from horaedb_spark.storage.table import _parse_conjuncts

    assert _parse_conjuncts("value > 5 OR pk1 = 1") == []
    assert _parse_conjuncts("abs(value) > 5") == []
    assert _parse_conjuncts("value > 5 AND pk1 = 1") == [
        ("value", ">", 5), ("pk1", "=", 1)
    ]
    t = ColumnarTable(spark, str(tmp_path / "cx"), kv_schema(), TWO_HOURS)
    df = spark.createDataFrame([(1, 1, 10)], "pk1 long, pk2 long, value long")
    t.write(WriteRequest(df, TimeRange(0, 100)))
    out = t.scan(ScanRequest(predicate="value > 5 OR pk1 = 99", ordered=False))
    assert out.count() == 1


def test_stats_pruning_respects_overwrite_merge(spark, tmp_path):
    """A newer SST overwrites a PK with an out-of-range value: the scan with
    a predicate must not resurrect the old row (filter-before-merge), and
    pruning must agree."""
    t = ColumnarTable(spark, str(tmp_path / "ov"), kv_schema(), TWO_HOURS)
    old = spark.createDataFrame([(1, 1, 900)], "pk1 long, pk2 long, value long")
    new = spark.createDataFrame([(1, 1, 5)], "pk1 long, pk2 long, value long")
    t.write(WriteRequest(old, TimeRange(0, 100)))
    t.write(WriteRequest(new, TimeRange(100, 200)))
    # predicate matches only the OLD version of the PK; filter-before-merge
    # means that old version is selected and merges alone -> it survives
    out = t.scan(ScanRequest(predicate="value >= 500", ordered=False))
    assert [(r.pk1, r.value) for r in out.collect()] == [(1, 900)]


# ------------------------------------------------------------ schema evolution
def test_schema_evolution_adds_nullable_column(spark, tmp_path):
    import pyspark.sql.types as T

    t = ColumnarTable(spark, str(tmp_path / "ev"), kv_schema(), TWO_HOURS)
    old = spark.createDataFrame([(1, 1, 10)], "pk1 long, pk2 long, value long")
    t.write(WriteRequest(old, TimeRange(0, 100)))
    t.evolve_schema([T.StructField("tag", T.StringType(), True)])
    new = spark.createDataFrame(
        [(2, 2, 20, "fresh")], "pk1 long, pk2 long, value long, tag string"
    )
    t.write(WriteRequest(new, TimeRange(100, 200)))
    rows = {r.pk1: r.tag for r in t.scan(ScanRequest(ordered=False)).collect()}
    # old SST surfaces NULL for the evolved column; new SST carries it
    assert rows == {1: None, 2: "fresh"}
    # evolution survives reopen even with the ORIGINAL schema passed
    t2 = ColumnarTable(spark, t.root, kv_schema(), TWO_HOURS)
    assert "tag" in t2.schema.user_columns
    rows2 = {r.pk1: r.tag for r in t2.scan(ScanRequest(ordered=False)).collect()}
    assert rows2 == {1: None, 2: "fresh"}


def test_schema_evolution_rejects_bad_columns(spark, tmp_path):
    import pyspark.sql.types as T

    import pytest as _pytest

    t = ColumnarTable(spark, str(tmp_path / "bad"), kv_schema(), TWO_HOURS)
    with _pytest.raises(ValueError, match="collides"):
        t.evolve_schema([T.StructField("value", T.LongType(), True)])
    with _pytest.raises(ValueError, match="nullable"):
        t.evolve_schema([T.StructField("x", T.LongType(), False)])


def test_zorder_bulk_ingest_prunes_on_both_dims(spark, tmp_path):
    """Z-ordered bulk load: each segment splits into curve-aligned SSTs whose
    col_stats are tight, so value predicates on EITHER clustered column prune
    whole files — and the merged scan result is byte-identical to the
    unclustered table's."""
    import random

    from horaedb_spark.core.schema import StorageSchema, UpdateMode
    from pyspark.sql import types as T

    rnd = random.Random(7)
    rows = [
        (i, rnd.randrange(0, 1000), rnd.randrange(0, 1000), i % 7_200_000)
        for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "id long, x long, y long, ts_ms long")
    schema = StorageSchema(
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("x", T.LongType()),
                T.StructField("y", T.LongType()),
                T.StructField("ts_ms", T.LongType()),
            ]
        ),
        num_primary_keys=1,
        update_mode=UpdateMode.OVERWRITE,
    )
    zt = ColumnarTable(spark, str(tmp_path / "z"), schema, TWO_HOURS)
    pt = ColumnarTable(spark, str(tmp_path / "p"), schema, TWO_HOURS)
    zssts = zt.bulk_ingest(df, "ts_ms", cluster_by=["x", "y"], cluster_slices=8)
    pt.bulk_ingest(df, "ts_ms")
    assert len(zssts) == 8  # one segment, eight curve slices

    for pred in ("x >= 900", "y >= 900", "x >= 900 AND y >= 900"):
        zs = zt.scan(ScanRequest(predicate=pred, ordered=False))
        ps = pt.scan(ScanRequest(predicate=pred, ordered=False))
        assert sorted(map(tuple, zs.collect())) == sorted(map(tuple, ps.collect()))
        read = {
            int(f.split("sst=")[1].split("/")[0]) for f in zs.inputFiles()
        }
        # pruning must actually bite: a 10% slab of one dimension cannot
        # need every curve slice
        assert len(read) < len(zssts), (pred, read)


def test_zorder_slices_version_after_previous_writes(spark, tmp_path):
    """Z-sliced fids must stay monotone vs earlier writes so merge-on-read
    versioning (newest seq wins) is preserved."""
    t = ColumnarTable(spark, str(tmp_path / "zv"), kv_schema(), TWO_HOURS)
    first = spark.createDataFrame(
        [(1, 1, 10), (2, 2, 20)], "pk1 long, pk2 long, value long"
    )
    t.write(WriteRequest(first, TimeRange(0, 100)))
    upd = spark.createDataFrame(
        [(1, 1, 111), (2, 2, 222)], "pk1 long, pk2 long, value long"
    )
    # bulk z-ordered rewrite of the same PKs must win
    t.bulk_ingest(upd.withColumn("ts_ms", F.lit(50)), "ts_ms",
                  cluster_by=["value"], cluster_slices=2)
    got = {r.pk1: r.value for r in t.scan(ScanRequest(ordered=False)).collect()}
    assert got == {1: 111, 2: 222}


def test_recluster_restores_zorder_pruning(spark, tmp_path):
    """OPTIMIZE ZORDER maintenance: a plainly-loaded table reads every SST
    for a value predicate; after recluster() the same scan returns identical
    rows but prunes most slices, the input SSTs are gone from manifest and
    disk, and versioning still resolves correctly."""
    import os
    import random

    from horaedb_spark.core.schema import StorageSchema, UpdateMode

    rnd = random.Random(11)
    rows = [
        (i, rnd.randrange(0, 1000), rnd.randrange(0, 1000), i % 7_200_000)
        for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "id long, x long, y long, ts_ms long")
    schema = StorageSchema(
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("x", T.LongType()),
                T.StructField("y", T.LongType()),
                T.StructField("ts_ms", T.LongType()),
            ]
        ),
        num_primary_keys=1,
        update_mode=UpdateMode.OVERWRITE,
    )
    t = ColumnarTable(spark, str(tmp_path / "rz"), schema, TWO_HOURS)
    t.bulk_ingest(df, "ts_ms")  # unclustered: one SST per segment
    before = sorted(map(tuple, t.scan(
        ScanRequest(predicate="x >= 900", ordered=False)).collect()))
    old_paths = [s.path for s in t.manifest.all_ssts()]

    new_ssts = t.recluster("ts_ms", cluster_by=["x", "y"], cluster_slices=8)
    assert len(new_ssts) == 8
    assert {s.file_id for s in t.manifest.all_ssts()} == {
        s.file_id for s in new_ssts
    }
    assert all(not os.path.exists(p) for p in old_paths)

    out = t.scan(ScanRequest(predicate="x >= 900", ordered=False))
    assert sorted(map(tuple, out.collect())) == before
    read = {int(f.split("sst=")[1].split("/")[0]) for f in out.inputFiles()}
    assert len(read) < len(new_ssts)


def test_recluster_registers_outputs_in_one_delta(spark, tmp_path):
    """recluster() adds its outputs, with min_seq, and drops its inputs in
    one manifest delta: the manifest never lists the outputs without it."""
    import os

    t = ColumnarTable(spark, str(tmp_path / "rc1"), kv_schema(), TWO_HOURS)
    mk = lambda rows: spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    t.write(WriteRequest(mk([(i, i, i) for i in range(50)]), TimeRange(0, 100)))
    t.write(WriteRequest(mk([(i, i, i + 100) for i in range(0, 50, 5)]),
                         TimeRange(0, 100)))
    inputs = t.manifest.all_ssts()
    expect = sorted(map(tuple, t.scan(ScanRequest(ordered=False)).collect()))
    mutations = t.manifest.mutations
    deltas = set(os.listdir(t.manifest.delta_dir))

    new_ssts = t.recluster("pk1", cluster_by=["value"], cluster_slices=2)
    assert len(new_ssts) == 2
    assert t.manifest.mutations == mutations + 1
    assert len(set(os.listdir(t.manifest.delta_dir)) - deltas) == 1
    min_in = min(s.file_id for s in inputs)
    assert [s.min_seq for s in t.manifest.all_ssts()] == [min_in, min_in]
    assert {s.file_id for s in t.manifest.all_ssts()} == {s.file_id for s in new_ssts}
    assert sorted(map(tuple, t.scan(ScanRequest(ordered=False)).collect())) == expect


def test_recluster_of_a_fully_deleted_segment_drops_its_inputs(spark, tmp_path):
    """A segment whose rows are all deleted reclusters to nothing: no new
    SST, and one manifest delta drops the data and tombstone inputs."""
    import os

    t = ColumnarTable(spark, str(tmp_path / "rc0"), kv_schema(), TWO_HOURS)
    rows = [(i, i, i) for i in range(5)]
    t.write(WriteRequest(
        spark.createDataFrame(rows, "pk1 long, pk2 long, value long"),
        TimeRange(0, 100),
    ))
    t.delete("pk1 >= 0")
    inputs = t.manifest.all_ssts()
    assert sorted(s.tombstone for s in inputs) == [False, True]
    mutations = t.manifest.mutations

    assert t.recluster("pk1", cluster_by=["value"], cluster_slices=2) == []
    assert t.manifest.all_ssts() == []
    assert t.manifest.mutations == mutations + 1
    assert not any(os.path.exists(s.path) for s in inputs)
    assert t.scan(ScanRequest(ordered=False)).count() == 0


def test_zorder_bulk_ingest_on_an_all_null_cluster_column(spark, tmp_path):
    """A cluster column with no non-NULL value is constant to the z-order:
    every row lands, in one slice."""
    t = ColumnarTable(spark, str(tmp_path / "znull"), kv_schema(), TWO_HOURS)
    rows = [(i, i, None) for i in range(20)]
    df = spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    ssts = t.bulk_ingest(df, "pk1", cluster_by=["value"], cluster_slices=2)
    assert sum(s.num_rows for s in ssts) == 20
    got = sorted(map(tuple, t.scan(ScanRequest(ordered=False)).collect()))
    assert got == rows


def test_recluster_crash_window_scan_stays_correct(spark, tmp_path):
    """Crash-safety of the manifest-swap-before-delete order: in the window
    where the clustered rewrite SSTs are registered but the inputs are not
    yet removed, a scan sees BOTH generations and must still resolve to the
    same rows (new fids outrank old)."""
    t = ColumnarTable(spark, str(tmp_path / "cw"), kv_schema(), TWO_HOURS)
    df = spark.createDataFrame(
        [(i, i, i * 10) for i in range(20)], "pk1 long, pk2 long, value long"
    )
    t.write(WriteRequest(df, TimeRange(0, 100)))
    expect = sorted(map(tuple, t.scan(ScanRequest(ordered=False)).collect()))
    # replay recluster's first half only: merge + clustered re-ingest,
    # NO manifest removal, NO physical delete (the crash window)
    merged = t.scan_ssts(t.manifest.all_ssts(), ScanRequest(ordered=False))
    t.bulk_ingest(
        merged.withColumn("ts_ms", F.lit(50)), "ts_ms",
        cluster_by=["value"], cluster_slices=2,
    )
    both = t.manifest.all_ssts()
    assert len(both) == 3  # original + 2 slices coexist
    got = sorted(map(tuple, t.scan(ScanRequest(ordered=False)).collect()))
    assert got == expect


def test_sql_view_over_merged_table(spark, tmp_path):
    """spark.sql over a registered view sees merge-on-read state (newest seq
    wins) with predicates honored — the SQL-over-tables surface."""
    t = ColumnarTable(spark, str(tmp_path / "sqlv"), kv_schema(), TWO_HOURS)
    mk = lambda rows: spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    t.write(WriteRequest(mk([(1, 1, 10), (2, 2, 20)]), TimeRange(0, 100)))
    t.write(WriteRequest(mk([(1, 1, 11)]), TimeRange(100, 200)))
    t.create_or_replace_view("kv")
    got = {
        (r.pk1, r.pk2): r.value
        for r in spark.sql("SELECT pk1, pk2, value FROM kv WHERE value > 5").collect()
    }
    assert got == {(1, 1): 11, (2, 2): 20}
    agg = spark.sql("SELECT sum(value) AS s FROM kv").first()["s"]
    assert agg == 31


def test_vacuum_removes_only_orphans(spark, tmp_path):
    """vacuum() deletes exactly the unreferenced SST dirs (crash residue)
    and never touches manifest-live ones; scans are unchanged."""
    import os

    t = ColumnarTable(spark, str(tmp_path / "vac"), kv_schema(), TWO_HOURS)
    mk = lambda rows: spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    t.write(WriteRequest(mk([(1, 1, 10)]), TimeRange(0, 100)))
    t.write(WriteRequest(mk([(2, 2, 20)]), TimeRange(100, 200)))
    before = sorted(map(tuple, t.scan(ScanRequest(ordered=False)).collect()))
    # fabricate an orphan: drop one SST from the manifest but keep its files
    victim = t.manifest.all_ssts()[0]
    t.manifest.update([], [victim.file_id])
    assert os.path.exists(victim.path)
    removed = t.vacuum()
    assert removed == [victim.path]
    assert not os.path.exists(victim.path)
    # live SST untouched; scan equals the post-removal manifest state
    after = sorted(map(tuple, t.scan(ScanRequest(ordered=False)).collect()))
    assert len(after) == len(before) - 1
    assert t.vacuum() == []  # idempotent


def test_table_catalog_lifecycle(spark, tmp_path):
    """create / open-by-name (schema + segment duration from persisted
    metadata, data intact across reopen) / list / drop; duplicate create and
    missing open are loud errors."""
    import pytest as _pytest

    from horaedb_spark.storage.catalog import (
        NoSuchTableError,
        TableCatalog,
        TableExistsError,
    )

    cat = TableCatalog(spark, str(tmp_path / "cat"))
    t = cat.create_table("events_kv", kv_schema(), TWO_HOURS)
    mk = lambda rows: spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    t.write(WriteRequest(mk([(1, 1, 10), (2, 2, 20)]), TimeRange(0, 100)))
    assert cat.list_tables() == ["events_kv"]
    with _pytest.raises(TableExistsError):
        cat.create_table("events_kv", kv_schema(), TWO_HOURS)

    reopened = cat.open_table("events_kv")
    assert reopened.segment_duration_ms == TWO_HOURS
    assert list(reopened.schema.primary_keys) == ["pk1", "pk2"]
    got = sorted(map(tuple, reopened.scan(ScanRequest(ordered=False)).collect()))
    assert got == [(1, 1, 10), (2, 2, 20)]

    cat.drop_table("events_kv")
    assert cat.list_tables() == []
    with _pytest.raises(NoSuchTableError):
        cat.open_table("events_kv")


def test_secondary_index_prunes_and_matches(table):
    from horaedb_spark.storage.index import SecondaryIndex

    # pk2 is sparse per file: file 1 has pk2 in {1,2}, file 2 {2,3}, file 3 {9}
    _write(table, [(1, 1, 10), (2, 2, 20)], TimeRange(1, 10))
    _write(table, [(3, 2, 30), (4, 3, 40)], TimeRange(10, 20))
    _write(table, [(5, 9, 50)], TimeRange(20, 30))

    idx = SecondaryIndex(table, "pk2")
    assert idx.build() == 5  # 5 (value, file) postings
    files_for_2 = idx.lookup(2)
    assert len(files_for_2) == 2  # files 1 and 2 only — file 3 pruned

    got = [tuple(r) for r in idx.scan_eq(2).collect()]
    want = [
        tuple(r)
        for r in table.scan(ScanRequest(predicate="pk2 = 2")).collect()
    ]
    assert got == want and len(got) == 2

    # value 9 lives in exactly one file
    assert len(idx.lookup(9)) == 1
    assert [tuple(r) for r in idx.scan_eq(9).collect()] == [(5, 9, 50)]


def test_secondary_index_refuses_non_pk_on_overwrite(table):
    from horaedb_spark.storage.index import SecondaryIndex

    with pytest.raises(ValueError, match="unsound"):
        SecondaryIndex(table, "value")


def test_secondary_index_refresh_incremental_and_rebuild(table):
    from horaedb_spark.storage.index import SecondaryIndex

    _write(table, [(1, 1, 10), (2, 2, 20)], TimeRange(1, 10))
    idx = SecondaryIndex(table, "pk2")
    assert idx.build() == 2

    # incremental: only the new SST is scanned and appended
    _write(table, [(3, 3, 30)], TimeRange(10, 20))
    assert idx.refresh() == 1
    assert len(idx.lookup(3)) == 1
    # no-op refresh
    assert idx.refresh() == 0

    # pk2=2 row rewritten in a later file: posting list gains the new file
    _write(table, [(9, 2, 99)], TimeRange(20, 30))
    assert idx.refresh() == 1
    got = [tuple(r) for r in idx.scan_eq(2).collect()]
    assert got == [(2, 2, 20), (9, 2, 99)]


def test_zero_copy_clone_snapshot_isolation(spark, tmp_path):
    """clone(): instant metadata-only snapshot — same rows, then fully
    independent: writes/deletes on either side stay invisible to the other,
    and the clone's compaction never deletes the source's bytes."""
    import os

    from horaedb_spark.storage.compaction import CompactionTask, Compactor, SchedulerConfig

    t = ColumnarTable(spark, str(tmp_path / "src"), kv_schema(), TWO_HOURS)
    mk = lambda rows: spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    t.write(WriteRequest(mk([(1, 1, 10), (2, 2, 20)]), TimeRange(0, 10)))
    t.write(WriteRequest(mk([(1, 1, 11)]), TimeRange(10, 20)))

    c = t.clone(str(tmp_path / "clone"))
    assert [tuple(r) for r in c.scan().collect()] == [(1, 1, 11), (2, 2, 20)]
    assert all(s.external for s in c.manifest.all_ssts())

    # divergent writes: each table only sees its own
    t.write(WriteRequest(mk([(3, 3, 30)]), TimeRange(20, 30)))
    c.write(WriteRequest(mk([(4, 4, 40)]), TimeRange(20, 30)))
    assert [tuple(r) for r in t.scan().collect()] == [(1, 1, 11), (2, 2, 20), (3, 3, 30)]
    assert [tuple(r) for r in c.scan().collect()] == [(1, 1, 11), (2, 2, 20), (4, 4, 40)]

    # clone-side delete doesn't touch the source
    c.delete("pk1 = 2")
    assert any(tuple(r)[:2] == (2, 2) for r in t.scan().collect())
    assert not any(tuple(r)[:2] == (2, 2) for r in c.scan().collect())

    # clone-side full compaction rewrites into the CLONE's data dir and
    # leaves every shared source file on disk
    src_paths = [s.path for s in t.manifest.all_ssts()]
    comp = Compactor(c, SchedulerConfig(input_sst_min_num=1))
    task = CompactionTask(inputs=sorted(c.manifest.all_ssts(), key=lambda s: s.file_id))
    assert comp.execute(task) is not None
    assert all(os.path.isdir(p) for p in src_paths)
    assert [tuple(r) for r in t.scan().collect()] == [(1, 1, 11), (2, 2, 20), (3, 3, 30)]


def test_deep_clone_survives_source_removal(spark, tmp_path):
    import shutil

    t = ColumnarTable(spark, str(tmp_path / "src2"), kv_schema(), TWO_HOURS)
    mk = lambda rows: spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    t.write(WriteRequest(mk([(1, 1, 10)]), TimeRange(0, 10)))
    c = t.clone(str(tmp_path / "deep"), deep=True)
    shutil.rmtree(str(tmp_path / "src2"))
    assert [tuple(r) for r in c.scan().collect()] == [(1, 1, 10)]


def test_catalog_clone_table(spark, tmp_path):
    from horaedb_spark.storage.catalog import TableCatalog

    cat = TableCatalog(spark, str(tmp_path / "cat"))
    t = cat.create_table("src", kv_schema(), TWO_HOURS)
    mk = lambda rows: spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    t.write(WriteRequest(mk([(1, 1, 10)]), TimeRange(0, 10)))
    c = cat.clone_table("src", "dev")
    assert cat.list_tables() == ["dev", "src"]
    assert [tuple(r) for r in c.scan().collect()] == [(1, 1, 10)]
    # reopen by name; divergent write stays local to the clone
    c2 = cat.open_table("dev")
    c2.write(WriteRequest(mk([(2, 2, 20)]), TimeRange(10, 20)))
    assert cat.open_table("src").scan().count() == 1
    assert cat.open_table("dev").scan().count() == 2
    cat.drop_table("dev")  # dropping the clone must not touch src's bytes
    assert cat.open_table("src").scan().count() == 1


def test_history_and_restore_rollback(spark, tmp_path):
    """restore(as_of_seq) is the instant metadata rollback: bad writes and
    deletes disappear; vacuum then reclaims the orphaned files."""
    import os

    t = ColumnarTable(spark, str(tmp_path / "hist"), kv_schema(), TWO_HOURS)
    mk = lambda rows: spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    t.write(WriteRequest(mk([(1, 1, 10)]), TimeRange(0, 10)))
    good = max(h["file_id"] for h in t.history())
    t.write(WriteRequest(mk([(1, 1, 666)]), TimeRange(10, 20)))   # bad write
    t.delete("pk1 = 1")                                            # bad delete
    assert t.scan().count() == 0
    assert len(t.history()) == 3 and any(h["tombstone"] for h in t.history())

    dropped = t.restore(good)
    assert len(dropped) == 2
    assert [tuple(r) for r in t.scan().collect()] == [(1, 1, 10)]
    removed = t.vacuum()  # orphans of the rollback reclaimed
    assert len(removed) == 2 and all(not os.path.isdir(p) for p in removed)


def test_vacuum_reclaims_crashed_staging_dirs(spark, tmp_path):
    import os

    t = ColumnarTable(spark, str(tmp_path / "vst"), kv_schema(), TWO_HOURS)
    mk = lambda rows: spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    t.write(WriteRequest(mk([(1, 1, 10)]), TimeRange(0, 10)))
    # simulate a crash mid-DML: an orphaned staging dir under the root
    os.makedirs(os.path.join(t.root, "_staging_dml_999", "x"))
    removed = t.vacuum()
    assert any("_staging_dml_999" in p for p in removed)
    assert not os.path.exists(os.path.join(t.root, "_staging_dml_999"))
    assert t.scan().count() == 1  # live data untouched
