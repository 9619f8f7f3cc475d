"""Bucketed-table support: pre-partitioned co-located joins without a
shuffle — SURVEY.md §4's deferred optimization, demonstrated and asserted.

At 100 TB, bucketing the fact tables on their join key replaces the
per-query exchange of the biggest table with a one-time layout cost."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory, sf_dir):
    from horaedb_spark.queries.tables import load_table

    # saveAsTable writes into the session warehouse dir configured at startup
    import shutil

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS o_bucketed")
    # DROP only removes catalog metadata for tables created by a previous
    # session; clear the stale warehouse dirs too
    warehouse_dir = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for name in ("li_bucketed", "o_bucketed"):
        shutil.rmtree(f"{warehouse_dir}/{name}", ignore_errors=True)
    (
        li.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable("li_bucketed")
    )
    (
        o.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable("o_bucketed")
    )
    return True


def test_bucketed_join_has_no_shuffle(spark, warehouse):
    li = spark.table("li_bucketed")
    o = spark.table("o_bucketed")
    # disable auto-broadcast: at test scale AQE would broadcast the small
    # side, hiding the co-location property we're demonstrating (at 100 TB
    # neither fact side broadcasts — bucketing is what removes the shuffle)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderstatus").count()
        )
        joined.collect()  # materialize so AQE finalizes the plan
        plan = joined._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]  # keep only the final plan
        assert "SortMergeJoin" in plan, plan[:2000]
        # co-located: no exchange below the join (the only exchange allowed
        # is the one feeding the final aggregation)
        join_subtree = plan.split("SortMergeJoin", 1)[1]
        assert "Exchange" not in join_subtree, join_subtree[:1500]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_matches_unbucketed(spark, warehouse, sf_dir):
    from horaedb_spark.queries.tables import load_table

    li = spark.table("li_bucketed")
    o = spark.table("o_bucketed")
    got = {
        (r[0], r[1])
        for r in li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .count()
        .collect()
    }
    li2 = load_table(spark, sf_dir, "lineitem")
    o2 = load_table(spark, sf_dir, "orders")
    expect = {
        (r[0], r[1])
        for r in li2.join(o2, li2.l_orderkey == o2.o_orderkey)
        .groupBy("o_orderstatus")
        .count()
        .collect()
    }
    assert got == expect


# ------------------------------------------------- maintained bucketed mirror


def _mk_table(spark, tmp_path, name="bt"):
    from pyspark.sql import types as T

    from horaedb_spark.core.schema import StorageSchema, UpdateMode
    from horaedb_spark.storage.bucketed import BucketSpec
    from horaedb_spark.storage.table import ColumnarTable

    schema = StorageSchema(
        T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("ts_ms", T.LongType()),
                T.StructField("v", T.DoubleType()),
            ]
        ),
        num_primary_keys=1,
        update_mode=UpdateMode.OVERWRITE,
    )
    return ColumnarTable(
        spark,
        str(tmp_path / name),
        schema,
        1000,
        bucket_spec=BucketSpec(4, ("k",)),
    )


def _rows(spark, rows):
    return spark.createDataFrame(rows, "k long, ts_ms long, v double")


def _assert_bucketed_self_join_no_exchange(spark, t):
    """Self-join on the bucket column: row-correct AND exchange-free below
    the SortMergeJoin — the property that would silently break if any
    maintenance path (initial build, incremental insertInto, compaction)
    wrote files that don't honor the catalog bucket spec."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = t.bucketed_scan(auto_refresh=False).alias("a")
        b = t.bucketed_scan(auto_refresh=False).alias("b")
        j = a.join(b, "k").groupBy("a.ts_ms").count()
        # bucket-assuming join answers must equal the plain-scan equivalent
        sa = t.scan().alias("a")
        sb = t.scan().alias("b")
        ref = sa.join(sb, "k").groupBy("a.ts_ms").count()
        assert sorted(map(tuple, j.collect())) == sorted(map(tuple, ref.collect()))
        plan = j._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin" in plan, plan[:1500]
        assert "Exchange" not in plan.split("SortMergeJoin", 1)[1], plan[:1500]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_mirror_serves_merged_state_and_skips_exchange(spark, tmp_path):
    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.table import WriteRequest

    t = _mk_table(spark, tmp_path)
    t.write(WriteRequest(_rows(spark, [(1, 100, 1.0), (2, 200, 2.0)]), TimeRange(0, 1000)))
    t.write(WriteRequest(_rows(spark, [(1, 100, 9.0)]), TimeRange(0, 1000)))  # overwrite
    t.write(WriteRequest(_rows(spark, [(3, 1500, 3.0)]), TimeRange(1000, 2000)))
    served = t.bucketed_scan()
    got = sorted((r.k, r.ts_ms, r.v) for r in served.collect())
    want = sorted((r.k, r.ts_ms, r.v) for r in t.scan().collect())
    assert got == want == [(1, 100, 9.0), (2, 200, 2.0), (3, 1500, 3.0)]
    # repeated joins/aggs on the bucket column skip the exchange
    _assert_bucketed_self_join_no_exchange(spark, t)


def test_bucketed_mirror_incremental_refresh_and_staleness(spark, tmp_path):
    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.table import WriteRequest

    t = _mk_table(spark, tmp_path, "bt2")
    t.write(WriteRequest(_rows(spark, [(1, 100, 1.0)]), TimeRange(0, 1000)))
    t.write(WriteRequest(_rows(spark, [(2, 1100, 2.0)]), TimeRange(1000, 2000)))
    stats = t.refresh_bucketed()
    assert stats["rebuilt"] is True
    assert t.bucketed.is_fresh()
    # touch ONE segment -> exactly that partition rewritten, no rebuild
    t.write(WriteRequest(_rows(spark, [(9, 1200, 9.0)]), TimeRange(1000, 2000)))
    assert not t.bucketed.is_fresh()
    with pytest.raises(RuntimeError, match="stale"):
        t.bucketed_scan(auto_refresh=False)
    stats = t.refresh_bucketed()
    assert stats == {
        "rebuilt": False,
        "reregistered": False,
        "overwritten": [1000],
        "dropped": [],
    }
    got = sorted((r.k, r.v) for r in t.bucketed_scan(auto_refresh=False).collect())
    assert got == [(1, 1.0), (2, 2.0), (9, 9.0)]
    # the incremental insertInto path must PRESERVE the bucketed layout:
    # plain-scan content equality alone would pass even if the overwritten
    # partition's files ignored the bucket spec — the exchange-free join
    # would then silently return wrong rows
    _assert_bucketed_self_join_no_exchange(spark, t)


def test_bucketed_mirror_second_instance_refresh_is_noop(spark, tmp_path):
    """ADVICE r10: _stored() memoizes the mirror meta for the instance
    lifetime, so an instance whose manifest view advanced (CAS-race
    _refresh picking up another writer's deltas) but whose meta memo did
    not would schedule a REDUNDANT full-partition rewrite for work the
    other instance already did. refresh() now re-reads the meta from the
    backend before deciding — the second refresh must collapse to a
    metadata no-op."""
    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.table import WriteRequest

    a = _mk_table(spark, tmp_path, "bt_multi")
    a.write(WriteRequest(_rows(spark, [(1, 100, 1.0)]), TimeRange(0, 1000)))
    assert a.refresh_bucketed()["rebuilt"] is True  # a's meta memo now set

    # second instance over the SAME root (migrate_legacy-style reopen)
    b = _mk_table(spark, tmp_path, "bt_multi")
    b.write(WriteRequest(_rows(spark, [(2, 200, 2.0)]), TimeRange(0, 1000)))
    stats_b = b.refresh_bucketed()
    assert stats_b["overwritten"] == [0] and not stats_b["rebuilt"]

    # a picks up b's manifest delta (the multi-writer resync path) but its
    # meta memo still describes the PRE-b mirror
    a.manifest._refresh()
    stats_a = a.refresh_bucketed()
    assert stats_a == {
        "rebuilt": False,
        "reregistered": False,
        "overwritten": [],
        "dropped": [],
    }, f"redundant rewrite not elided: {stats_a}"
    got = sorted((r.k, r.v) for r in a.bucketed_scan(auto_refresh=False).collect())
    assert got == [(1, 1.0), (2, 2.0)]


def test_compaction_maintains_bucketed_mirror(spark, tmp_path):
    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.compaction import Compactor, SchedulerConfig
    from horaedb_spark.storage.table import WriteRequest

    t = _mk_table(spark, tmp_path, "bt3")
    t.write(WriteRequest(_rows(spark, [(1, 100, 1.0)]), TimeRange(0, 1000)))
    t.write(WriteRequest(_rows(spark, [(1, 100, 5.0)]), TimeRange(0, 1000)))
    t.refresh_bucketed()
    comp = Compactor(t, SchedulerConfig())
    from horaedb_spark.storage.compaction import CompactionTask

    task = CompactionTask(inputs=list(t.manifest.all_ssts()))
    assert comp.execute(task) is not None
    # the mirror followed the compaction WITHOUT a manual refresh
    assert t.bucketed.is_fresh()
    got = [(r.k, r.v) for r in t.bucketed_scan(auto_refresh=False).collect()]
    assert got == [(1, 5.0)]


def _partition_files(t, seg):
    """{file name: mtime_ns} of one mirror partition directory."""
    import os

    d = os.path.join(t.bucketed._warehouse_location(), f"__segment__={seg}")
    return {n: os.stat(os.path.join(d, n)).st_mtime_ns for n in os.listdir(d)}


def _count_refreshes(t):
    """Record every BucketedMirror.refresh() call on ``t``'s mirror."""
    calls = []
    mirror = t.bucketed
    orig = mirror.refresh

    def counted():
        calls.append(1)
        return orig()

    mirror.refresh = counted
    return calls


def _assert_mirror_equals_scan(t):
    served = t.bucketed_scan(auto_refresh=False)
    got = sorted(map(tuple, served.select("k", "ts_ms", "v").collect()))
    want = sorted(map(tuple, t.scan().select("k", "ts_ms", "v").collect()))
    assert got == want
    return got


def test_compaction_rekeys_fresh_partition_without_rewrite(spark, tmp_path):
    """Compacting a segment the mirror built from exactly its pre-compaction
    SST set re-keys the partition in the meta: its parquet files stay (same
    names and mtimes), no refresh() runs, and the mirror stays fresh and
    equal to scan()."""
    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.bucketed import _ids_digest
    from horaedb_spark.storage.compaction import CompactionTask, Compactor
    from horaedb_spark.storage.table import WriteRequest

    t = _mk_table(spark, tmp_path, "bt_rekey")
    t.write(WriteRequest(_rows(spark, [(1, 100, 1.0), (2, 200, 2.0)]), TimeRange(0, 1000)))
    t.write(WriteRequest(_rows(spark, [(1, 100, 5.0)]), TimeRange(0, 1000)))
    t.write(WriteRequest(_rows(spark, [(3, 1500, 3.0)]), TimeRange(1000, 2000)))
    t.refresh_bucketed()
    files0, files1 = _partition_files(t, 0), _partition_files(t, 1000)
    calls = _count_refreshes(t)

    seg0 = [s for s in t.manifest.all_ssts() if s.time_range.start == 0]
    new = Compactor(t).execute(CompactionTask(inputs=seg0))
    assert new is not None
    assert calls == []
    assert _partition_files(t, 0) == files0
    assert _partition_files(t, 1000) == files1
    assert t.bucketed._stored()["segments"]["0"] == _ids_digest([new.file_id])
    assert t.bucketed.is_fresh()
    assert _assert_mirror_equals_scan(t) == [
        (1, 100, 5.0), (2, 200, 2.0), (3, 1500, 3.0)
    ]
    _assert_bucketed_self_join_no_exchange(spark, t)


def test_compaction_before_mirror_saw_latest_write_refreshes(spark, tmp_path):
    """A write the mirror has not seen makes the segment's stored digest
    differ from its pre-compaction SST set: no re-key, the compaction's
    refresh() rewrites the partition, and the mirror serves the write."""
    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.compaction import CompactionTask, Compactor
    from horaedb_spark.storage.table import WriteRequest

    t = _mk_table(spark, tmp_path, "bt_rekey_stale")
    t.write(WriteRequest(_rows(spark, [(1, 100, 1.0)]), TimeRange(0, 1000)))
    t.write(WriteRequest(_rows(spark, [(2, 200, 2.0)]), TimeRange(0, 1000)))
    t.refresh_bucketed()
    t.write(WriteRequest(_rows(spark, [(4, 400, 4.0)]), TimeRange(0, 1000)))
    files0 = _partition_files(t, 0)
    calls = _count_refreshes(t)

    # compact the two SSTs the mirror saw; the third stays beside the output
    seg0 = sorted(t.manifest.all_ssts(), key=lambda s: s.file_id)[:2]
    assert Compactor(t).execute(CompactionTask(inputs=seg0)) is not None
    assert calls == [1]
    assert _partition_files(t, 0) != files0
    assert t.bucketed.is_fresh()
    assert _assert_mirror_equals_scan(t) == [
        (1, 100, 1.0), (2, 200, 2.0), (4, 400, 4.0)
    ]


def test_compaction_expiring_an_sst_of_its_segment_rewrites_partition(spark, tmp_path):
    """TTL expiry drops rows, so a task that compacts a segment AND expires
    one of its SSTs must not re-key: the partition is rewritten without the
    expired rows."""
    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.compaction import Compactor, SchedulerConfig
    from horaedb_spark.storage.table import WriteRequest

    t = _mk_table(spark, tmp_path, "bt_rekey_ttl")
    t.write(WriteRequest(_rows(spark, [(7, 5, 7.0)]), TimeRange(0, 10)))
    t.write(WriteRequest(_rows(spark, [(1, 600, 1.0)]), TimeRange(500, 1000)))
    t.write(WriteRequest(_rows(spark, [(1, 600, 2.0), (2, 700, 2.0)]), TimeRange(500, 1000)))
    t.refresh_bucketed()
    files0 = _partition_files(t, 0)
    calls = _count_refreshes(t)

    # watermark 100: the [0, 10) SST expires, the other two compact
    comp = Compactor(t, SchedulerConfig(input_sst_min_num=2, ttl_ms=1000))
    assert len(comp.run_all(now_ms=1100)) == 1
    assert len(t.manifest.all_ssts()) == 1
    assert calls == [1]
    assert _partition_files(t, 0) != files0
    assert t.bucketed.is_fresh()
    assert _assert_mirror_equals_scan(t) == [(1, 600, 2.0), (2, 700, 2.0)]


def test_run_all_rekeys_every_compacted_segment(spark, tmp_path):
    """run_all compacts two segments on its task pool; both partitions are
    re-keyed, none is rewritten, and no refresh() runs: the swap and the
    re-key of one task hold the mirror's lock, so the other task never
    sees a segment swapped but not yet re-keyed."""
    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.compaction import Compactor, SchedulerConfig
    from horaedb_spark.storage.table import WriteRequest

    t = _mk_table(spark, tmp_path, "bt_rekey_all")
    for seg in (0, 1000):
        tr = TimeRange(seg, seg + 1000)
        t.write(WriteRequest(_rows(spark, [(1, seg + 1, 1.0), (2, seg + 2, 2.0)]), tr))
        t.write(WriteRequest(_rows(spark, [(1, seg + 1, 3.0)]), tr))
    t.refresh_bucketed()
    files = {seg: _partition_files(t, seg) for seg in (0, 1000)}
    calls = _count_refreshes(t)

    out = Compactor(t, SchedulerConfig(input_sst_min_num=2)).run_all()
    assert len(out) == 2
    assert calls == []
    assert {seg: _partition_files(t, seg) for seg in (0, 1000)} == files
    assert t.bucketed.is_fresh()
    assert _assert_mirror_equals_scan(t) == [
        (1, 1, 3.0), (1, 1001, 3.0), (2, 2, 2.0), (2, 1002, 2.0)
    ]


def test_concurrent_refreshes_of_one_mirror(spark, tmp_path):
    """Threads refreshing one mirror with two changed segments (as
    Compactor.run_all's task pool does): none raises, and the mirror serves
    exactly scan() (no partition dropped or appended twice) and reports
    fresh."""
    import sys
    import threading

    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.table import WriteRequest

    t = _mk_table(spark, tmp_path, "bt_race_refresh")
    t.write(WriteRequest(_rows(spark, [(1, 100, 1.0)]), TimeRange(0, 1000)))
    t.write(WriteRequest(_rows(spark, [(2, 1100, 2.0)]), TimeRange(1000, 2000)))
    t.refresh_bucketed()
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for trial in range(3):
            for seg in (0, 1000):
                row = (10 + trial + seg, seg + 200 + trial, 1.0)
                t.write(WriteRequest(_rows(spark, [row]), TimeRange(seg, seg + 1000)))
            barrier = threading.Barrier(6)
            errors = []

            def refresh():
                barrier.wait(timeout=60)
                try:
                    t.refresh_bucketed()
                except Exception as e:  # noqa: BLE001 — asserted below
                    errors.append(e)

            threads = [threading.Thread(target=refresh) for _ in range(6)]
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=300)
            assert not any(th.is_alive() for th in threads)
            assert errors == []
            assert t.bucketed.is_fresh()
            assert len(_assert_mirror_equals_scan(t)) == 2 * (trial + 2)
    finally:
        sys.setswitchinterval(switch)


def test_bucketed_mirror_tracks_dml_and_random_ops(spark, tmp_path):
    """Falsifier sweep: after any interleaving of writes, DELETEs, UPDATEs
    and compactions, a refreshed mirror serves EXACTLY table.scan() — the
    mirror is a layout, never a semantic fork. Deterministic 12-op script
    covering every mutation class the table supports."""
    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.compaction import (
        CompactionTask,
        Compactor,
        SchedulerConfig,
    )
    from horaedb_spark.storage.table import WriteRequest

    t = _mk_table(spark, tmp_path, "bt4")
    comp = Compactor(t, SchedulerConfig())

    def w(rows, seg):
        t.write(WriteRequest(_rows(spark, rows), TimeRange(seg, seg + 1000)))

    w([(1, 100, 1.0), (2, 200, 2.0), (3, 300, 3.0)], 0)
    w([(4, 1100, 4.0), (5, 1200, 5.0)], 1000)
    w([(2, 200, 2.5)], 0)                      # version overwrite
    t.delete("k = 3")                           # tombstone
    w([(6, 2100, 6.0)], 2000)
    t.update("k = 5", {"v": "55.0"})            # value mutation
    seg0 = [s for s in t.manifest.all_ssts()
            if s.time_range.start == 0]
    if len(seg0) > 1:
        comp.execute(CompactionTask(inputs=seg0))  # compact segment 0
    w([(1, 100, 1.5)], 0)                       # post-compaction overwrite
    t.delete("k = 6")                           # delete a whole segment's rows

    t.refresh_bucketed()  # serve() would read the stale segments merge-on-read
    got = sorted(map(tuple, t.bucketed_scan().select("k", "ts_ms", "v").collect()))
    want = sorted(map(tuple, t.scan().select("k", "ts_ms", "v").collect()))
    assert got == want
    assert got == [(1, 100, 1.5), (2, 200, 2.5), (4, 1100, 4.0), (5, 1200, 55.0)]
    # and the mirror is structurally fresh (no pending partitions)
    assert t.bucketed.is_fresh()


def test_bucket_spec_change_forces_rebuild(spark, tmp_path):
    """The BucketSpec is part of the freshness token: reopening the table
    with a different bucket count must NOT serve (or extend) the old
    layout — refresh() rebuilds under the new spec."""
    from pyspark.sql import types as T

    from horaedb_spark.core.schema import StorageSchema, UpdateMode
    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.bucketed import BucketSpec
    from horaedb_spark.storage.table import ColumnarTable, WriteRequest

    schema = StorageSchema(
        T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("ts_ms", T.LongType()),
                T.StructField("v", T.DoubleType()),
            ]
        ),
        num_primary_keys=1,
        update_mode=UpdateMode.OVERWRITE,
    )
    root = str(tmp_path / "spec")
    t4 = ColumnarTable(spark, root, schema, 1000,
                       bucket_spec=BucketSpec(4, ("k",)))
    t4.write(WriteRequest(_rows(spark, [(1, 100, 1.0), (2, 200, 2.0)]),
                          TimeRange(0, 1000)))
    t4.refresh_bucketed()
    assert t4.bucketed.is_fresh()
    # same root, different spec: stale until rebuilt, then 8 buckets
    t8 = ColumnarTable(spark, root, schema, 1000,
                       bucket_spec=BucketSpec(8, ("k",)))
    assert not t8.bucketed.is_fresh()
    stats = t8.refresh_bucketed()
    assert stats["rebuilt"] is True
    assert t8.bucketed.is_fresh()
    got = sorted((r.k, r.v) for r in t8.bucketed_scan(auto_refresh=False).collect())
    assert got == [(1, 1.0), (2, 2.0)]
    # and the catalog table really carries the new bucket count
    ddl = spark.sql(f"SHOW CREATE TABLE {t8.bucketed.name}").first()[0]
    assert "8 BUCKETS" in ddl.upper(), ddl


def test_bucketed_mirror_on_fake_s3_rooted_table(spark):
    """The mirror composes with an object-store-rooted table: SST reads go
    through the backend, the freshness meta lands next to the manifest in
    the bucket, and only the CATALOG mirror lives in the local warehouse
    (the serving copy's location is a deployment choice)."""
    import uuid

    from pyspark.sql import types as T

    from horaedb_spark.core.schema import StorageSchema, UpdateMode
    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.backend import FakeS3Backend
    from horaedb_spark.storage.bucketed import BucketSpec
    from horaedb_spark.storage.table import ColumnarTable, WriteRequest

    schema = StorageSchema(
        T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("ts_ms", T.LongType()),
                T.StructField("v", T.DoubleType()),
            ]
        ),
        num_primary_keys=1,
        update_mode=UpdateMode.OVERWRITE,
    )
    root = f"s3://horaedb-test/bkt_{uuid.uuid4().hex[:8]}"
    t = ColumnarTable(
        spark, root, schema, 1000,
        backend=FakeS3Backend(), bucket_spec=BucketSpec(4, ("k",)),
    )
    t.write(WriteRequest(
        spark.createDataFrame([(1, 100, 1.0), (2, 200, 2.0)],
                              "k long, ts_ms long, v double"),
        TimeRange(0, 1000),
    ))
    got = sorted((r.k, r.v) for r in t.bucketed_scan().collect())
    assert got == [(1, 1.0), (2, 2.0)]
    # the freshness meta is an OBJECT in the bucket, not a local file
    assert t.backend.exists(f"{root}/bucketed.json")
    assert t.bucketed.is_fresh()


def test_restart_reregisters_over_existing_files_without_write_job(spark, tmp_path):
    """A new session loses the in-memory catalog entry but keeps the
    warehouse files. When the stored per-segment digests still match the
    manifest, serve() must RE-REGISTER the catalog table over the existing
    files — metadata only, no Spark write job — instead of rmtree + full
    rebuild (at 100 TB a restart must not rewrite the mirror)."""
    import os
    import shutil

    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.table import WriteRequest

    t = _mk_table(spark, tmp_path, "btr")
    t.write(WriteRequest(_rows(spark, [(1, 100, 1.0), (2, 200, 2.0)]), TimeRange(0, 1000)))
    t.write(WriteRequest(_rows(spark, [(3, 1500, 3.0)]), TimeRange(1000, 2000)))
    t.refresh_bucketed()
    want = sorted(map(tuple, t.bucketed_scan().select("k", "ts_ms", "v").collect()))

    # simulate the restart: catalog entry gone, warehouse files intact
    # (DROP TABLE on the managed mirror deletes its files, so stash them)
    loc = t.bucketed._warehouse_location()
    stash = str(tmp_path / "stash")
    shutil.copytree(loc, stash)
    spark.sql(f"DROP TABLE {t.bucketed.name}")
    shutil.copytree(stash, loc)
    assert not t.bucketed._exists()

    sc = spark.sparkContext
    sc.setJobGroup("reregister", "reregister")
    try:
        got = sorted(map(tuple, t.bucketed_scan().select("k", "ts_ms", "v").collect()))
    finally:
        sc.setJobGroup("reregister-done", "clear")
    assert got == want
    # metadata-only: the only jobs in the group are the serving READ —
    # compare against a plain re-read of the already-registered table
    n_total = len(sc.statusTracker().getJobIdsForGroup("reregister"))
    sc.setJobGroup("reread", "reread")
    try:
        t.bucketed_scan().select("k", "ts_ms", "v").collect()
    finally:
        sc.setJobGroup("reread-done", "clear")
    n_read = len(sc.statusTracker().getJobIdsForGroup("reread"))
    assert n_total <= n_read + 1, (n_total, n_read)  # +1: MSCK partition listing
    # the re-registered (external) mirror still skips the exchange and
    # keeps serving correct rows through a subsequent incremental refresh
    _assert_bucketed_self_join_no_exchange(spark, t)
    t.write(WriteRequest(_rows(spark, [(9, 1600, 9.0)]), TimeRange(1000, 2000)))
    stats = t.refresh_bucketed()
    assert stats["rebuilt"] is False and stats["overwritten"] == [1000]
    got = sorted(map(tuple, t.bucketed_scan().select("k", "ts_ms", "v").collect()))
    assert got == [(1, 100, 1.0), (2, 200, 2.0), (3, 1500, 3.0), (9, 1600, 9.0)]
    _assert_bucketed_self_join_no_exchange(spark, t)


def test_restart_with_digest_drift_rebuilds(spark, tmp_path):
    """Counter-case to re-registration: catalog entry gone AND the manifest
    moved on since the files were written -> the files are NOT current, so
    refresh() must rebuild, not re-register."""
    import shutil

    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.table import WriteRequest

    t = _mk_table(spark, tmp_path, "btd")
    t.write(WriteRequest(_rows(spark, [(1, 100, 1.0)]), TimeRange(0, 1000)))
    t.refresh_bucketed()
    loc = t.bucketed._warehouse_location()
    stash = str(tmp_path / "stash2")
    shutil.copytree(loc, stash)
    spark.sql(f"DROP TABLE {t.bucketed.name}")
    shutil.copytree(stash, loc)
    # manifest moves on while the catalog is gone
    t.write(WriteRequest(_rows(spark, [(1, 100, 7.0)]), TimeRange(0, 1000)))
    stats = t.refresh_bucketed()
    assert stats["rebuilt"] is True and stats["reregistered"] is False
    got = [(r.k, r.v) for r in t.bucketed_scan(auto_refresh=False).collect()]
    assert got == [(1, 7.0)]


def test_mirror_build_is_one_scan_regardless_of_segment_count(spark, tmp_path):
    """The initial mirror build (and any multi-segment incremental refresh)
    reads ALL its SSTs in ONE parquet scan node with __segment__ from
    partition discovery — not a per-segment union of scans: at 100 TB a
    thousand-segment table must not compile a thousand-subtree plan."""
    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.table import WriteRequest

    def scan_nodes(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("Relation") + plan.count("LogicalRDD")

    t1 = _mk_table(spark, tmp_path, "one")
    t1.write(WriteRequest(_rows(spark, [(1, 100, 1.0)]), TimeRange(0, 1000)))
    t6 = _mk_table(spark, tmp_path, "six")
    for i in range(6):
        t6.write(
            WriteRequest(
                _rows(spark, [(i, i * 1000 + 1, float(i))]),
                TimeRange(i * 1000, (i + 1) * 1000),
            )
        )
    segs1 = [0]
    segs6 = [i * 1000 for i in range(6)]
    n1 = scan_nodes(t1.bucketed._segments_frame(segs1))
    n6 = scan_nodes(t6.bucketed._segments_frame(segs6))
    assert n1 == n6 == 1, (n1, n6)
    # and the built mirror still serves the right rows
    t6.refresh_bucketed()
    got = sorted((r.k, r.v) for r in t6.bucketed_scan(auto_refresh=False).collect())
    assert got == [(i, float(i)) for i in range(6)]


def test_schema_change_invalidates_mirror(spark, tmp_path):
    """A schema evolution/migration changes scan OUTPUT without touching
    the manifest, so SST digests alone would call the mirror fresh while
    it lacks the new column (and an existence default would read back as
    NULL from its files). The schema is part of the freshness token:
    refresh() must full-rebuild after either change."""
    from pyspark.sql import types as T

    from horaedb_spark.core.schema import StorageSchema
    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.table import WriteRequest

    t = _mk_table(spark, tmp_path, "bts")
    t.write(WriteRequest(_rows(spark, [(1, 100, 1.0)]), TimeRange(0, 1000)))
    t.refresh_bucketed()
    assert t.bucketed.is_fresh()
    # evolution: new nullable value column
    t.evolve_schema([T.StructField("note", T.StringType(), True)])
    assert not t.bucketed.is_fresh()
    stats = t.refresh_bucketed()
    assert stats["rebuilt"] is True
    rows = t.bucketed_scan(auto_refresh=False).collect()
    assert [(r.k, r.v, r.note) for r in rows] == [(1, 1.0, None)]
    # migration: added PK column with an existence default — the mirror
    # must serve the DEFAULT for pre-migration rows, not NULL
    L, D = T.LongType(), T.DoubleType()
    t.migrate_schema(
        StorageSchema(
            T.StructType(
                [
                    T.StructField("k", L),
                    T.StructField("shard", L),
                    T.StructField("ts_ms", L),
                    T.StructField("v", D),
                    T.StructField("note", T.StringType(), True),
                ]
            ),
            num_primary_keys=2,
            column_defaults={"shard": 7},
        )
    )
    assert not t.bucketed.is_fresh()
    stats = t.refresh_bucketed()
    assert stats["rebuilt"] is True
    rows = t.bucketed_scan(auto_refresh=False).collect()
    assert [(r.k, r.shard, r.v) for r in rows] == [(1, 7, 1.0)]


def test_reregistration_requires_all_partition_dirs(spark, tmp_path):
    """Digests hash SOURCE SST ids — they cannot see a mirror partition
    directory deleted while no session was running. Re-registration must
    verify every live segment's directory survived; a hole falls back to
    a full rebuild instead of serving a silently incomplete table as
    fresh forever."""
    import shutil

    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.table import WriteRequest

    t = _mk_table(spark, tmp_path, "bth")
    t.write(WriteRequest(_rows(spark, [(1, 100, 1.0)]), TimeRange(0, 1000)))
    t.write(WriteRequest(_rows(spark, [(2, 1100, 2.0)]), TimeRange(1000, 2000)))
    t.refresh_bucketed()
    loc = t.bucketed._warehouse_location()
    stash = str(tmp_path / "stash3")
    shutil.copytree(loc, stash)
    spark.sql(f"DROP TABLE {t.bucketed.name}")
    shutil.copytree(stash, loc)
    shutil.rmtree(f"{loc}/__segment__=1000")  # the hole
    stats = t.refresh_bucketed()
    assert stats["rebuilt"] is True and stats["reregistered"] is False
    got = sorted((r.k, r.v) for r in t.bucketed_scan(auto_refresh=False).collect())
    assert got == [(1, 1.0), (2, 2.0)]


def test_rebuild_on_external_mirror_rewrites_files(spark, tmp_path):
    """After a restart the mirror is EXTERNAL (DROP TABLE keeps its files);
    rebuild() — the documented hammer for suspect mirror files — must
    still physically rewrite, not degenerate into a metadata-only
    re-register over the suspect files."""
    import glob
    import shutil

    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.table import WriteRequest

    t = _mk_table(spark, tmp_path, "btx")
    t.write(WriteRequest(_rows(spark, [(1, 100, 1.0)]), TimeRange(0, 1000)))
    t.refresh_bucketed()
    loc = t.bucketed._warehouse_location()
    stash = str(tmp_path / "stash4")
    shutil.copytree(loc, stash)
    spark.sql(f"DROP TABLE {t.bucketed.name}")
    shutil.copytree(stash, loc)
    stats = t.refresh_bucketed()
    assert stats["reregistered"] is True  # now external
    before = set(glob.glob(f"{loc}/**/*.parquet", recursive=True))
    stats = t.bucketed.rebuild()
    assert stats["rebuilt"] is True and stats["reregistered"] is False
    after = set(glob.glob(f"{loc}/**/*.parquet", recursive=True))
    assert after and after.isdisjoint(before), (before, after)
    got = [(r.k, r.v) for r in t.bucketed_scan(auto_refresh=False).collect()]
    assert got == [(1, 1.0)]


def test_restart_reregisters_with_empty_merged_segment(spark, tmp_path):
    """A live segment whose merged state is EMPTY (every row tombstoned by
    a DELETE) has no partition directory — partitionBy writes nothing for
    it, by design. The restart re-registration guard must treat that
    segment as validly absent (meta records which partitions were actually
    written), not as a hole that forces a full rebuild on every new
    session forever."""
    import shutil

    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.table import WriteRequest

    t = _mk_table(spark, tmp_path, "btes")
    t.write(
        WriteRequest(
            _rows(spark, [(1, 100, 1.0), (2, 200, 2.0)]), TimeRange(0, 1000)
        )
    )
    t.write(WriteRequest(_rows(spark, [(3, 1500, 3.0)]), TimeRange(1000, 2000)))
    t.delete(F.col("ts_ms") < 1000)  # empties segment 0's merged state
    t.refresh_bucketed()
    want = sorted(
        map(tuple, t.bucketed_scan().select("k", "ts_ms", "v").collect())
    )
    assert want == [(3, 1500, 3.0)]

    for round_ in range(2):  # must hold across REPEATED restarts
        loc = t.bucketed._warehouse_location()
        stash = str(tmp_path / f"stash{round_}")
        shutil.copytree(loc, stash)
        spark.sql(f"DROP TABLE {t.bucketed.name}")
        shutil.rmtree(loc, ignore_errors=True)
        shutil.copytree(stash, loc)
        stats = t.refresh_bucketed()
        assert stats["reregistered"] and not stats["rebuilt"], (round_, stats)
        got = sorted(
            map(tuple, t.bucketed_scan().select("k", "ts_ms", "v").collect())
        )
        assert got == want


def test_bucketed_mirror_restart_interleaved_with_mutations(spark, tmp_path):
    """Falsifier sweep for the RESTART path: session restarts (catalog
    entry lost, warehouse files kept) interleaved among writes, DELETEs,
    UPDATEs and a compaction. Invariants at every step: a restart that
    follows a CLEAN refresh re-registers (metadata-only, never a rebuild),
    including while a segment's merged state is empty and again after it
    refills; and the mirror always serves exactly table.scan()."""
    import shutil

    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.compaction import (
        CompactionTask,
        Compactor,
        SchedulerConfig,
    )
    from horaedb_spark.storage.table import WriteRequest

    t = _mk_table(spark, tmp_path, "btsoak")
    comp = Compactor(t, SchedulerConfig())
    n_restarts = [0]

    def restart():
        n_restarts[0] += 1
        loc = t.bucketed._warehouse_location()
        stash = str(tmp_path / f"soak_stash_{n_restarts[0]}")
        shutil.copytree(loc, stash)
        spark.sql(f"DROP TABLE {t.bucketed.name}")
        shutil.rmtree(loc, ignore_errors=True)
        shutil.copytree(stash, loc)
        stats = t.refresh_bucketed()
        assert stats["reregistered"] and not stats["rebuilt"], (
            n_restarts[0],
            stats,
        )

    def check():
        got = sorted(
            map(tuple, t.bucketed_scan().select("k", "ts_ms", "v").collect())
        )
        want = sorted(map(tuple, t.scan().select("k", "ts_ms", "v").collect()))
        assert got == want
        return got

    def w(rows, seg):
        t.write(WriteRequest(_rows(spark, rows), TimeRange(seg, seg + 1000)))

    w([(1, 100, 1.0), (2, 200, 2.0), (3, 300, 3.0)], 0)
    w([(4, 1100, 4.0), (5, 1200, 5.0)], 1000)
    t.refresh_bucketed()
    restart()                                   # clean restart
    check()

    t.delete("ts_ms < 1000")                    # empties segment 0
    t.update("k = 5", {"v": "55.0"})
    t.refresh_bucketed()
    restart()                                   # restart WITH an empty segment
    assert check() == [(4, 1100, 4.0), (5, 1200, 55.0)]

    w([(7, 150, 7.0)], 0)                       # segment 0 refills
    seg0 = [s for s in t.manifest.all_ssts() if s.time_range.start == 0]
    if len(seg0) > 1:
        comp.execute(CompactionTask(inputs=seg0))
    t.refresh_bucketed()
    restart()                                   # restart after refill+compaction
    assert check() == [(4, 1100, 4.0), (5, 1200, 55.0), (7, 150, 7.0)]
    assert t.bucketed.is_fresh()


def test_live_digest_memo_tracks_manifest_mutations(spark, tmp_path):
    """The freshness fold is memoized on the manifest's live-set mutation
    counter: repeated serves with no writes reuse the SAME digest dict
    (O(1) steady-state serving), while any write invalidates it and
    staleness is still detected through the memo."""
    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.table import WriteRequest

    t = _mk_table(spark, tmp_path, "btmemo")
    t.write(WriteRequest(_rows(spark, [(1, 100, 1.0)]), TimeRange(0, 1000)))
    t.refresh_bucketed()
    assert t.bucketed.is_fresh()
    d1 = t.bucketed._live_digests()
    d2 = t.bucketed._live_digests()
    assert d1 is d2  # memo hit: no refold between unmutated reads

    t.write(WriteRequest(_rows(spark, [(2, 1500, 2.0)]), TimeRange(1000, 2000)))
    d3 = t.bucketed._live_digests()
    assert d3 is not d1 and set(d3) > set(d1)  # write invalidated the memo
    assert not t.bucketed.is_fresh()  # staleness detected through the memo
    t.refresh_bucketed()
    assert t.bucketed.is_fresh()
    got = sorted(map(tuple, t.bucketed_scan().select("k", "ts_ms", "v").collect()))
    assert got == [(1, 100, 1.0), (2, 1500, 2.0)]


def test_refresh_does_not_drop_concurrent_writers_new_segment(spark, tmp_path):
    """Follow-up to the meta re-read hardening: a segment present in the
    re-read meta but ABSENT from this instance's manifest view may be one
    a concurrent writer ingested after our last log sync — dropping its
    partition would delete live rows from the mirror while the writer
    still reports fresh. refresh() must re-sync the manifest before
    trusting a removal."""
    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.table import WriteRequest

    a = _mk_table(spark, tmp_path, "bt_race")
    a.write(WriteRequest(_rows(spark, [(1, 100, 1.0)]), TimeRange(0, 1000)))
    a.refresh_bucketed()

    b = _mk_table(spark, tmp_path, "bt_race")
    # a writes into segment 0 (making itself mirror-stale), THEN b lands a
    # NEW segment and refreshes — b's delta is later than a's last sync
    a.write(WriteRequest(_rows(spark, [(2, 200, 2.0)]), TimeRange(0, 1000)))
    b.manifest._refresh()  # b picks up a's delta (the CAS resync path)
    b.write(WriteRequest(_rows(spark, [(9, 1500, 9.0)]), TimeRange(1000, 2000)))
    b.refresh_bucketed()
    assert {int(s) for s in b.bucketed._stored()["segments"]} == {0, 1000}

    # a's manifest still lacks b's segment-1000 delta; its refresh must
    # NOT drop that partition
    stats = a.refresh_bucketed()
    assert stats["dropped"] == [], stats
    got = sorted((r.k, r.v) for r in a.bucketed_scan(auto_refresh=False).collect())
    assert got == [(1, 1.0), (2, 2.0), (9, 9.0)]
    # and the genuine-removal path still works: expire nothing here, but
    # the no-op refresh must have left the meta covering both segments
    assert {int(s) for s in a.bucketed._stored()["segments"]} == {0, 1000}


def test_refresh_meta_write_preserves_concurrent_refresh_digests(spark, tmp_path):
    """ADVICE r11: the final meta write in refresh() is last-writer-wins
    (no backend CAS), so a concurrent refresh's meta landing BETWEEN this
    instance's initial meta read and its final put_text used to be
    clobbered — the concurrent segment's digest vanished and the next
    refresh redundantly rewrote an already-current partition. refresh()
    now re-reads the meta just before writing and carries forward digests
    for segments it neither observed live nor dropped. Simulated by
    pinning instance a's _stored() to the PRE-b meta while the backend
    holds b's newer one (exactly the in-flight-race interleaving)."""
    import json

    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.table import WriteRequest

    a = _mk_table(spark, tmp_path, "bt_meta_race")
    a.write(WriteRequest(_rows(spark, [(1, 100, 1.0)]), TimeRange(0, 1000)))
    a.refresh_bucketed()
    stale_meta = json.loads(a.backend.read_text(a.bucketed._meta_path))

    # concurrent instance lands a NEW segment and refreshes: backend meta
    # now covers {0, 1000}, but a's manifest never saw segment 1000
    b = _mk_table(spark, tmp_path, "bt_meta_race")
    b.write(WriteRequest(_rows(spark, [(9, 1500, 9.0)]), TimeRange(1000, 2000)))
    b.refresh_bucketed()
    assert {int(s) for s in b.bucketed._stored()["segments"]} == {0, 1000}

    # simulate "b's meta write raced into a's refresh window": a's initial
    # read returns the stale pre-b meta, the backend holds b's newer one
    a.bucketed._stored = lambda: stale_meta
    stats = a.refresh_bucketed()
    del a.bucketed.__dict__["_stored"]
    assert stats["dropped"] == [] and stats["overwritten"] == [], stats

    # b's segment-1000 digest must have been carried forward, so b's next
    # refresh stays a metadata no-op instead of a redundant rewrite
    final = json.loads(a.backend.read_text(a.bucketed._meta_path))
    assert {int(s) for s in final["segments"]} == {0, 1000}, final["segments"]
    stats_b = b.refresh_bucketed()
    assert stats_b["overwritten"] == [] and stats_b["dropped"] == [], stats_b
    got = sorted((r.k, r.v) for r in b.bucketed_scan(auto_refresh=False).collect())
    assert got == [(1, 1.0), (9, 9.0)]


@pytest.mark.slow
def test_mirror_multiwriter_ttl_interleaving_soak(spark, tmp_path):
    """VERDICT r11 task 3: randomized interleavings of TWO table instances
    over one root — writes into random segments, manifest resyncs, mirror
    refreshes, and TTL compaction dropping old segments — generalizing the
    hand-built r11 regression (a concurrent writer's segment classified as
    removed) into a soak. After every mirror-changing step the acting
    instance's mirror must serve EXACTLY its merge-on-read state: no lost
    partition (rows missing from the mirror) and no double-served
    partition (rows appended without the matching drop). Deterministic
    seed; N via SOAK_INTERLEAVINGS (default 100)."""
    import os
    import random

    from horaedb_spark.storage.compaction import Compactor, SchedulerConfig

    n_rounds = int(os.environ.get("SOAK_INTERLEAVINGS", "100"))
    rng = random.Random(0xC0FFEE)
    a = _mk_table(spark, tmp_path, "bt_soak_ttl")
    b = _mk_table(spark, tmp_path, "bt_soak_ttl")
    tables = [a, b]
    next_k = [0]
    lo_seg = [0]  # TTL cutoff floor: segments below never get new writes
    hi_seg = [3]

    def do_write(x) -> None:
        seg = rng.randint(lo_seg[0], hi_seg[0])
        k = next_k[0]
        next_k[0] += 1
        from horaedb_spark.core.timeutil import TimeRange
        from horaedb_spark.storage.table import WriteRequest

        x.write(
            WriteRequest(
                _rows(spark, [(k, seg * 1000 + rng.randint(0, 999), float(k))]),
                TimeRange(seg * 1000, (seg + 1) * 1000),
            )
        )

    def check(x) -> None:
        if not x.bucketed.is_fresh():
            x.refresh_bucketed()
        got = sorted((r.k, r.ts_ms, r.v) for r in
                     x.bucketed_scan(auto_refresh=False).collect())
        want = sorted((r.k, r.ts_ms, r.v) for r in x.scan().collect())
        assert got == want, (
            f"mirror/scan divergence: {len(got)} mirror rows vs "
            f"{len(want)} scanned; extra={set(got)-set(want)} "
            f"missing={set(want)-set(got)}"
        )

    do_write(a)
    a.refresh_bucketed()
    for rnd in range(n_rounds):
        op = rng.choice(["write", "write", "write", "resync", "refresh", "ttl"])
        x = tables[rng.randrange(2)]
        if op == "write":
            do_write(x)
            # writes advance the live window so TTL always has a tail
            if rng.random() < 0.3:
                hi_seg[0] += 1
        elif op == "resync":
            x.manifest._refresh()
        elif op == "refresh":
            x.refresh_bucketed()
            check(x)
        else:  # TTL: expire everything below the acting instance's newest
            ssts = list(x.manifest.all_ssts())
            if not ssts:
                continue
            cutoff = max(s.time_range.end for s in ssts) - 1000
            if cutoff <= lo_seg[0] * 1000:
                continue
            lo_seg[0] = cutoff // 1000  # no future writes below the cutoff
            comp = Compactor(
                x, SchedulerConfig(input_sst_min_num=999, ttl_ms=1)
            )
            for _ in range(8):
                if all(s.time_range.end >= cutoff + 1
                       for s in x.manifest.all_ssts()):
                    break
                comp.run_once(now_ms=cutoff + 2)
            check(x)
    # final: both instances fully synced must converge to identical state
    for x in tables:
        x.manifest._refresh()
        x.refresh_bucketed()
        check(x)
    sa = sorted((r.k, r.ts_ms, r.v) for r in a.scan().collect())
    sb = sorted((r.k, r.ts_ms, r.v) for r in b.scan().collect())
    assert sa == sb


# ------------------------------------- stale segments served merge-on-read


def _mirror_plan(df) -> str:
    df.collect()  # finalize the adaptive plan
    return df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]


def test_stale_mirror_serves_merge_on_read_without_writing(spark, tmp_path):
    """Once the mirror exists, serve() never writes: after an overwrite, a
    DELETE tombstone and a brand-new segment it returns the fresh
    partitions unioned with a merge-on-read scan of the stale segments,
    row-equal to scan(), and the background refresher brings the mirror
    up to date. The dedup Window sits only above the stale segments' SST
    scan; the fresh partitions come from the mirror's table scan. With
    every segment stale the merge-on-read scan is served alone."""
    import re

    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.table import WriteRequest

    t = _mk_table(spark, tmp_path, "bt_hybrid")
    t.write(WriteRequest(_rows(spark, [(1, 100, 1.0), (2, 200, 2.0)]), TimeRange(0, 1000)))
    t.write(WriteRequest(_rows(spark, [(3, 1100, 3.0), (4, 1200, 4.0)]), TimeRange(1000, 2000)))
    t.bucketed_scan()  # the missing mirror is built inline
    assert t.bucketed.is_fresh()
    mirror = t.bucketed.name

    steps = [
        lambda: t.write(WriteRequest(_rows(spark, [(1, 100, 9.0)]), TimeRange(0, 1000))),
        lambda: t.delete("k = 3"),
        lambda: t.write(WriteRequest(_rows(spark, [(5, 2500, 5.0)]), TimeRange(2000, 3000))),
    ]
    for step in steps:
        step()
        with pytest.raises(RuntimeError, match="stale"):
            t.bucketed_scan(auto_refresh=False)
        served = t.bucketed_scan()
        got = sorted(map(tuple, served.select("k", "ts_ms", "v").collect()))
        want = sorted(map(tuple, t.scan().select("k", "ts_ms", "v").collect()))
        assert got == want
        plan = _mirror_plan(served)
        assert "Union" in plan, plan[:3000]
        assert len(re.findall(r"\bWindow \[", plan)) == 1, plan[:3000]
        # the Window's subtree scans SST paths; the mirror branch reads
        # the catalog table with the stale segments pruned away
        window_subtree = plan.split("Window [", 1)[1]
        assert f"spark_catalog.default.{mirror}" not in window_subtree, plan[:3000]
        assert re.search(
            rf"spark_catalog\.default\.{mirror}.*PartitionFilters: \[[^\]]*NOT ",
            plan,
        ), plan[:3000]
        t.bucketed.join()
        assert t.bucketed.is_fresh()
        fresh = t.bucketed_scan()
        assert "Window" not in _mirror_plan(fresh)
        assert sorted(map(tuple, fresh.select("k", "ts_ms", "v").collect())) == want
    # every live segment stale: the merge-on-read scan alone
    for seg in (0, 1000, 2000):
        t.write(WriteRequest(_rows(spark, [(7, seg + 700, 7.0)]), TimeRange(seg, seg + 1000)))
    served = t.bucketed_scan()
    got = sorted(map(tuple, served.select("k", "ts_ms", "v").collect()))
    assert got == sorted(map(tuple, t.scan().select("k", "ts_ms", "v").collect()))
    plan = _mirror_plan(served)
    assert "Union" not in plan and f"spark_catalog.default.{mirror}" not in plan, plan[:3000]
    t.bucketed.join()
    _assert_bucketed_self_join_no_exchange(spark, t)


def test_stale_mirror_leaves_out_a_segment_that_is_gone(spark, tmp_path):
    """A segment the mirror stores but the manifest no longer holds (TTL
    expiry by another handle that keeps no mirror) is left out of the
    served frame until the refresher drops its partition."""
    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.compaction import Compactor, SchedulerConfig
    from horaedb_spark.storage.table import ColumnarTable, WriteRequest

    t = _mk_table(spark, tmp_path, "bt_gone")
    t.write(WriteRequest(_rows(spark, [(1, 100, 1.0)]), TimeRange(0, 1000)))
    t.write(WriteRequest(_rows(spark, [(2, 1500, 2.0)]), TimeRange(1000, 2000)))
    t.refresh_bucketed()
    plain = ColumnarTable(spark, t.root, t.schema, 1000)  # no mirror upkeep
    Compactor(plain, SchedulerConfig(input_sst_min_num=999, ttl_ms=1)).run_once(
        now_ms=1002
    )
    assert {s.time_range.start for s in plain.manifest.all_ssts()} == {1000}
    t.manifest._refresh()
    assert "0" in t.bucketed._stored()["segments"]
    got = sorted(map(tuple, t.bucketed_scan().select("k", "ts_ms", "v").collect()))
    assert got == [(2, 1500, 2.0)]
    t.bucketed.join()
    assert t.bucketed.is_fresh()
    assert sorted(map(tuple, t.bucketed_scan().select("k", "ts_ms", "v").collect())) == got


def test_failed_background_refresh_is_logged_and_rescheduled(spark, tmp_path, caplog):
    """A background refresh that fails logs a warning with its traceback;
    the stale rows are still served merge-on-read, and the next serve()
    schedules the refresh again. Each serve of a stale mirror emits one
    debug record naming its fresh and stale partitions and the
    refresher's state."""
    import logging
    import threading

    from horaedb_spark.core.timeutil import TimeRange
    from horaedb_spark.storage.table import WriteRequest

    t = _mk_table(spark, tmp_path, "bt_fail")
    t.write(WriteRequest(_rows(spark, [(1, 100, 1.0)]), TimeRange(0, 1000)))
    t.write(WriteRequest(_rows(spark, [(2, 1500, 2.0)]), TimeRange(1000, 2000)))
    t.refresh_bucketed()
    t.write(WriteRequest(_rows(spark, [(3, 1600, 3.0)]), TimeRange(1000, 2000)))
    mirror = t.bucketed
    real = mirror._refresh_locked
    release = threading.Event()

    def failing():
        release.wait(timeout=60)
        raise OSError("injected refresh failure")

    mirror._refresh_locked = failing
    want = sorted(map(tuple, t.scan().select("k", "ts_ms", "v").collect()))
    caplog.clear()
    with caplog.at_level(logging.DEBUG, logger="horaedb_spark.storage.bucketed"):
        first = t.bucketed_scan()
        second = t.bucketed_scan()  # while the refresher is still running
        release.set()
        mirror.join()
    serves = [r.mirror_serve for r in caplog.records if hasattr(r, "mirror_serve")]
    assert serves == [
        {"root": t.root, "fresh": 1, "stale": [1000], "refresher": "started"},
        {"root": t.root, "fresh": 1, "stale": [1000], "refresher": "running"},
    ]
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    # the re-run flag the second serve set runs the refresh once more
    assert len(warnings) == 2 and all(r.exc_info for r in warnings), warnings
    assert "injected refresh failure" in caplog.text
    assert not mirror.is_fresh()
    for df in (first, second, t.bucketed_scan()):
        assert sorted(map(tuple, df.select("k", "ts_ms", "v").collect())) == want
    mirror.join()
    del mirror._refresh_locked
    assert mirror._refresh_locked == real
    t.bucketed_scan()  # re-schedules the refresh
    mirror.join()
    assert mirror.is_fresh()
    got = t.bucketed_scan()
    assert "Window" not in _mirror_plan(got)
    assert sorted(map(tuple, got.select("k", "ts_ms", "v").collect())) == want
