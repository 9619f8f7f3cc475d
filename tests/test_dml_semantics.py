"""SQL semantics for predicate scans after version-mutating DML, restore
bounded by compaction, clone leases, and the single-segment compaction guard.

These pin the round-4 soundness fixes: (1) a predicate scan must never
resurrect a stale version after update()/merge_into() — filter-before-merge
and col-stats file skipping switch to key-only pushdown + post-merge
evaluation once a value-mutated SST is in the scanned set; (2) restore() and
as_of_seq refuse to cross a compaction whose inputs were physically deleted;
(3) zero-copy clone leases defer the source's physical deletes; (4) a
hand-built multi-segment CompactionTask is rejected; (5) the staged writer
behind bulk_ingest and the DML verbs floors pre-epoch segments, numbers
each call's SSTs from one fresh base, and registers nothing for an empty
write.
"""

import os

import pytest

from horaedb_spark.core.timeutil import TimeRange
from horaedb_spark.storage.backend import ObjectStoreBackend, PosixBackend
from horaedb_spark.storage.catalog import TableCatalog
from horaedb_spark.storage.compaction import CompactionTask, Compactor, SchedulerConfig
from horaedb_spark.storage.table import ColumnarTable, ScanRequest, WriteRequest
from tests.test_storage import TWO_HOURS, kv_schema


def _mk(spark, rows):
    return spark.createDataFrame(rows, "pk1 long, pk2 long, value long")


# ------------------------------------------- predicate scans after update DML


def test_update_then_predicate_scan_does_not_resurrect(spark, tmp_path):
    """The ADVICE scenario: update('value > 5' -> 0) then scan(predicate=
    'value > 5') must NOT return the old value-7 row."""
    t = ColumnarTable(spark, str(tmp_path / "u"), kv_schema(), TWO_HOURS)
    t.write(WriteRequest(_mk(spark, [(1, 1, 7), (2, 2, 3)]), TimeRange(0, 100)))
    t.update("value > 5", {"value": "0"})
    out = t.scan(ScanRequest(predicate="value > 5", ordered=False))
    assert out.collect() == []
    # and the merged state itself is right
    assert sorted(tuple(r) for r in t.scan().collect()) == [(1, 1, 0), (2, 2, 3)]


def test_update_stats_skipping_does_not_resurrect(spark, tmp_path):
    """The update's new version (value=0, out of the predicate's range) lands
    in its own SST whose col-stats would skip it under naive value pruning —
    the old SST would then win the merge. Key-only skipping must keep it."""
    t = ColumnarTable(spark, str(tmp_path / "us"), kv_schema(), TWO_HOURS)
    t.write(WriteRequest(_mk(spark, [(1, 1, 900)]), TimeRange(0, 100)))
    t.update("value >= 500", {"value": "5"})
    assert [s for s in t.manifest.all_ssts() if s.value_mutated]
    out = t.scan(ScanRequest(predicate="value >= 500", ordered=False))
    assert out.collect() == []


def test_update_predicate_with_projection(spark, tmp_path):
    """Post-merge predicate columns are carried through the merge even when
    the projection excludes them; the output still narrows to the
    projection."""
    t = ColumnarTable(spark, str(tmp_path / "up"), kv_schema(), TWO_HOURS)
    t.write(WriteRequest(_mk(spark, [(1, 1, 7), (2, 2, 900)]), TimeRange(0, 100)))
    t.update("value > 500", {"value": "1"})
    out = t.scan(ScanRequest(predicate="value > 5", projections=["pk1"]))
    assert out.columns == ["pk1"]
    assert [r.pk1 for r in out.collect()] == [1]


def test_update_key_conjunct_still_pushed(spark, tmp_path):
    """Mixed predicate: the pk conjunct prunes pre-merge (PushedFilters shows
    it) while the value conjunct is decided post-merge."""
    t = ColumnarTable(spark, str(tmp_path / "uk"), kv_schema(), TWO_HOURS)
    t.write(WriteRequest(_mk(spark, [(1, 1, 7), (2, 2, 7)]), TimeRange(0, 100)))
    t.update("pk1 = 1", {"value": "0"})
    from tests.test_plans import plan_of

    df = t.scan(ScanRequest(predicate="pk1 = 1 AND value > 5", ordered=False))
    plan = plan_of(df)
    assert "PushedFilters: [" in plan and "pk1" in plan.split("PushedFilters")[1][:200]
    assert df.collect() == []  # current state value=0 fails the value conjunct


def test_merge_into_then_predicate_scan(spark, tmp_path):
    t = ColumnarTable(spark, str(tmp_path / "mi"), kv_schema(), TWO_HOURS)
    t.write(WriteRequest(_mk(spark, [(1, 1, 700)]), TimeRange(0, 100)))
    src = spark.createDataFrame([(1, 1, 2, 50)], "pk1 long, pk2 long, value long, ts long")
    t.merge_into(src, "ts", when_matched_update={"value": "2"})
    out = t.scan(ScanRequest(predicate="value >= 500", ordered=False))
    assert out.collect() == []


def test_plain_writes_keep_reference_filter_before_merge(spark, tmp_path):
    """No DML: the reference's filter-before-merge semantic (A3) is
    unchanged — the old version matching the predicate merges alone and
    survives (pinned also by test_stats_pruning_respects_overwrite_merge)."""
    t = ColumnarTable(spark, str(tmp_path / "pw"), kv_schema(), TWO_HOURS)
    t.write(WriteRequest(_mk(spark, [(1, 1, 900)]), TimeRange(0, 100)))
    t.write(WriteRequest(_mk(spark, [(1, 1, 5)]), TimeRange(100, 200)))
    out = t.scan(ScanRequest(predicate="value >= 500", ordered=False))
    assert [(r.pk1, r.value) for r in out.collect()] == [(1, 900)]


def test_full_segment_compaction_clears_value_mutated(spark, tmp_path):
    t = ColumnarTable(spark, str(tmp_path / "cm"), kv_schema(), TWO_HOURS)
    for i in range(5):
        t.write(WriteRequest(_mk(spark, [(i, i, 900)]), TimeRange(0, 100)))
    t.update("pk1 = 0", {"value": "1"})
    assert any(s.value_mutated for s in t.manifest.all_ssts())
    out = Compactor(t, SchedulerConfig(input_sst_min_num=2)).run_once()
    assert out is not None and not out.value_mutated
    assert not any(s.value_mutated for s in t.manifest.all_ssts())
    # divergence collapsed: fast-path predicate scan is correct again
    got = t.scan(ScanRequest(predicate="value >= 500", ordered=False))
    assert sorted(r.pk1 for r in got.collect()) == [1, 2, 3, 4]


def test_partial_compaction_keeps_value_mutated(spark, tmp_path):
    t = ColumnarTable(spark, str(tmp_path / "pm"), kv_schema(), TWO_HOURS)
    for i in range(4):
        t.write(WriteRequest(_mk(spark, [(i, i, 900)]), TimeRange(0, 100)))
    t.update("pk1 = 0", {"value": "1"})
    ssts = t.manifest.all_ssts()
    task = CompactionTask(inputs=ssts[-2:])  # not all files of the segment
    out = Compactor(t).execute(task)
    assert out is not None and out.value_mutated
    # the scan over the remaining set still uses SQL semantics
    got = t.scan(ScanRequest(predicate="value >= 500", ordered=False))
    assert sorted(r.pk1 for r in got.collect()) == [1, 2, 3]


# --------------------------------------------- restore bounded by compaction


def _compacted_table(spark, path):
    t = ColumnarTable(spark, str(path), kv_schema(), TWO_HOURS)
    fids = []
    for i in range(5):
        s = t.write(WriteRequest(_mk(spark, [(i, i, i * 10)]), TimeRange(0, 100)))
        fids.append(s.file_id)
    out = Compactor(t, SchedulerConfig(input_sst_min_num=2)).run_once()
    assert out is not None
    return t, fids, out


def test_restore_refuses_to_cross_compaction(spark, tmp_path):
    t, fids, out = _compacted_table(spark, tmp_path / "r1")
    assert out.effective_min_seq == fids[0]
    with pytest.raises(ValueError, match="compacted"):
        t.restore(fids[2])
    # nothing was dropped
    assert {s.file_id for s in t.manifest.all_ssts()} == {out.file_id}
    # force drops anyway (documented data loss)
    t.restore(fids[2], force=True)
    assert t.manifest.all_ssts() == []


def test_restore_at_or_after_compaction_is_fine(spark, tmp_path):
    t, fids, out = _compacted_table(spark, tmp_path / "r2")
    extra = t.write(WriteRequest(_mk(spark, [(9, 9, 90)]), TimeRange(0, 100)))
    assert t.restore(out.file_id) == [extra.file_id]
    assert sorted(r.pk1 for r in t.scan().collect()) == [0, 1, 2, 3, 4]


def test_as_of_scan_refuses_to_cross_compaction(spark, tmp_path):
    t, fids, out = _compacted_table(spark, tmp_path / "r3")
    with pytest.raises(ValueError, match="snapshot"):
        t.scan(ScanRequest(as_of_seq=fids[2]))
    # at/after the compaction output the snapshot is complete
    assert t.scan(ScanRequest(as_of_seq=out.file_id)).count() == 5


# ------------------------------------------------------------- clone leases


def test_drop_source_refused_while_clone_lives(spark, tmp_path):
    cat = TableCatalog(spark, str(tmp_path / "cat"))
    src = cat.create_table("src", kv_schema(), TWO_HOURS)
    src.write(WriteRequest(_mk(spark, [(1, 1, 10)]), TimeRange(0, 100)))
    cat.clone_table("src", "dev")
    with pytest.raises(RuntimeError, match="clones still reference"):
        cat.drop_table("src")
    # dropping the clone releases the lease; then the source drops cleanly
    cat.drop_table("dev")
    cat.drop_table("src")
    assert cat.list_tables() == []


def test_source_compaction_defers_deletes_under_clone(spark, tmp_path):
    cat = TableCatalog(spark, str(tmp_path / "cat2"))
    src = cat.create_table("src", kv_schema(), TWO_HOURS)
    for i in range(5):
        src.write(WriteRequest(_mk(spark, [(i, i, i)]), TimeRange(0, 100)))
    clone = cat.clone_table("src", "dev")
    before = sorted(tuple(r) for r in clone.scan().collect())
    # source compacts: manifest swaps, but the clone-referenced bytes stay
    out = Compactor(src, SchedulerConfig(input_sst_min_num=2)).run_once()
    assert out is not None
    assert sorted(tuple(r) for r in clone.scan().collect()) == before
    # vacuum on the source also defers while the lease lives
    src.vacuum()
    assert sorted(tuple(r) for r in clone.scan().collect()) == before
    # release the lease: vacuum now reclaims the orphaned inputs
    cat.drop_table("dev")
    removed = src.vacuum()
    assert len(removed) == 5
    assert sorted(tuple(r) for r in src.scan().collect()) == before


def test_stale_lease_is_reclaimed(spark, tmp_path):
    import shutil

    cat = TableCatalog(spark, str(tmp_path / "cat3"))
    src = cat.create_table("src", kv_schema(), TWO_HOURS)
    src.write(WriteRequest(_mk(spark, [(1, 1, 10)]), TimeRange(0, 100)))
    cat.clone_table("src", "dev")
    # a clone removed behind the catalog's back leaves a stale lease
    shutil.rmtree(os.path.join(str(tmp_path / "cat3"), "dev"))
    assert src.live_clone_roots() == []
    cat.drop_table("src")  # no refusal


# ------------------------------------------- compaction task segment guard


def test_multi_segment_compaction_task_rejected(spark, tmp_path):
    t = ColumnarTable(spark, str(tmp_path / "ms"), kv_schema(), TWO_HOURS)
    a = t.write(WriteRequest(_mk(spark, [(1, 1, 1)]), TimeRange(0, 100)))
    b = t.write(
        WriteRequest(_mk(spark, [(2, 2, 2)]), TimeRange(TWO_HOURS, TWO_HOURS + 100))
    )
    with pytest.raises(ValueError, match="segments"):
        Compactor(t).execute(CompactionTask(inputs=[a, b]))


def test_partial_segment_recluster_rejected(spark, tmp_path):
    t = ColumnarTable(spark, str(tmp_path / "pr"), kv_schema(), TWO_HOURS)
    t.write(WriteRequest(_mk(spark, [(1, 1, 1)]), TimeRange(0, 100)))
    t.write(WriteRequest(_mk(spark, [(2, 2, 2)]), TimeRange(1000, 2000)))
    with pytest.raises(ValueError, match="partial segment"):
        t.recluster("pk1", cluster_by=["value"], time_range=TimeRange(0, 500))


# ------------------------------------ the staged writer: ids, floors, no-ops


@pytest.mark.parametrize(
    "backend_cls", [PosixBackend, ObjectStoreBackend], ids=lambda c: c.name
)
def test_staged_writes_floor_pre_epoch_segments_and_skip_empty(
    spark, tmp_path, backend_cls
):
    """bulk_ingest, delete, update and merge_into share one staged writer.
    Through every verb a pre-epoch key (ts < 0) lands in the floored
    segment and reads back; each call's SSTs are numbered
    ``fid_base + floor(segment / dur)`` from one fresh base (stamped as the
    rows' ``__seq__`` too), distinct from every other call's; and a call
    that writes no rows appends no manifest delta and leaves no staging."""
    from pyspark.sql import types as T

    from horaedb_spark.core.schema import StorageSchema, UpdateMode

    dur = TWO_HOURS
    schema = StorageSchema(
        T.StructType(
            [T.StructField(c, T.LongType()) for c in ("k", "ts", "value")]
        ),
        num_primary_keys=2,
        update_mode=UpdateMode.OVERWRITE,
    )
    root = str(tmp_path / "staged")
    t = ColumnarTable(spark, root, schema, dur, backend=backend_cls())
    mk = lambda rows: spark.createDataFrame(rows, "k long, ts long, value long")

    def written(call, segments):
        """Run one writing call. Its SSTs cover ``segments`` and share one
        base above every id already in the manifest; each SST's rows carry
        its file id as ``__seq__``."""
        prior = max((s.file_id for s in t.manifest.all_ssts()), default=-1)
        ssts = call()
        assert sorted(s.time_range.start for s in ssts) == sorted(segments)
        (base,) = {s.file_id - s.time_range.start // dur for s in ssts}
        assert base - (1 << 31) > prior
        for s in ssts:
            assert s.time_range.end == s.time_range.start + dur
            seqs = spark.read.parquet(t.backend.spark_path(s.path))
            assert [r[0] for r in seqs.select("__seq__").distinct().collect()] == [
                s.file_id
            ]
        bases.append(base)
        return ssts

    bases: list[int] = []
    bulk = written(
        lambda: t.bulk_ingest(mk([(1, -5, 10), (2, -5, 20), (3, 1000, 30)]), "ts"),
        [-dur, 0],
    )
    assert not any(s.tombstone or s.value_mutated for s in bulk)
    (upd,) = written(lambda: t.update("k = 1", {"value": "11"}), [-dur])
    assert upd.value_mutated and not upd.tombstone
    (dele,) = written(lambda: t.delete("k = 2"), [-dur])
    assert dele.tombstone and not dele.value_mutated
    # matched update in segment 0, not-matched pre-epoch insert
    merged = written(
        lambda: t.merge_into(mk([(3, 1000, 33), (4, -7, 40)]), "ts"), [-dur, 0]
    )
    assert all(s.tombstone and s.value_mutated for s in merged)

    assert len(set(bases)) == 4  # every call drew its own base
    ids = [s.file_id for s in t.manifest.all_ssts()]
    assert len(ids) == len(set(ids)) == 6
    assert [tuple(r) for r in t.scan().collect()] == [
        (1, -5, 11),
        (4, -7, 40),
        (3, 1000, 33),
    ]

    # no rows written: nothing registered, no delta, no staging residue
    before, listing = t.manifest.mutations, sorted(t.backend.list_dir(root))
    assert t.bulk_ingest(mk([]), "ts") == []
    assert t.delete("k = 999") == []
    assert t.manifest.mutations == before
    assert sorted(t.backend.list_dir(root)) == listing
