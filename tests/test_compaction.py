"""Compaction tests mirroring picker.rs:201-236 (segment grouping, expiry,
in-compaction exclusion) plus an end-to-end executor round trip."""

from horaedb_spark.core.timeutil import TimeRange
from horaedb_spark.storage.compaction import Compactor, SchedulerConfig, pick_candidate
from horaedb_spark.storage.manifest import SstFile
from horaedb_spark.storage.table import ColumnarTable, ScanRequest, WriteRequest
from tests.test_storage import TWO_HOURS, kv_schema


def _sst(i, start, end, size=10, in_compaction=False):
    return SstFile(
        file_id=i,
        path=f"/nonexistent/sst={i}",
        time_range=TimeRange(start, end),
        max_sequence=i,
        num_rows=1,
        size_bytes=size,
        in_compaction=in_compaction,
    )


def test_picker_groups_by_segment_and_prefers_newest():
    # segments of duration 10: files |0 1|2 3|4| like picker.rs:201-236
    ssts = [
        _sst(0, 0, 5),
        _sst(1, 5, 10),
        _sst(2, 10, 15),
        _sst(3, 15, 20),
        _sst(4, 20, 25),
    ]
    cfg = SchedulerConfig(input_sst_min_num=2)
    task = pick_candidate(ssts, 10, cfg, now_ms=100)
    # newest segment (20) has only 1 file < min 2; segment 10 has 2 -> picked
    assert [s.file_id for s in task.inputs] == [2, 3]
    assert task.expired == []


def test_picker_expires_ttl_files():
    ssts = [_sst(0, 0, 5), _sst(1, 5, 10), _sst(2, 10, 15), _sst(3, 15, 20)]
    cfg = SchedulerConfig(input_sst_min_num=2, ttl_ms=10)
    # now=25 -> expire_before=15 -> files ending <15 (0,1) expired
    task = pick_candidate(ssts, 10, cfg, now_ms=25)
    assert [s.file_id for s in task.expired] == [0, 1]
    assert [s.file_id for s in task.inputs] == [2, 3]


def test_picker_excludes_in_compaction():
    ssts = [_sst(0, 0, 5, in_compaction=True), _sst(1, 5, 10), _sst(2, 6, 9)]
    cfg = SchedulerConfig(input_sst_min_num=2)
    task = pick_candidate(ssts, 10, cfg, now_ms=100)
    assert [s.file_id for s in task.inputs] == [1, 2]


def test_picker_respects_size_cap():
    big = 1 << 30
    ssts = [_sst(i, 0, 5, size=big) for i in range(4)]
    cfg = SchedulerConfig(input_sst_min_num=1)
    task = pick_candidate(ssts, 10, cfg, now_ms=100)
    # 1.1x 1GiB cap: first file always fits, second would exceed
    assert len(task.inputs) == 1


def test_compaction_end_to_end(spark, tmp_path):
    t = ColumnarTable(spark, str(tmp_path / "c"), kv_schema(), TWO_HOURS)
    mk = lambda rows: spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    for i in range(5):
        t.write(WriteRequest(mk([(1, 1, i), (2, 2, 100 + i)]), TimeRange(i * 10, i * 10 + 10)))
    before = [tuple(r) for r in t.scan().collect()]
    assert before == [(1, 1, 4), (2, 2, 104)]
    assert len(t.manifest.all_ssts()) == 5

    new_sst = Compactor(t, SchedulerConfig(input_sst_min_num=2)).run_once(now_ms=0)
    assert new_sst is not None
    assert len(t.manifest.all_ssts()) == 1
    assert new_sst.num_rows == 2
    after = [tuple(r) for r in t.scan().collect()]
    assert after == before  # scan result unchanged by compaction

    # a post-compaction write still wins the merge (seq ordering preserved)
    t.write(WriteRequest(mk([(1, 1, 999)]), TimeRange(50, 60)))
    assert [tuple(r) for r in t.scan().collect()] == [(1, 1, 999), (2, 2, 104)]


def test_compaction_ttl_deletes_expired(spark, tmp_path):
    t = ColumnarTable(spark, str(tmp_path / "ttl"), kv_schema(), 10)
    mk = lambda rows: spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    t.write(WriteRequest(mk([(1, 1, 1)]), TimeRange(0, 10)))
    t.write(WriteRequest(mk([(2, 2, 2)]), TimeRange(20, 30)))
    c = Compactor(t, SchedulerConfig(input_sst_min_num=5, ttl_ms=10))
    c.run_once(now_ms=45)  # expire_before=35 -> first file (end=10) expired... both actually
    # end<35: file1 (end 10) and file2 (end 30) both expired
    assert t.manifest.all_ssts() == []
    assert t.scan().count() == 0


def test_background_scheduler_compacts_on_trigger(spark, tmp_path):
    import time as _time

    t = ColumnarTable(spark, str(tmp_path / "bg"), kv_schema(), TWO_HOURS)
    mk = lambda rows: spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    for i in range(4):
        t.write(WriteRequest(mk([(1, 1, i)]), TimeRange(i * 10, i * 10 + 10)))
    c = Compactor(t, SchedulerConfig(input_sst_min_num=2))
    c.start(schedule_interval_s=3600)  # long interval: only the trigger fires it
    try:
        c.trigger()
        deadline = _time.time() + 60
        while len(t.manifest.all_ssts()) > 1 and _time.time() < deadline:
            _time.sleep(0.5)
        assert len(t.manifest.all_ssts()) == 1
        assert [tuple(r) for r in t.scan().collect()] == [(1, 1, 3)]
    finally:
        c.stop()


def test_memory_gate_rejects_over_budget_task():
    """Admission control (executor.rs:93-137): a pick whose estimate
    (factor x sum(input sizes)) exceeds the 2 GiB default limit is rejected
    and nothing is marked compacting."""
    from horaedb_spark.storage.compaction import CompactionTask

    # build a Compactor without a table: only the gate state is exercised
    import collections
    import threading

    c = Compactor.__new__(Compactor)
    c.table = None
    c.config = SchedulerConfig()
    c._mem_lock = threading.Lock()
    c._inuse_bytes = 0
    c._queue = collections.deque()

    over = CompactionTask(inputs=[_sst(i, 0, 5, size=1 << 30) for i in range(2)])
    est = Compactor.task_estimate(over, c.config.memory_estimate_factor)
    assert est > c.config.memory_limit_bytes
    assert not c.try_acquire_memory(over)
    assert c._inuse_bytes == 0

    ok = CompactionTask(inputs=[_sst(9, 0, 5, size=1 << 20)])
    assert c.try_acquire_memory(ok)
    assert c._inuse_bytes == Compactor.task_estimate(ok, c.config.memory_estimate_factor)
    c.release_memory(ok)
    assert c._inuse_bytes == 0


def test_bounded_task_queue_drops_excess():
    """scheduler.rs:62-81: the task queue holds max_pending_tasks (10);
    further submissions are dropped (the next picker cycle re-picks)."""
    import collections
    import threading

    from horaedb_spark.storage.compaction import CompactionTask

    c = Compactor.__new__(Compactor)
    c.table = None
    c.config = SchedulerConfig(max_pending_tasks=10)
    c._mem_lock = threading.Lock()
    c._inuse_bytes = 0
    c._queue = collections.deque()

    tasks = [CompactionTask(inputs=[_sst(i, 0, 5)]) for i in range(12)]
    accepted = [c.submit(t) for t in tasks]
    assert accepted.count(True) == 10
    assert accepted[10:] == [False, False]
    assert len(c._queue) == 10


def test_run_once_skips_when_over_memory_budget(spark, tmp_path):
    """An over-budget pick defers: run_once returns None, manifest unchanged."""
    t = ColumnarTable(spark, str(tmp_path / "gate"), kv_schema(), TWO_HOURS)
    mk = lambda rows: spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    for i in range(5):
        t.write(WriteRequest(mk([(1, 1, i)]), TimeRange(i * 10, i * 10 + 10)))
    before = len(t.manifest.all_ssts())
    c = Compactor(t, SchedulerConfig(input_sst_min_num=2, memory_limit_bytes=1))
    assert c.run_once(now_ms=0) is None
    assert len(t.manifest.all_ssts()) == before
    assert not any(s.in_compaction for s in t.manifest.all_ssts())


def test_queue_drain_executes_pending(spark, tmp_path):
    """submit + drain: queued task compacts the table exactly once."""
    from horaedb_spark.storage.compaction import SchedulerConfig, pick_candidate

    t = ColumnarTable(spark, str(tmp_path / "drain"), kv_schema(), TWO_HOURS)
    mk = lambda rows: spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    for i in range(4):
        t.write(WriteRequest(mk([(1, 1, i)]), TimeRange(i * 10, i * 10 + 10)))
    cfg = SchedulerConfig(input_sst_min_num=2)
    c = Compactor(t, cfg)
    task = pick_candidate(t.manifest.all_ssts(), t.segment_duration_ms, cfg, now_ms=0)
    assert c.submit(task)
    written = c.drain()
    assert len(written) == 1
    assert len(t.manifest.all_ssts()) == 1
    assert [tuple(r) for r in t.scan().collect()] == [(1, 1, 3)]


def test_run_all_compacts_every_segment_in_parallel(spark, tmp_path):
    """pick_all_candidates + thread-pooled execute: every eligible segment
    compacts in one call, results identical to per-segment run_once."""
    from tests.test_storage import TWO_HOURS, kv_schema

    t = ColumnarTable(spark, str(tmp_path / "ra"), kv_schema(), TWO_HOURS)
    mk = lambda rows: spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    for seg in range(3):
        base = seg * TWO_HOURS
        for i in range(3):
            t.write(
                WriteRequest(
                    mk([(seg * 10 + i, i, i)]), TimeRange(base, base + 100)
                )
            )
    assert len(t.manifest.all_ssts()) == 9
    before = sorted(tuple(r) for r in t.scan().collect())
    outs = Compactor(t, SchedulerConfig(input_sst_min_num=2)).run_all(
        parallelism=3
    )
    assert len(outs) == 3  # one merged SST per segment
    assert len(t.manifest.all_ssts()) == 3
    assert sorted(tuple(r) for r in t.scan().collect()) == before


def test_pick_all_candidates_carries_expired(spark, tmp_path):
    from tests.test_storage import TWO_HOURS, kv_schema
    from horaedb_spark.storage.compaction import pick_all_candidates

    t = ColumnarTable(spark, str(tmp_path / "pe"), kv_schema(), TWO_HOURS)
    mk = lambda rows: spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    t.write(WriteRequest(mk([(1, 1, 1)]), TimeRange(0, 100)))  # old -> expired
    now = 10 * TWO_HOURS
    for i in range(2):
        t.write(
            WriteRequest(
                mk([(2 + i, 2, 2)]), TimeRange(now - 100, now)
            )
        )
    cfg = SchedulerConfig(input_sst_min_num=2, ttl_ms=TWO_HOURS)
    tasks = pick_all_candidates(
        t.manifest.all_ssts(), TWO_HOURS, cfg, now_ms=now
    )
    assert len(tasks) == 1
    assert len(tasks[0].inputs) == 2 and len(tasks[0].expired) == 1
    out = Compactor(t, cfg).execute(tasks[0])
    assert out is not None
    assert sorted(r.pk1 for r in t.scan().collect()) == [2, 3]  # expired gone


def test_background_failure_is_logged_and_the_loop_survives(spark, tmp_path, caplog):
    """A failed background cycle is logged (one warning, with its
    traceback), not swallowed, and the loop keeps serving triggers."""
    import logging
    import time as _time

    t = ColumnarTable(spark, str(tmp_path / "bgfail"), kv_schema(), TWO_HOURS)
    mk = lambda rows: spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    for i in range(4):
        t.write(WriteRequest(mk([(1, 1, i)]), TimeRange(i * 10, i * 10 + 10)))
    c = Compactor(t, SchedulerConfig(input_sst_min_num=2))
    real_run_once, calls = c.run_once, []

    def run_once_failing_first(now_ms=None):
        calls.append(now_ms)
        if len(calls) == 1:
            raise RuntimeError("planted compaction failure")
        return real_run_once(now_ms)

    c.run_once = run_once_failing_first
    caplog.set_level(logging.WARNING, logger="horaedb_spark.storage.compaction")

    def warnings():
        return [
            r for r in caplog.records
            if r.name == "horaedb_spark.storage.compaction"
            and r.levelno == logging.WARNING
        ]

    def wait_for(cond):
        deadline = _time.time() + 60
        while not cond() and _time.time() < deadline:
            _time.sleep(0.1)

    c.start(schedule_interval_s=3600)  # long interval: only triggers fire it
    try:
        c.trigger()
        wait_for(warnings)
        (rec,) = warnings()
        assert rec.exc_info[1].args == ("planted compaction failure",)
        assert len(t.manifest.all_ssts()) == 4  # the failed cycle wrote nothing
        c.trigger()
        wait_for(lambda: len(t.manifest.all_ssts()) == 1)
        assert len(t.manifest.all_ssts()) == 1
        assert [tuple(r) for r in t.scan().collect()] == [(1, 1, 3)]
        assert len(warnings()) == 1
    finally:
        c.stop()
