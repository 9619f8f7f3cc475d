"""Compaction + TTL: the maintenance path.

Reference semantics (cited into /root/reference):
- **Picker** (compaction/picker.rs:84-188): split SSTs into expired
  (``time_range.end < now - ttl``, picker.rs:55-59, sst.rs:109-114) and
  uncompacted candidates; group candidates by segment
  (``time_range.start.truncate_by(segment_duration)``, picker.rs:136-153);
  iterate segments newest→oldest; within a segment sort files by size asc and
  greedily take up to ``input_sst_max_num`` (30) while the running total stays
  ≤ 1.1 × ``new_sst_max_size`` (1 GB); a pick needs ≥ ``input_sst_min_num``
  (5) files (picker.rs:155-188; defaults config.rs:38-50).
- **Executor** (compaction/executor.rs:155-253): re-run the scan/merge plan
  over the picked files with ``keep_builtin=true``, write ONE merged SST whose
  ``max_sequence`` is the new file id, swap the manifest (add new, delete
  inputs + expired) *before* physical deletes; physical deletes are
  best-effort ("no error should be returned", executor.rs:218-219). The
  merged SST is written by ``ColumnarTable.write_merged``, the same
  single-SST writer as ``write()``: the table alone decides how an SST is
  laid out, numbered and measured.
- **Scheduler** (compaction/scheduler.rs:49-159): periodic picker loop +
  bounded task queue + the in-use memory gate. Here: a synchronous
  ``run_once`` the caller invokes on a cadence (driver thread / external
  scheduler / every N streaming batches), ``run_all`` for every eligible
  segment at once, and ``start``/``trigger`` for the background loop, which
  logs a failed cycle and keeps running. Spark jobs are the executor pool,
  so the reference's in-process runtime has no analogue to port.

The picker is pure metadata logic over the manifest (no Spark job); the
executor is one batch Spark job per picked segment. At 100 TB this is the
"small-files OPTIMIZE" job: each segment compacts independently and could be
submitted as its own parallel job.
"""

from __future__ import annotations

import contextlib
import logging
import time
from dataclasses import dataclass, field

from horaedb_spark.core.timeutil import TimeRange, truncate_by
from horaedb_spark.storage.manifest import SstFile
from horaedb_spark.storage.table import ColumnarTable, ScanRequest

log = logging.getLogger(__name__)


@dataclass
class SchedulerConfig:
    """Defaults mirror config.rs:38-50."""

    new_sst_max_size: int = 1 << 30  # 1 GiB
    input_sst_max_num: int = 30
    input_sst_min_num: int = 5
    memory_estimate_factor: float = 1.1
    ttl_ms: int | None = None
    # Admission control (executor.rs:93-137 / scheduler.rs:62-81): a task's
    # memory estimate is memory_estimate_factor × Σ input sizes; tasks only
    # run while inuse + estimate ≤ memory_limit_bytes, and at most
    # max_pending_tasks sit in the queue (excess triggers are dropped).
    memory_limit_bytes: int = 2 << 30  # 2 GiB
    max_pending_tasks: int = 10


@dataclass
class CompactionTask:
    inputs: list[SstFile] = field(default_factory=list)
    expired: list[SstFile] = field(default_factory=list)

    @property
    def is_noop(self) -> bool:
        return not self.inputs and not self.expired


def pick_all_candidates(
    ssts: list[SstFile],
    segment_duration_ms: int,
    config: SchedulerConfig,
    now_ms: int | None = None,
) -> list[CompactionTask]:
    """Every segment's pick, newest segment first — the picker of
    picker.rs:84-188 run over all segments (files already marked
    in-compaction are excluded, picker.rs:117-134): at 100 TB each segment
    compacts independently, so the scheduler can submit one Spark job per
    task concurrently (``Compactor.run_all``). Expired files ride on the
    first task (or form an expiry-only task when nothing else picks).

    The reference has a unit bug here (ms vs µs TTL, picker.rs:57 vs
    time_ext.rs:213); we implement milliseconds consistently (SURVEY.md C2).
    """
    now_ms = now_ms if now_ms is not None else int(time.time() * 1000)
    expired: list[SstFile] = []
    candidates: list[SstFile] = []
    for sst in ssts:
        if sst.in_compaction:
            continue
        if config.ttl_ms is not None and sst.is_expired(now_ms - config.ttl_ms):
            expired.append(sst)
        else:
            candidates.append(sst)
    by_segment: dict[int, list[SstFile]] = {}
    for sst in candidates:
        seg = truncate_by(sst.time_range.start, segment_duration_ms)
        by_segment.setdefault(seg, []).append(sst)
    max_total = config.new_sst_max_size * config.memory_estimate_factor
    tasks: list[CompactionTask] = []
    for seg in sorted(by_segment, reverse=True):
        files = sorted(by_segment[seg], key=lambda s: s.size_bytes)
        picked: list[SstFile] = []
        total = 0
        for sst in files:
            if len(picked) >= config.input_sst_max_num:
                break
            if total + sst.size_bytes > max_total and picked:
                break
            picked.append(sst)
            total += sst.size_bytes
        if len(picked) >= config.input_sst_min_num:
            tasks.append(CompactionTask(inputs=picked))
    if expired:
        if tasks:
            tasks[0].expired = expired
        else:
            tasks.append(CompactionTask(expired=expired))
    return tasks


def pick_candidate(
    ssts: list[SstFile],
    segment_duration_ms: int,
    config: SchedulerConfig,
    now_ms: int | None = None,
) -> CompactionTask:
    """The reference's single-node pick: the newest eligible segment's task
    (``pick_all_candidates``' first), or a no-op task when nothing picks."""
    tasks = pick_all_candidates(ssts, segment_duration_ms, config, now_ms)
    return tasks[0] if tasks else CompactionTask()


class Compactor:
    """Executor + scheduler over a ColumnarTable.

    ``run_once`` is the synchronous cycle; ``start``/``trigger``/``stop``
    give the reference's background loop (scheduler.rs:49-159): a daemon
    thread wakes every ``schedule_interval`` (10 s default, config.rs:38-50)
    or immediately on ``trigger()`` — the ``compact()`` manual entry point
    (storage.rs:372-374)."""

    def __init__(self, table: ColumnarTable, config: SchedulerConfig | None = None):
        import collections
        import threading

        self.table = table
        self.config = config or SchedulerConfig()
        self._stop_evt = None
        self._wake_evt = None
        self._thread = None
        # Admission control state (executor.rs:93-137, scheduler.rs:62-81):
        # in-use memory estimate + bounded pending-task queue.
        self._mem_lock = threading.Lock()
        self._inuse_bytes = 0
        self._queue: collections.deque[CompactionTask] = collections.deque()

    # -------------------------------------------- admission control (C3/C4)

    @staticmethod
    def task_estimate(task: CompactionTask, factor: float) -> int:
        """Memory estimate of a task: factor × Σ input sizes (executor.rs:
        97-104 — the reference sizes the merge by its inputs, not its
        output)."""
        return int(factor * sum(s.size_bytes for s in task.inputs))

    def try_acquire_memory(self, task: CompactionTask) -> bool:
        """The 2 GB in-use gate (executor.rs:93-114): admit the task only if
        inuse + estimate stays within the limit. Returns False (task stays
        pending) when over budget."""
        est = self.task_estimate(task, self.config.memory_estimate_factor)
        with self._mem_lock:
            if self._inuse_bytes + est > self.config.memory_limit_bytes:
                return False
            self._inuse_bytes += est
            return True

    def release_memory(self, task: CompactionTask) -> None:
        est = self.task_estimate(task, self.config.memory_estimate_factor)
        with self._mem_lock:
            self._inuse_bytes = max(0, self._inuse_bytes - est)

    def _run_admitted(
        self, task: CompactionTask, rejected: list | None = None
    ) -> SstFile | None:
        """Execute ``task`` under the memory gate. An over-budget task is
        skipped and appended to ``rejected`` when given (the next cycle
        re-picks or re-queues it — executor.rs returns the same "try
        later")."""
        if not self.try_acquire_memory(task):
            if rejected is not None:
                rejected.append(task)
            return None
        try:
            return self.execute(task)
        finally:
            self.release_memory(task)

    def submit(self, task: CompactionTask) -> bool:
        """Bounded task queue (scheduler.rs:62-81, queue of 10): a full queue
        drops the submission — the next picker cycle re-picks the files, so
        nothing is lost, only deferred."""
        with self._mem_lock:
            if len(self._queue) >= self.config.max_pending_tasks:
                return False
            self._queue.append(task)
            return True

    def drain(self) -> list[SstFile]:
        """Execute queued tasks serially (the reference executes off the
        queue on a dedicated runtime, executor.rs:139-145). Tasks rejected by
        the memory gate are re-queued and retried on the next drain."""
        written: list[SstFile] = []
        deferred: list[CompactionTask] = []
        while True:
            with self._mem_lock:
                task = self._queue.popleft() if self._queue else None
            if task is None:
                break
            out = self._run_admitted(task, deferred)
            if out is not None:
                written.append(out)
        for task in deferred:
            self.submit(task)
        return written

    # ------------------------------------------------- background loop (C4)

    def start(self, schedule_interval_s: float = 10.0) -> None:
        import threading

        if self._thread is not None:
            return
        self._stop_evt = threading.Event()
        self._wake_evt = threading.Event()

        def loop():
            while not self._stop_evt.is_set():
                self._wake_evt.wait(timeout=schedule_interval_s)
                self._wake_evt.clear()
                if self._stop_evt.is_set():
                    return
                try:
                    while self.run_once() is not None:
                        pass
                except Exception:  # the loop survives; the next wake retries
                    log.warning(
                        "background compaction of %s failed", self.table.root,
                        exc_info=True,
                    )

        self._thread = threading.Thread(target=loop, name="sst-compact", daemon=True)
        self._thread.start()

    def trigger(self) -> None:
        """Manual compaction trigger (the reference's /compact endpoint)."""
        if self._wake_evt is not None:
            self._wake_evt.set()

    def stop(self) -> None:
        if self._thread is None:
            return
        self._stop_evt.set()
        self._wake_evt.set()
        self._thread.join(timeout=30)
        self._thread = None

    def run_all(
        self, parallelism: int = 4, now_ms: int | None = None
    ) -> list[SstFile]:
        """Compact EVERY eligible segment, ``parallelism`` tasks at a time —
        the cluster-scale OPTIMIZE job: each task is an independent Spark
        job (Spark schedules concurrent jobs from separate threads across
        the executor pool), the CAS manifest serializes the metadata
        commits, and the memory gate still bounds admitted work. Returns
        the new SSTs."""
        from concurrent.futures import ThreadPoolExecutor

        tasks = pick_all_candidates(
            self.table.manifest.all_ssts(),
            self.table.segment_duration_ms,
            self.config,
            now_ms,
        )
        if not tasks:
            return []
        with ThreadPoolExecutor(max(1, parallelism)) as pool:
            return [
                out for out in pool.map(self._run_admitted, tasks) if out is not None
            ]

    def run_once(self, now_ms: int | None = None) -> SstFile | None:
        """One picker+executor cycle; returns the new SST if one was written.
        The memory gate applies here too: an over-budget pick is skipped (the
        next cycle re-picks — executor.rs returns the same "try later")."""
        task = pick_candidate(
            self.table.manifest.all_ssts(),
            self.table.segment_duration_ms,
            self.config,
            now_ms,
        )
        if task.is_noop:
            return None
        return self._run_admitted(task)

    def execute(self, task: CompactionTask) -> SstFile | None:
        manifest = self.table.manifest
        mirror = self.table.bucketed if self.table.bucket_spec is not None else None
        input_ids = [s.file_id for s in task.inputs]
        if input_ids and not manifest.try_mark_compacting(input_ids):
            return None  # lost the CAS race (picker.rs:100-105)
        # released after the mirror maintenance at the end (see the swap)
        mirror_held = contextlib.ExitStack()
        try:
            new_sst = None
            if task.inputs:
                # The picker only ever picks within ONE segment; execute()
                # is public and hand-built tasks must honor that too — the
                # full-segment tombstone-GC check below derives the segment
                # from tr.start, so a multi-segment task would wrongly drop
                # tombstones from partially covered segments.
                segs = {
                    truncate_by(s.time_range.start, self.table.segment_duration_ms)
                    for s in task.inputs
                }
                if len(segs) > 1:
                    raise ValueError(
                        f"compaction task spans segments {sorted(segs)}; "
                        "inputs must share one segment (submit one task per "
                        "segment, as the picker does)"
                    )
                # Same scan/merge plan as a query, builtins kept so the merged
                # rows retain their winning __seq__ (executor.rs:163-171).
                tr = TimeRange(
                    min(s.time_range.start for s in task.inputs),
                    max(s.time_range.end for s in task.inputs),
                )
                # Tombstone GC (the LSM bottom-level rule): a rewrite that
                # covers EVERY live SST of its segment can drop delete
                # tombstones — no non-picked file can hold an older version
                # to resurrect. A partial pick must keep them.
                seg = truncate_by(tr.start, self.table.segment_duration_ms)
                seg_ids = {
                    s.file_id
                    for s in manifest.all_ssts()
                    if truncate_by(s.time_range.start, self.table.segment_duration_ms)
                    == seg
                }
                full_segment = seg_ids <= set(input_ids)
                merged = self.table.scan_ssts(
                    task.inputs,
                    ScanRequest(
                        keep_builtin=True,
                        ordered=False,
                        drop_tombstones=full_segment,
                    ),
                )
                carries_tombstones = (
                    any(s.tombstone for s in task.inputs) and not full_segment
                )
                # Same rule for value-mutated inputs: a full-segment rewrite
                # collapses all versions (one per key — divergence gone); a
                # partial one keeps rows that still outrank older versions
                # with different values in non-picked files.
                carries_mutations = (
                    any(s.value_mutated for s in task.inputs) and not full_segment
                )
                new_sst = self.table.write_merged(
                    merged,  # __seq__ already carries the max winning seq
                    tr,
                    tombstone=carries_tombstones,
                    value_mutated=carries_mutations,
                    # rows keep their ORIGINAL __seq__, so the output may
                    # contain rows as old as the oldest input — restore()
                    # uses this to refuse rollbacks past this compaction
                    min_seq=min(s.effective_min_seq for s in task.inputs),
                )
            # Manifest swap BEFORE physical deletes (executor.rs:203-217).
            # On a bucketed table the swap and the mirror maintenance after
            # it hold the mirror's lock, so a concurrent task's refresh()
            # never sees this segment swapped but not yet re-keyed (and
            # rewrites its partition for nothing).
            to_delete = input_ids + [s.file_id for s in task.expired]
            if mirror is not None:
                mirror_held.enter_context(mirror.lock)
            manifest.update([new_sst] if new_sst else [], to_delete)
            # Physical deletes, best-effort (executor.rs:218-253). External
            # (clone-referenced) files belong to another table: drop only
            # the reference, never the shared bytes. Symmetrically, while a
            # live zero-copy clone references THIS table's files, defer the
            # deletes (the dropped manifest entries become orphans that
            # vacuum reclaims once every clone lease is released).
            protected = bool(self.table.live_clone_roots())
            for sst in [*task.inputs, *task.expired]:
                if not sst.external and not protected:
                    self.table.backend.delete_tree(sst.path)
        except Exception:
            manifest.unmark_compacting(input_ids)
            mirror_held.close()
            raise
        with mirror_held:
            # Bucketed tables keep their read-optimized mirror current
            # through compaction. The segment's merged rows did not change,
            # so a partition built from exactly its pre-swap SST set is
            # re-keyed to the new set, a metadata write (storage/bucketed.py);
            # refresh() runs only for what that cannot cover: other stale
            # segments, an SST this task expired, a mirror that was already
            # stale. OUTSIDE the commit try-block and best-effort: at this
            # point the manifest swap is committed and the input files
            # deleted, so a mirror failure must not make the task report as
            # failed (the except above would unmark ids that no longer
            # exist, and a retry would scan deleted paths). A skipped
            # refresh self-heals — serve() detects staleness via is_fresh
            # and refreshes on the next read.
            if mirror is not None:
                try:
                    if new_sst is not None:
                        after = seg_ids - set(input_ids) | {new_sst.file_id}
                        mirror.rekey(seg, seg_ids, after)
                    if not mirror.is_fresh():
                        mirror.refresh()
                except Exception:
                    # warning, not stderr print: a driver running many
                    # compaction tasks must be able to surface REPEATED
                    # refresh failures (each leaves serve()'s auto_refresh
                    # re-attempting a full refresh on every read) through
                    # log routing
                    log.warning(
                        "bucketed mirror refresh deferred after compaction of "
                        "%s; serve() will retry on next read",
                        self.table.root,
                        exc_info=True,
                    )
        return new_sst
