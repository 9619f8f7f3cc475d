"""Manifest: the SST metadata log (delta files + snapshot + in-memory list).

Mirrors the reference semantics (cited into /root/reference):
- every write appends a *delta* record ``{to_adds, to_deletes}`` to the log and
  updates the in-memory SST list (columnar_storage/src/manifest/mod.rs:115-157);
- a background/threshold-driven *merge* folds deltas into a snapshot and
  deletes them (manifest/mod.rs:184-334); soft threshold schedules a merge,
  hard threshold rejects writes — write backpressure (mod.rs:248-262; defaults
  soft=50 / hard=90, config.rs:145-155);
- ``find_ssts(range)`` filters the in-memory list by half-open overlap
  (mod.rs:165-172; types.rs:125-127);
- recovery on open: merge leftover deltas, read snapshot, load list
  (mod.rs:76-113).

Spark mapping: this is *driver-side metadata* — pure Python + JSON files; no
Spark job ever runs here. The delta/snapshot encoding is JSON instead of the
reference's custom binary (encoding is an internal detail; the semantics —
atomic snapshot replace, delta replay order, backpressure thresholds — are the
contract). Single-writer assumption documented in SURVEY.md §7.3(e); the
reference is equally single-process (sst.rs:39-43).

At 100 TB the manifest stays tiny relative to data (36 bytes/SST in the
reference; ~100 B JSON here): 1e6 SSTs ≈ 100 MB, held once on the driver —
the same envelope the reference targets.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, replace

from horaedb_spark.core.timeutil import TimeRange
from horaedb_spark.storage.backend import (
    ObjectStoreBackend,
    PosixBackend,
    StorageBackend,
)

SNAPSHOT_NAME = "snapshot.json"  # legacy unversioned snapshot (pre-round-4)
SNAP_PREFIX = "snapshot-"
DELTA_PREFIX = "delta-"


class _SnapshotRace(Exception):
    """A concurrent fold published a newer snapshot while we were reading
    the log — our snapshot-base + delta-list view may straddle its GC.
    Internal retry signal for _load_log, never user-visible."""


class ManifestBackpressure(RuntimeError):
    """Raised when the delta count exceeds the hard threshold (mod.rs:258-262)."""


@dataclass(frozen=True)
class SstFile:
    """One SST's metadata (sst.rs:154-160 FileMeta + id + path).

    ``col_stats`` extends the reference's time-range-only FileMeta with
    per-column (min, max) collected from the parquet footers at write time:
    the manifest can then skip SSTs for *value* predicates the same way it
    skips by time — file-level pruning before Spark ever lists a path.
    ``None`` means "stats unknown" (older manifests, unsupported types):
    the file is never skipped. Keys are column names; values are 2-lists
    of JSON scalars (int/float/str/bool)."""

    file_id: int
    path: str
    time_range: TimeRange
    max_sequence: int
    num_rows: int
    size_bytes: int
    in_compaction: bool = False  # runtime-only CAS flag (sst.rs:97-107)
    col_stats: dict | None = None
    # True for SSTs referenced from ANOTHER table's data dir (zero-copy
    # clone): readable like any file, but this table's maintenance must
    # never physically delete it — only drop the reference.
    external: bool = False
    # True if the SST (possibly) holds delete-tombstone rows. Scans of SST
    # sets with no tombstone file skip the tombstone machinery entirely, so
    # a delete-free table reads zero extra columns.
    tombstone: bool = False
    # True if the SST was produced by a version-MUTATING DML (update /
    # merge_into matched-row rewrite): its rows outrank older versions whose
    # VALUE columns differ. Scans over a set containing such a file must use
    # SQL semantics for value predicates (apply after the merge) — the
    # reference's filter-before-merge shortcut is only sound when versions of
    # a key never diverge in value columns. Cleared by a full-segment
    # compaction (all versions collapse to one per key).
    value_mutated: bool = False
    # Minimum ORIGINAL row __seq__ the file may contain. Writes stamp one
    # seq == file_id, so None means "== file_id"; compaction/recluster
    # outputs carry rows from older inputs and record min over their inputs
    # — restore(as_of_seq) uses this to refuse a rollback that would drop a
    # file still holding rows from before the rollback point.
    min_seq: int | None = None

    @property
    def effective_min_seq(self) -> int:
        return self.file_id if self.min_seq is None else self.min_seq

    def to_json(self) -> dict:
        d = {
            "file_id": self.file_id,
            "path": self.path,
            "start": self.time_range.start,
            "end": self.time_range.end,
            "max_sequence": self.max_sequence,
            "num_rows": self.num_rows,
            "size_bytes": self.size_bytes,
        }
        if self.col_stats is not None:
            d["col_stats"] = self.col_stats
        if self.external:
            d["external"] = True
        if self.tombstone:
            d["tombstone"] = True
        if self.value_mutated:
            d["value_mutated"] = True
        if self.min_seq is not None:
            d["min_seq"] = self.min_seq
        return d

    @classmethod
    def from_json(cls, d: dict) -> "SstFile":
        return cls(
            file_id=d["file_id"],
            path=d["path"],
            time_range=TimeRange(d["start"], d["end"]),
            max_sequence=d["max_sequence"],
            num_rows=d["num_rows"],
            size_bytes=d["size_bytes"],
            col_stats=d.get("col_stats"),
            external=d.get("external", False),
            tombstone=d.get("tombstone", False),
            value_mutated=d.get("value_mutated", False),
            min_seq=d.get("min_seq"),
        )

    def is_expired(self, expire_before_ms: int) -> bool:
        """TTL check (sst.rs:109-114): expired iff the file's whole range ends
        before the expiry watermark."""
        return self.time_range.end < expire_before_ms


class Manifest:
    """Delta-log + snapshot manifest over a StorageBackend.

    Thread-safe in-process (an RLock mirrors the reference's RwLock around
    the in-memory list) AND multi-writer safe across processes/drivers:
    every delta append is a CONDITIONAL PUT of the next delta id — when two
    writers race for the same id, the loser refreshes its view from the log
    (picking up the winner's delta) and retries with the next id, so no
    update is ever lost. Snapshots are versioned objects
    (``snapshot-<v>``, v = 1 + the highest delta id folded) published with
    the same conditional put; a racing merge at the same fold point is a
    no-op, and a merge at a later point simply supersedes (readers load the
    highest version and replay deltas with id > its ``folded_through``).
    This is the conditional-put delta log the reference's single-writer
    design lacks (sst.rs:39-43; DIVERGENCES.md #12) — on S3 it maps to
    If-None-Match PUTs.
    """

    def __init__(
        self,
        root: str,
        merge_soft_threshold: int = 50,
        merge_hard_threshold: int = 90,
        backend: StorageBackend | None = None,
        background_fold: bool = True,
    ):
        self.root = root
        self.backend = backend or PosixBackend()
        self.dir = os.path.join(root, "manifest")
        self.delta_dir = os.path.join(self.dir, "delta")
        self.soft = merge_soft_threshold
        self.hard = merge_hard_threshold
        self.background_fold = background_fold
        self._lock = threading.RLock()
        # Folds serialize on their own lock and never take the write lock:
        # the write path must stay O(delta) while a fold rewrites the
        # O(total SSTs) snapshot (reference: dedicated merge runtime,
        # manifest/mod.rs:184-334, storage.rs:92-104).
        self._merge_lock = threading.Lock()
        self._fold_proc = None
        self._fold_thread: threading.Thread | None = None
        self._ssts: dict[int, SstFile] = {}
        # Monotonic LIVE-SET change counter: bumped whenever the in-memory
        # SST map's membership can change (delta apply, log re-read).
        # Readers (e.g. the bucketed mirror's freshness fold) may memoize
        # O(n_ssts) derivations keyed on it — exactly as fresh as reading
        # _ssts directly, since both live in this process.
        self.mutations = 0
        # Highest SST file id this handle has seen in the log, its own and
        # other writers'. ColumnarTable allocates ids above it, so an SST or
        # tombstone written after this handle absorbed a foreign delta
        # outranks (and never reuses the id of) what that delta added.
        self.max_file_id = -1
        self._next_delta_id = 0
        self._folded_through = -1
        self.backend.makedirs(self.delta_dir)
        self._recover()

    # -- recovery (mod.rs:76-113) -------------------------------------------

    def _delta_files(self) -> list[str]:
        names = [
            n for n in self.backend.list_dir(self.delta_dir)
            if n.startswith(DELTA_PREFIX)
            and n[len(DELTA_PREFIX):].isdigit()  # skip in-flight temp objects
        ]
        # Replay in delta-id order; ids are zero-padded so lexical == numeric.
        return sorted(names)

    def _snapshot_files(self) -> list[str]:
        return sorted(
            n for n in self.backend.list_dir(self.dir)
            if n.startswith(SNAP_PREFIX) and n.endswith(".json")
        )

    def _load_log(self) -> tuple[dict[int, SstFile], int, int]:
        """Read snapshot + deltas into a fresh view, retrying when a
        concurrent snapshot fold perturbs the window: an object deleted
        between LIST and GET (FileNotFoundError — its content is in the
        newer snapshot the retry picks up), or a newer snapshot published
        mid-read (_SnapshotRace — see _load_log_once's closing check).
        Returns (ssts, folded_through, next_delta_id)."""
        last_err: Exception | None = None
        for _attempt in range(50):
            try:
                return self._load_log_once()
            except (FileNotFoundError, _SnapshotRace) as e:
                last_err = e
        raise last_err  # pragma: no cover — 50 racing folds in a row

    def _load_log_once(self) -> tuple[dict[int, SstFile], int, int, int]:
        ssts: dict[int, SstFile] = {}
        folded = -1
        snaps = self._snapshot_files()
        if snaps:
            snap = json.loads(
                self.backend.read_text(os.path.join(self.dir, snaps[-1]))
            )
            folded = snap.get("folded_through", -1)
            for d in snap["ssts"]:
                sst = SstFile.from_json(d)
                ssts[sst.file_id] = sst
        elif self.backend.exists(os.path.join(self.dir, SNAPSHOT_NAME)):
            # legacy unversioned snapshot: all live deltas are unfolded
            snap = json.loads(
                self.backend.read_text(os.path.join(self.dir, SNAPSHOT_NAME))
            )
            for d in snap["ssts"]:
                sst = SstFile.from_json(d)
                ssts[sst.file_id] = sst
        next_id = folded + 1
        applied_max = folded
        for name in self._delta_files():
            did = int(name[len(DELTA_PREFIX):])
            next_id = max(next_id, did + 1)
            if did <= folded:
                continue  # folded but not yet garbage-collected
            delta = json.loads(
                self.backend.read_text(os.path.join(self.delta_dir, name))
            )
            applied_max = max(applied_max, did)
            for d in delta.get("to_adds", []):
                sst = SstFile.from_json(d)
                ssts[sst.file_id] = sst
            for fid in delta.get("to_deletes", []):
                ssts.pop(fid, None)
        # CLOSING CONSISTENCY CHECK (root cause of the one-in-hundreds lost
        # SST, round 12): the snapshot LIST above and the delta LIST are
        # not atomic. A concurrent fold that published a newer snapshot AND
        # garbage-collected its folded deltas INSIDE our window leaves a
        # clean hole — the GC'd deltas simply don't appear in our delta
        # list (no FileNotFoundError fires), while a surviving higher delta
        # advances applied_max past them, so a fold built from this view
        # would publish a snapshot silently missing their content. Detect
        # it: if the latest snapshot name changed since we chose our base,
        # the window was dirty — retry from the new snapshot, which folds
        # everything the GC removed. Sound because snapshot names strictly
        # grow along the fold chain and keep-last-2 GC can only delete a
        # snapshot when two larger-named ones exist, so any fold that GC'd
        # a delta above our base leaves behind a snapshot newer than our
        # base for this re-list to observe.
        snaps_after = self._snapshot_files()
        if (snaps_after[-1] if snaps_after else None) != (
            snaps[-1] if snaps else None
        ):
            raise _SnapshotRace(
                f"snapshot advanced during log read: "
                f"{snaps[-1] if snaps else None} -> "
                f"{snaps_after[-1] if snaps_after else None}"
            )
        return ssts, folded, next_id, applied_max

    def _recover(self) -> None:
        self._ssts, self._folded_through, self._next_delta_id, _ = self._load_log()
        self.max_file_id = max(self.max_file_id, max(self._ssts, default=-1))
        # Only runs from __init__ today (no memo exists yet), but bump the
        # counter anyway: a future post-init call must invalidate any
        # mutation-keyed digest memo rather than silently serve stale state.
        self.mutations += 1
        # Fold leftover deltas into the snapshot, as the reference does on open.
        if any(
            int(n[len(DELTA_PREFIX):]) > self._folded_through
            for n in self._delta_files()
        ):
            self.merge_snapshot()

    def _refresh(self) -> None:
        """Re-read the log after losing a conditional-put race: pick up
        concurrent writers' deltas. Runtime-only ``in_compaction`` flags are
        preserved for files still live."""
        flags = {fid for fid, s in self._ssts.items() if s.in_compaction}
        self._ssts, self._folded_through, self._next_delta_id, _ = self._load_log()
        for fid in flags:
            if fid in self._ssts:
                self._ssts[fid] = replace(self._ssts[fid], in_compaction=True)
        self.max_file_id = max(self.max_file_id, max(self._ssts, default=-1))
        # Bump AFTER the dict mutations: a concurrent reader (the background
        # fold thread memoizes digests keyed on this counter) that races the
        # refresh then memoizes under the OLD counter and this bump
        # invalidates it; bumping first would let it cache pre-refresh
        # digests under the post-refresh key — fresh-forever staleness.
        self.mutations += 1

    def _apply_delta(self, delta: dict) -> None:
        for d in delta.get("to_adds", []):
            sst = SstFile.from_json(d)
            self._ssts[sst.file_id] = sst
            self.max_file_id = max(self.max_file_id, sst.file_id)
        for fid in delta.get("to_deletes", []):
            self._ssts.pop(fid, None)
        # After the mutations — see _refresh for the memo-race rationale.
        self.mutations += 1

    # -- update path (mod.rs:115-157,248-262) --------------------------------

    def add_file(self, sst: SstFile) -> None:
        self.update([sst], [])

    def _sync_folded_from_names(self) -> None:
        """O(1) adoption of a fold published by the background folder (or
        another writer): the fold point is the latest snapshot's FILENAME
        minus one — the write path never re-parses snapshot CONTENT. The
        in-memory SST list needs no touch-up: this writer applied every one
        of its own deltas; a fold only moves deltas into a snapshot."""
        snaps = self._snapshot_files()
        if snaps:
            folded = int(snaps[-1][len(SNAP_PREFIX):-len(".json")]) - 1
            self._folded_through = max(self._folded_through, folded)
            self._next_delta_id = max(self._next_delta_id, folded + 1)

    def update(self, to_adds: list[SstFile], to_deletes: list[int]) -> None:
        with self._lock:
            self._sync_folded_from_names()
            names = self._delta_files()
            # Backpressure counts UNFOLDED deltas (replay cost); folded
            # deltas kept by the GC retention window are dead weight, not
            # pending work. Hard threshold REJECTS, as the reference does
            # (mod.rs:258-262) — a writer outpacing the background folder
            # is supposed to feel it.
            n_deltas = len(
                [n for n in names if int(n[len(DELTA_PREFIX):]) > self._folded_through]
            )
            if n_deltas >= self.hard:
                self._schedule_fold()
                raise ManifestBackpressure(
                    f"manifest delta count {n_deltas} >= hard threshold {self.hard}"
                )
            # Sync the next id with what other writers have published (the
            # LIST above is free) so a stale writer never lands a delta id
            # at or below a fold point — combined with the fold retention
            # window below, folded delta names are never silently reused.
            if names:
                self._next_delta_id = max(
                    self._next_delta_id,
                    max(int(n[len(DELTA_PREFIX):]) for n in names) + 1,
                )
            delta = {
                "to_adds": [s.to_json() for s in to_adds],
                "to_deletes": list(to_deletes),
                "ts_ms": int(time.time() * 1000),
            }
            payload = json.dumps(delta)
            while True:
                path = os.path.join(
                    self.delta_dir, f"{DELTA_PREFIX}{self._next_delta_id:012d}"
                )
                if self.backend.put_if_absent(path, payload):
                    # Publish-time validation (supersedes the "writer
                    # epochs" caveat): if a concurrent fold advanced the
                    # fold point past our id between the pre-CAS sync and
                    # the put, our name is a GC'd ALREADY-FOLDED id —
                    # every reader skips ids <= folded_through, so the
                    # delta would be silently invisible. Retract and retry
                    # above the fold point. Sound because delta ids are
                    # taken in order (id N+1 can only exist after N), so a
                    # fold that advanced past N must have seen every live
                    # delta <= N — never ours, which did not exist yet.
                    snaps = self._snapshot_files()
                    folded = (
                        int(snaps[-1][len(SNAP_PREFIX):-len(".json")]) - 1
                        if snaps
                        else -1
                    )
                    if self._next_delta_id <= folded:
                        self.backend.delete(path)
                        self._sync_folded_from_names()
                        continue
                    break
                # a concurrent writer took this delta id: absorb its view
                # (their delta included) and retry with the next id — the
                # CAS loop that makes two drivers on one table safe
                self._refresh()
            self._next_delta_id += 1
            self._apply_delta(delta)
            if n_deltas + 1 >= self.soft:
                # The reference schedules a BACKGROUND merge at the soft
                # threshold (its dedicated manifest_compact_runtime,
                # storage.rs:92-104) — the write path never pays the
                # O(total SSTs) snapshot rewrite.
                self._schedule_fold()

    def _schedule_fold(self) -> None:
        """Kick a background snapshot fold (at most one in flight).

        Posix-family backends fold in a SUBPROCESS: at 1e6 SSTs the
        snapshot is ~235 MB of JSON whose encode/parse is GIL-bound, so an
        in-process thread would still stall the writer; a child process is
        true parallelism (the CAS-published snapshot makes an external
        folder just another safe writer). Other backends fall back to a
        daemon thread (merge_snapshot never takes the write lock). With
        ``background_fold=False`` the fold runs inline (child processes,
        deterministic tests)."""
        if not self.background_fold:
            self.merge_snapshot()
            return
        if self._fold_proc is not None and self._fold_proc.poll() is None:
            return
        if self._fold_thread is not None and self._fold_thread.is_alive():
            return
        bcls = type(self.backend)
        if bcls in (PosixBackend, ObjectStoreBackend):
            import subprocess
            import sys

            repo = os.path.dirname(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            )
            code = (
                f"import sys; sys.path.insert(0, {repo!r})\n"
                "from horaedb_spark.storage.backend import ("
                "PosixBackend, ObjectStoreBackend)\n"
                "from horaedb_spark.storage.manifest import Manifest\n"
                f"Manifest({self.root!r}, merge_soft_threshold={self.soft}, "
                f"merge_hard_threshold={self.hard}, "
                f"backend={bcls.__name__}(), "
                "background_fold=False).merge_snapshot()\n"
            )
            self._fold_proc = subprocess.Popen(
                [sys.executable, "-c", code],
                stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
            )
        else:
            def _safe_fold() -> None:
                try:
                    self.merge_snapshot()
                except Exception:
                    pass  # next soft-threshold trigger retries; hard rejects

            self._fold_thread = threading.Thread(
                target=_safe_fold, daemon=True, name="manifest-fold"
            )
            self._fold_thread.start()

    def wait_for_background_fold(self, timeout: float | None = None) -> None:
        """Block until any in-flight background fold finishes, then adopt
        its fold point. For benches/tests and orderly shutdown — the write
        path never calls this."""
        p, t = self._fold_proc, self._fold_thread
        if p is not None:
            p.wait(timeout)
        if t is not None:
            t.join(timeout)
        with self._lock:
            self._sync_folded_from_names()

    # -- snapshot merge (mod.rs:184-334) --------------------------------------

    # Folded deltas are kept for this many ids past the fold point before
    # deletion (Delta/Iceberg-style log retention). Since round 6 this is
    # GC hygiene only, not a correctness window: the publish-time
    # validation in update() retracts any delta landed at a reused
    # already-folded name, so a stale writer can be arbitrarily far behind
    # without losing an update.
    DELTA_RETAIN = 10

    def merge_snapshot(self) -> None:
        # Takes ONLY the merge lock: the O(total SSTs) load/encode must not
        # block the write path, which holds self._lock for O(delta) work.
        # Lock order is always write-lock -> merge-lock (update never folds
        # inline; a caller folding while a writer appends is the designed
        # concurrency). The in-memory SST list is NOT replaced here — this
        # writer's view already contains every delta it applied, and a fold
        # only moves log entries into a snapshot; cross-writer absorption
        # happens on CAS conflict (_refresh), as on the append path.
        with self._merge_lock:
            # Fold from the FULL log, never from this writer's memory: a
            # concurrent writer's deltas may not have been applied locally,
            # and a snapshot built from a stale view would drop them when
            # the deltas are garbage-collected.
            ssts, _snap_folded, next_id, folded_through = self._load_log()
            if folded_through <= self._folded_through and self._snapshot_files():
                return  # nothing new to fold
            snap = {
                "ssts": [s.to_json() for s in ssts.values()],
                "folded_through": folded_through,
            }
            name = f"{SNAP_PREFIX}{folded_through + 1:012d}.json"
            published = self.backend.put_if_absent(
                os.path.join(self.dir, name), json.dumps(snap)
            )
            # Adopt the new fold point either way. The short write-lock
            # section is safe: no caller holds the write lock while
            # folding (update() only SCHEDULES folds), so the lock order
            # here is always merge-lock -> write-lock with no reverse path.
            with self._lock:
                self._folded_through = max(self._folded_through, folded_through)
                self._next_delta_id = max(self._next_delta_id, next_id)
            if published:
                # GC: folded deltas outside the retention window, superseded
                # snapshots (keep last 2), and the legacy unversioned file
                for n in self._delta_files():
                    if int(n[len(DELTA_PREFIX):]) <= folded_through - self.DELTA_RETAIN:
                        self.backend.delete(os.path.join(self.delta_dir, n))
                for n in self._snapshot_files()[:-2]:
                    self.backend.delete(os.path.join(self.dir, n))
                self.backend.delete(os.path.join(self.dir, SNAPSHOT_NAME))
            # else: a concurrent merge folded the same point first —
            # identical fold set, nothing lost; fold point adopted above

    # -- queries (mod.rs:165-172) ---------------------------------------------

    def find_ssts(self, time_range: TimeRange | None = None) -> list[SstFile]:
        with self._lock:
            ssts = list(self._ssts.values())
        if time_range is None:
            return sorted(ssts, key=lambda s: s.file_id)
        return sorted(
            (s for s in ssts if s.time_range.overlaps(time_range)),
            key=lambda s: s.file_id,
        )

    def durable_token(self, max_age_s: float = 1.0) -> tuple:
        """A cheap identity of the DURABLE log state — (latest snapshot
        name, latest delta name) from two metadata LISTs — for cache keys
        that must notice writes from OTHER instances over the same root
        (this instance's ``mutations`` counter only sees local writes;
        review r12). Memoized for ``max_age_s`` so a dashboard burst pays
        at most one LIST round per second: cross-instance invalidation is
        bounded-staleness (≤ max_age_s), local invalidation stays exact
        via the counters callers combine this with."""
        now = time.monotonic()
        memo = self.__dict__.get("_durable_token_memo")
        if memo is not None and now - memo[0] <= max_age_s:
            return memo[1]
        snaps = self._snapshot_files()
        deltas = self._delta_files()
        token = (
            snaps[-1] if snaps else None,
            deltas[-1] if deltas else None,
        )
        self._durable_token_memo = (now, token)
        return token

    def sync_if_behind(self) -> bool:
        """Re-read the log ONLY when the durable state is ahead of this
        handle's view: a foreign delta at or past our next id, or a fold
        point past ours. Own writes advance ``_next_delta_id`` as they
        land, so they never trigger a spurious refresh — which matters for
        callers keying caches on ``mutations`` (an unconditional _refresh
        would bump the counter per call and defeat the cache; review r12).
        Two metadata LISTs when in sync; a full log re-read when behind."""
        names = self._delta_files()
        latest_delta = int(names[-1][len(DELTA_PREFIX):]) if names else -1
        snaps = self._snapshot_files()
        latest_fold = (
            int(snaps[-1][len(SNAP_PREFIX):-len(".json")]) - 1 if snaps else -1
        )
        with self._lock:
            behind = (
                latest_delta >= self._next_delta_id
                or latest_fold > self._folded_through
            )
            if behind:
                self._refresh()
            return behind

    def all_ssts(self) -> list[SstFile]:
        return self.find_ssts(None)

    def delta_count(self) -> int:
        """Unfolded deltas pending snapshot fold (the replay-cost measure the
        soft/hard thresholds govern)."""
        with self._lock:
            return len(
                [
                    n
                    for n in self._delta_files()
                    if int(n[len(DELTA_PREFIX):]) > self._folded_through
                ]
            )

    # -- compaction bookkeeping (sst.rs:97-107) -------------------------------

    def try_mark_compacting(self, file_ids: list[int]) -> bool:
        """CAS-style: mark all-or-nothing; returns False if any is already
        being compacted."""
        with self._lock:
            if any(
                fid not in self._ssts or self._ssts[fid].in_compaction for fid in file_ids
            ):
                return False
            for fid in file_ids:
                self._ssts[fid] = replace(self._ssts[fid], in_compaction=True)
            return True

    def unmark_compacting(self, file_ids: list[int]) -> None:
        with self._lock:
            for fid in file_ids:
                if fid in self._ssts:
                    self._ssts[fid] = replace(self._ssts[fid], in_compaction=False)
