"""Seeded, program-independent inputs for the benchmark.

Everything the program under test receives is made here from the workload
seed: a synthetic Prometheus fleet, its remote-write encoding, and the
values the stored state must hold afterwards. The encoder is this file's
own (a few lines of protobuf wire format), so a change to the program's
codec cannot change the benchmark's inputs.

Every sample value is an integer-valued double below 2**53, so sums over
any order are exact and the expected state can be compared bit for bit.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np
import pandas as pd

# --------------------------------------------------------------- the fleet

JOBS = ("api", "node", "db")
LE_BOUNDS = ("0.05", "0.1", "0.25", "0.5", "1", "2.5", "5", "+Inf")
LE_SHARE = (20, 38, 55, 70, 82, 91, 97, 100)  # cumulative percent per bucket
HISTOGRAM = "http_request_duration_seconds_bucket"

# (metric name, kind, extra label sets). Every target exports all of them:
# 33 series per target over 20 metric names, one a histogram family.
_FAMILIES = (
    ("up", "one", [{}]),
    ("http_requests_total", "counter",
     [{"code": c, "method": m} for c in ("200", "500") for m in ("GET", "POST")]),
    ("node_cpu_seconds_total", "counter",
     [{"mode": m} for m in ("user", "system", "idle", "iowait")]),
    (HISTOGRAM, "bucket", [{"le": le} for le in LE_BOUNDS]),
    ("node_load1", "gauge", [{}]),
    ("node_memory_active_bytes", "gauge", [{}]),
    ("node_memory_total_bytes", "gauge", [{}]),
    ("node_memory_cached_bytes", "gauge", [{}]),
    ("node_num_cpus", "const", [{}]),
    ("process_resident_memory_bytes", "gauge", [{}]),
    ("go_goroutines", "gauge", [{}]),
    ("node_procs_running", "gauge", [{}]),
    ("node_filesystem_avail_bytes", "gauge", [{}]),
    ("scrape_duration_seconds", "gauge", [{}]),
    ("node_network_receive_bytes_total", "counter", [{}]),
    ("node_network_transmit_bytes_total", "counter", [{}]),
    ("node_disk_io_time_seconds_total", "counter", [{}]),
    ("process_cpu_seconds_total", "counter", [{}]),
    ("go_gc_duration_seconds_count", "counter", [{}]),
    ("node_context_switches_total", "counter", [{}]),
)
_KIND_CODE = {"one": 0, "counter": 1, "gauge": 2, "const": 3, "bucket": 4}


@dataclass
class Fleet:
    """``n_targets`` scrape targets x 33 series, with per-series value
    parameters drawn from the seed. Arrays are indexed by series number."""

    names: list[str]
    labels: list[dict[str, str]]
    target: np.ndarray  # target index of each series
    kind: np.ndarray  # _KIND_CODE
    base: np.ndarray
    rate: np.ndarray
    mult: np.ndarray
    mod: np.ndarray
    share: np.ndarray  # bucket share (percent) for histogram series
    offset_ms: np.ndarray  # per-target scrape phase, whole seconds
    scrape_ms: int

    @property
    def n(self) -> int:
        return len(self.names)

    def series_key(self, i: int) -> str:
        """The canonical label encoding the store reports: sorted ``k=v``
        pairs joined with commas, ``__name__`` excluded."""
        lab = self.labels[i]
        return ",".join(f"{k}={lab[k]}" for k in sorted(lab))

    def values(self, idx: np.ndarray, tick: np.ndarray) -> np.ndarray:
        """Value of series ``idx`` at scrape number ``tick`` (vectorized).

        counter: base + tick*rate + (tick*mult mod rate) rises by >= 1 a tick.
        gauge:   base + (tick*mult mod mod); bases are spaced 10**6 apart, so
                 two gauges of one metric never tie.
        bucket:  floor(counter * share / 100) of the target's histogram
                 counter, cumulative in ``le`` and rising over time."""
        idx = np.asarray(idx, dtype=np.int64)
        t = np.asarray(tick, dtype=np.int64)
        base, rate, mult = self.base[idx], self.rate[idx], self.mult[idx]
        counter = base + t * rate + (t * mult) % rate
        gauge = base + (t * mult) % self.mod[idx]
        kind = self.kind[idx]
        out = np.where(kind == 1, counter, gauge)
        out = np.where(kind == 0, 1, out)
        out = np.where(kind == 3, base, out)
        out = np.where(kind == 4, counter * self.share[idx] // 100, out)
        return out.astype(np.float64)

    def timestamps(self, idx: np.ndarray, tick: np.ndarray) -> np.ndarray:
        return np.asarray(tick, dtype=np.int64) * self.scrape_ms + self.offset_ms[
            self.target[np.asarray(idx, dtype=np.int64)]
        ]


def make_fleet(seed: int, n_targets: int, scrape_ms: int) -> Fleet:
    rng = np.random.default_rng(seed)
    names, labels, target, kind, share = [], [], [], [], []
    for t in range(n_targets):
        job = JOBS[t % len(JOBS)]
        inst = f"10.{seed % 200}.{t // 250}.{t % 250}:9100"
        for name, k, extra in _FAMILIES:
            for i, ex in enumerate(extra):
                names.append(name)
                labels.append({"job": job, "instance": inst, **ex})
                target.append(t)
                kind.append(_KIND_CODE[k])
                share.append(LE_SHARE[i] if k == "bucket" else 100)
    n = len(names)
    target = np.array(target, dtype=np.int64)
    kind = np.array(kind, dtype=np.int64)
    rate = rng.integers(5, 400, n, dtype=np.int64)
    mult = rng.integers(1, 10_000, n, dtype=np.int64)
    mod = rng.integers(50, 100_000, n, dtype=np.int64)
    base = rng.integers(0, 1_000_000, n, dtype=np.int64)
    gauge_rank = np.arange(n, dtype=np.int64)  # distinct gauge bases
    base = np.where(kind == 2, base + gauge_rank * 1_000_000, base)
    base = np.where(kind == 3, 2 + base % 63, base)  # cpu count
    # the buckets of one target share that target's histogram counter
    first_bucket = {}
    for i in np.flatnonzero(kind == 4):
        first_bucket.setdefault(int(target[i]), int(i))
    for i in np.flatnonzero(kind == 4):
        j = first_bucket[int(target[i])]
        base[i], rate[i], mult[i] = base[j], rate[j], mult[j]
    offset = rng.integers(0, scrape_ms // 1000, n_targets, dtype=np.int64) * 1000
    return Fleet(names, labels, target, kind, base, rate, mult, mod,
                 np.array(share, dtype=np.int64), offset, scrape_ms)


# ------------------------------------------------ remote-write wire encoding


def _varint(v: int) -> bytes:
    out = bytearray()
    while v > 0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _ld(tag: int, payload: bytes) -> bytes:
    return bytes([tag]) + _varint(len(payload)) + payload


def label_block(name: str, labels: dict[str, str]) -> bytes:
    """The encoded ``repeated Label`` part of a TimeSeries, labels sorted by
    name with ``__name__`` first, as Prometheus sends them."""
    pairs = sorted({"__name__": name, **labels}.items())
    return b"".join(
        _ld(0x0A, _ld(0x0A, k.encode()) + _ld(0x12, v.encode())) for k, v in pairs
    )


def encode_timeseries(labels_bytes: bytes, ts: np.ndarray, vals: np.ndarray) -> bytes:
    """One TimeSeries message: labels (field 1), samples (field 2) each
    ``{double value = 1; int64 timestamp = 2}``."""
    body = bytearray(labels_bytes)
    for t, v in zip(ts.tolist(), vals.tolist()):
        sample = b"\x09" + struct.pack("<d", v) + b"\x10" + _varint(t)
        body += b"\x12" + _varint(len(sample)) + sample
    return _ld(0x0A, bytes(body))


# ------------------------------------------------------- the ingest stream


class IngestStream:
    """Remote-write batches for the ingest workload.

    Batch ``b`` carries ``ticks_per_batch`` scrapes of every series, split
    by target into ``payloads_per_batch`` WriteRequests, each with its own
    ingest sequence number. On top of that:

    - ``resend_share`` of the previous batch's samples are sent again in a
      later payload (higher seq) with the value plus one, so the stored
      value must be the re-sent one;
    - ``late_share`` of the series lag one segment behind: their samples
      carry timestamps one ``segment_ms`` earlier and land in the previous
      segment.

    ``expected()`` returns the stored state the program must end with."""

    def __init__(self, seed: int, n_targets: int, scrape_ms: int, segment_ms: int,
                 start_tick: int, ticks_per_batch: int, payloads_per_batch: int,
                 resend_share: float, late_share: float):
        self.fleet = make_fleet(seed, n_targets, scrape_ms)
        self.rng = np.random.default_rng(seed + 1)
        self.segment_ms = segment_ms
        self.ticks_per_batch = ticks_per_batch
        self.payloads = payloads_per_batch
        self.resend_share = resend_share
        n = self.fleet.n
        self.lagging = self.rng.random(n) < late_share
        self._labels = [label_block(self.fleet.names[i], self.fleet.labels[i])
                        for i in range(n)]
        self._next_tick = start_tick
        self._seq = 0
        self._prev: tuple[np.ndarray, np.ndarray, np.ndarray] | None = None
        self._sent: list[tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]] = []

    def next_batch(self) -> tuple[list[tuple[bytes, int]], int, int]:
        """``([(payload, seq), ...], n_samples, last_tick)`` for the next
        batch."""
        f, n = self.fleet, self.fleet.n
        ticks = np.arange(self._next_tick, self._next_tick + self.ticks_per_batch)
        self._next_tick += self.ticks_per_batch
        idx = np.repeat(np.arange(n), len(ticks))
        tk = np.tile(ticks, n)
        vals = f.values(idx, tk)
        ts = f.timestamps(idx, tk) - np.where(self.lagging[idx], self.segment_ms, 0)
        groups = np.array_split(np.arange(f.target.max() + 1), self.payloads)
        group_of = np.empty(f.target.max() + 1, dtype=np.int64)
        for g, members in enumerate(groups):
            group_of[members] = g
        resend = None
        if self._prev is not None:
            p_idx, p_ts, p_val = self._prev
            pick = self.rng.random(len(p_idx)) < self.resend_share
            resend = (p_idx[pick], p_ts[pick], p_val[pick] + 1.0)
        out, total = [], 0
        for g in range(self.payloads):
            self._seq += 1
            seq = self._seq
            buf = bytearray()
            for i in np.flatnonzero(group_of[f.target] == g):
                sl = slice(i * len(ticks), (i + 1) * len(ticks))
                buf += encode_timeseries(self._labels[i], ts[sl], vals[sl])
                self._sent.append((idx[sl], ts[sl], vals[sl],
                                   np.full(len(ticks), seq, dtype=np.int64)))
                total += len(ticks)
            if resend is not None:
                r_idx, r_ts, r_val = resend
                mine = group_of[f.target[r_idx]] == g
                for i in np.unique(r_idx[mine]):
                    sel = mine & (r_idx == i)
                    buf += encode_timeseries(self._labels[i], r_ts[sel], r_val[sel])
                    self._sent.append((r_idx[sel], r_ts[sel], r_val[sel],
                                       np.full(int(sel.sum()), seq, dtype=np.int64)))
                    total += int(sel.sum())
            out.append((bytes(buf), seq))
        self._prev = (idx, ts, vals)
        return out, total, int(ticks[-1])

    @property
    def mark(self) -> int:
        """A point in the stream, for ``expected(upto=...)`` later."""
        return len(self._sent)

    def expected(self, upto: int | None = None):
        """The merged state after every batch so far (or up to a ``mark``):
        a pandas frame of (series, ts_ms, value) where each (series, ts_ms)
        keeps the value of its highest sequence number."""
        cols = [np.concatenate(c) for c in zip(*self._sent[:upto])]
        df = pd.DataFrame({"series": cols[0], "ts_ms": cols[1],
                           "value": cols[2], "seq": cols[3]})
        df = df.sort_values("seq").drop_duplicates(["series", "ts_ms"], keep="last")
        return df.drop(columns="seq").reset_index(drop=True)


def instant_sum_by_job(fleet: Fleet, state, metric: str, at_ms: int,
                       lookback_ms: int) -> dict[str, float]:
    """``sum by (job) (metric)`` at ``at_ms`` from a merged sample state:
    each series contributes its latest sample in (at - lookback, at]."""
    idx = np.array([i for i in range(fleet.n) if fleet.names[i] == metric])
    s = state[state["series"].isin(idx) & (state["ts_ms"] <= at_ms)
              & (state["ts_ms"] > at_ms - lookback_ms)]
    last = s.sort_values("ts_ms").drop_duplicates("series", keep="last")
    out: dict[str, float] = {}
    for i, v in zip(last["series"].tolist(), last["value"].tolist()):
        job = fleet.labels[i]["job"]
        out[job] = out.get(job, 0.0) + v
    return out
