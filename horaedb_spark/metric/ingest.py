"""Prometheus remote-write ingest (SURVEY.md §2 B1).

The reference hand-rolls a streaming protobuf reader for the remote-write
``WriteRequest`` message (src/remote_write/src/pb_reader.rs:85-565; proto at
src/pb_types/protos/remote_write.proto:21-77). Its zero-copy/pooling tricks
(B2) are allocator-level Rust concerns with no JVM analogue — declared a
non-goal in SURVEY.md §2.

Spark 4's built-in ``from_protobuf`` needs a compiled descriptor set (protoc
is not in this environment), so the decode is a small pure-Python wire-format
parser — ~80 lines for the three message shapes we need — executed
*distributed* via ``mapInPandas``: each executor decodes its partition's
payload blobs in Arrow batches, so ingest parallelizes with the data. An
encoder lives alongside for fixtures, mirroring the reference's
equivalence-vs-independent-decoder test strategy
(remote_write/tests/equivalence_test.rs:18-23).

Wire format decoded (proto3, remote_write.proto:21-77):
  WriteRequest   { repeated TimeSeries timeseries = 1;
                   repeated MetricMetadata metadata = 3 }
  TimeSeries     { repeated Label labels = 1; repeated Sample samples = 2 }
  Label          { string name = 1; string value = 2 }
  Sample         { double value = 1; int64 timestamp = 2 }   # timestamp in ms
  MetricMetadata { MetricType type = 1; string family_name = 2;
                   string help = 4; string unit = 5 }
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------- wire codec


_U64 = (1 << 64) - 1


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Canonical proto varint: at most 10 bytes, value truncated to the low
    64 bits (the C++/prost behavior — extra bits in the 10th byte are
    discarded), hard error on truncation. The 64-bit mask and the 10-byte
    cap matter for equivalence with any independent decoder: an unmasked
    Python int would interpret over-long varints differently than every
    fixed-width implementation (pinned by tests/test_ingest_equivalence.py)."""
    # single-byte fast path: field tags and small lengths dominate the
    # wire, and the general loop's len()+shift bookkeeping costs ~40% of
    # decode time (profiled); the IndexError conversion keeps the
    # truncation contract identical
    try:
        b = buf[pos]
    except IndexError:
        raise ValueError("truncated varint") from None
    pos += 1
    if b < 0x80:
        return b, pos
    result = b & 0x7F
    shift = 7
    end = len(buf)
    while True:
        if pos >= end:
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result & _U64, pos
        shift += 7
        if shift >= 70:
            raise ValueError("varint too long")


def _read_ld(buf: bytes, pos: int) -> tuple[bytes, int]:
    """Length-delimited payload with a bounds check: a declared length
    running past the buffer is a MALFORMED request and must error, not
    silently truncate the field content (prost errors here too)."""
    n, pos = _read_varint(buf, pos)
    if pos + n > len(buf):
        raise ValueError("truncated length-delimited field")
    return buf[pos : pos + n], pos + n


def _skip_field(buf: bytes, pos: int, wire_type: int) -> int:
    if wire_type == 0:
        _, pos = _read_varint(buf, pos)
    elif wire_type == 1:
        pos += 8
        if pos > len(buf):
            raise ValueError("truncated fixed64 field")
    elif wire_type == 2:
        _, pos = _read_ld(buf, pos)
    elif wire_type == 5:
        pos += 4
        if pos > len(buf):
            raise ValueError("truncated fixed32 field")
    else:
        raise ValueError(f"unsupported wire type {wire_type}")
    return pos


def _decode_label(buf: bytes) -> tuple[str, str]:
    pos, name, value = 0, "", ""
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wt = key >> 3, key & 7
        if field == 1 and wt == 2:
            raw, pos = _read_ld(buf, pos)
            name = raw.decode("utf-8")
        elif field == 2 and wt == 2:
            raw, pos = _read_ld(buf, pos)
            value = raw.decode("utf-8")
        else:
            pos = _skip_field(buf, pos, wt)
    return name, value


def _decode_sample(buf: bytes) -> tuple[float, int]:
    # fast path: the canonical wire layout every standard encoder emits —
    # 0x09 <8-byte double> 0x10 <varint ts> and nothing else. Semantically
    # identical to the general loop below (the equivalence suite
    # cross-checks both against the independent decoder); non-canonical
    # layouts (unknown fields, duplicates, reordering) fall through.
    n = len(buf)
    if n >= 11 and buf[0] == 0x09 and buf[9] == 0x10:
        raw, pos = _read_varint(buf, 10)
        if pos == n:
            value = struct.unpack_from("<d", buf, 1)[0]
            return value, raw - (1 << 64) if raw >= (1 << 63) else raw
    pos, value, ts = 0, 0.0, 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wt = key >> 3, key & 7
        if field == 1 and wt == 1:
            if pos + 8 > len(buf):
                raise ValueError("truncated double field")
            value = struct.unpack_from("<d", buf, pos)[0]
            pos += 8
        elif field == 2 and wt == 0:
            raw, pos = _read_varint(buf, pos)
            ts = raw - (1 << 64) if raw >= (1 << 63) else raw  # two's complement int64
        else:
            pos = _skip_field(buf, pos, wt)
    return value, ts


def _decode_timeseries(buf: bytes) -> tuple[dict[str, str], list[tuple[float, int]]]:
    pos, labels, samples = 0, {}, []
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wt = key >> 3, key & 7
        if field == 1 and wt == 2:
            raw, pos = _read_ld(buf, pos)
            k, v = _decode_label(raw)
            labels[k] = v
        elif field == 2 and wt == 2:
            raw, pos = _read_ld(buf, pos)
            samples.append(_decode_sample(raw))
        else:
            pos = _skip_field(buf, pos, wt)
    return labels, samples


METRIC_TYPES = (
    "UNKNOWN", "COUNTER", "GAUGE", "HISTOGRAM",
    "GAUGEHISTOGRAM", "SUMMARY", "INFO", "STATESET",
)


def _decode_metadata(buf: bytes) -> dict:
    pos = 0
    out = {"type": "UNKNOWN", "family_name": "", "help": "", "unit": ""}
    fields = {2: "family_name", 4: "help", 5: "unit"}
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wt = key >> 3, key & 7
        if field == 1 and wt == 0:
            t, pos = _read_varint(buf, pos)
            out["type"] = METRIC_TYPES[t] if t < len(METRIC_TYPES) else "UNKNOWN"
        elif field in fields and wt == 2:
            raw, pos = _read_ld(buf, pos)
            out[fields[field]] = raw.decode("utf-8")
        else:
            pos = _skip_field(buf, pos, wt)
    return out


def decode_metadata(buf: bytes) -> list[dict]:
    """WriteRequest bytes -> the MetricMetadata records (type/family/help/
    unit) — feeds the metrics catalog's field_type column (RFC table,
    20240827:106-113)."""
    pos, out = 0, []
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wt = key >> 3, key & 7
        if field == 3 and wt == 2:
            raw, pos = _read_ld(buf, pos)
            out.append(_decode_metadata(raw))
        else:
            pos = _skip_field(buf, pos, wt)
    return out


def decode_write_request(buf: bytes) -> list[dict]:
    """WriteRequest bytes -> flat sample dicts. The metric name is the
    ``__name__`` label, Prometheus-style; remaining labels are the series
    label set (metric_engine/src/types.rs:27-36)."""
    pos, out = 0, []
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wt = key >> 3, key & 7
        if field == 1 and wt == 2:
            raw, pos = _read_ld(buf, pos)
            labels, samples = _decode_timeseries(raw)
            name = labels.pop("__name__", "")
            for value, ts in samples:
                out.append({"name": name, "labels": labels, "ts_ms": ts, "value": value})
        else:
            pos = _skip_field(buf, pos, wt)
    return out


def _decode_exemplar(buf: bytes) -> dict:
    """Exemplar{labels=1, value=2 (double), timestamp=3 (ms)} — the trace
    back-reference attached to a sample (remote_write.proto:70-77)."""
    pos, labels, value, ts = 0, {}, 0.0, 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wt = key >> 3, key & 7
        if field == 1 and wt == 2:
            raw, pos = _read_ld(buf, pos)
            k, v = _decode_label(raw)
            labels[k] = v
        elif field == 2 and wt == 1:
            if pos + 8 > len(buf):
                raise ValueError("truncated double field")
            value = struct.unpack("<d", buf[pos : pos + 8])[0]
            pos += 8
        elif field == 3 and wt == 0:
            raw, pos = _read_varint(buf, pos)
            ts = raw - (1 << 64) if raw >= (1 << 63) else raw
        else:
            pos = _skip_field(buf, pos, wt)
    return {"labels": labels, "value": value, "ts_ms": ts}


def decode_exemplars(buf: bytes) -> list[dict]:
    """WriteRequest bytes -> exemplar dicts with their series identity
    attached (name + series labels + exemplar labels/value/ts). The reference
    parses exemplars on the same path as samples (pb_reader.rs:227-262)."""
    pos, out = 0, []
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wt = key >> 3, key & 7
        if field == 1 and wt == 2:
            ts_buf, pos = _read_ld(buf, pos)
            tpos, labels, exemplars = 0, {}, []
            while tpos < len(ts_buf):
                tkey, tpos = _read_varint(ts_buf, tpos)
                tfield, twt = tkey >> 3, tkey & 7
                if tfield == 1 and twt == 2:
                    raw, tpos = _read_ld(ts_buf, tpos)
                    k, v = _decode_label(raw)
                    labels[k] = v
                elif tfield == 3 and twt == 2:
                    raw, tpos = _read_ld(ts_buf, tpos)
                    exemplars.append(_decode_exemplar(raw))
                else:
                    tpos = _skip_field(ts_buf, tpos, twt)
            name = labels.pop("__name__", "")
            for ex in exemplars:
                out.append({"name": name, "series_labels": labels, **ex})
        else:
            pos = _skip_field(buf, pos, wt)
    return out


# ------------------------------------------------------------------- encoder


def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _ld(field: int, payload: bytes) -> bytes:
    return _varint((field << 3) | 2) + _varint(len(payload)) + payload


def encode_write_request(series: list[dict], metadata: list[dict] | None = None) -> bytes:
    """Inverse of :func:`decode_write_request` for fixtures. Each entry:
    ``{"name": str, "labels": {k: v}, "samples": [(value, ts_ms), ...]}``;
    optional metadata entries: ``{"type": str, "family_name": str,
    "help": str, "unit": str}``."""
    req = bytearray()
    for md in metadata or []:
        buf = bytearray()
        t = METRIC_TYPES.index(md.get("type", "UNKNOWN"))
        buf += _varint((1 << 3) | 0) + _varint(t)
        for field, k in ((2, "family_name"), (4, "help"), (5, "unit")):
            if md.get(k):
                buf += _ld(field, md[k].encode())
        req += _ld(3, bytes(buf))
    for s in series:
        ts_buf = bytearray()
        labels = {"__name__": s["name"], **s["labels"]}
        for k, v in labels.items():
            lab = _ld(1, k.encode()) + _ld(2, v.encode())
            ts_buf += _ld(1, lab)
        for value, ts in s["samples"]:
            raw_ts = ts + (1 << 64) if ts < 0 else ts
            sample = (
                _varint((1 << 3) | 1)
                + struct.pack("<d", value)
                + _varint((2 << 3) | 0)
                + _varint(raw_ts)
            )
            ts_buf += _ld(2, sample)
        for ex in s.get("exemplars", ()):
            ex_buf = bytearray()
            for k, v in ex.get("labels", {}).items():
                ex_buf += _ld(1, _ld(1, k.encode()) + _ld(2, v.encode()))
            raw_ts = ex["ts_ms"] + (1 << 64) if ex["ts_ms"] < 0 else ex["ts_ms"]
            ex_buf += _varint((2 << 3) | 1) + struct.pack("<d", ex["value"])
            ex_buf += _varint((3 << 3) | 0) + _varint(raw_ts)
            ts_buf += _ld(3, bytes(ex_buf))
        req += _ld(1, bytes(ts_buf))
    return bytes(req)


# --------------------------------------------------------------- spark entry

SAMPLES_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("seq", T.LongType()),
    ]
)


def decode_payloads(payloads: DataFrame, payload_col: str = "payload", seq_col: str = "seq") -> DataFrame:
    """Distributed decode: a DataFrame with a binary remote-write payload
    column -> the flat samples frame. Arrow-batched via mapInPandas — the
    Python decode cost rides inside the executors, scaling with partitions.

    The decode is ~10-30x more expensive per byte than moving the bytes
    (pure-Python wire walk, ~100k samples/s/core measured), so when the
    source partitioning is BYTE-sized below the cluster's parallelism
    (e.g. a few hundred MB of payloads = 2-3 parquet splits), the stage
    runs on 2-3 cores while the rest idle. Repartition up to
    defaultParallelism first — one cheap shuffle of opaque bytes buys a
    fully parallel CPU-bound stage (round 15; measured 10M samples:
    327 s on 3 input splits -> see SCALE100.json ingest row). A streaming
    frame is decoded as it arrives: it has no partition count to read
    before the query starts, so it is never repartitioned here."""
    import pandas as pd

    sc = payloads.sparkSession.sparkContext
    if (
        not payloads.isStreaming
        and payloads.rdd.getNumPartitions() < sc.defaultParallelism
    ):
        payloads = payloads.repartition(sc.defaultParallelism)

    def decode_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for payload, seq in zip(pdf[payload_col], pdf[seq_col]):
                for rec in decode_write_request(bytes(payload)):
                    rec["seq"] = int(seq)
                    rows.append(rec)
            yield pd.DataFrame(
                rows, columns=["name", "labels", "ts_ms", "value", "seq"]
            )

    return payloads.mapInPandas(decode_iter, SAMPLES_SCHEMA)


EXEMPLARS_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("series_labels", T.MapType(T.StringType(), T.StringType())),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
        T.StructField("value", T.DoubleType()),
        T.StructField("ts_ms", T.LongType()),
    ]
)


def decode_exemplar_payloads(payloads: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Distributed exemplar decode: a binary remote-write payload column ->
    the flat exemplar frame (series identity + exemplar labels/value/ts).
    Same mapInPandas shape as :func:`decode_payloads` — the Python wire
    decode rides inside the executors (the reference parses exemplars on
    the same pb_reader path as samples, pb_reader.rs:227-262)."""
    import pandas as pd

    def decode_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for payload in pdf[payload_col]:
                rows.extend(decode_exemplars(bytes(payload)))
            yield pd.DataFrame(
                rows,
                columns=["name", "series_labels", "labels", "value", "ts_ms"],
            )

    return payloads.mapInPandas(decode_iter, EXEMPLARS_SCHEMA)


def group_metric_families(
    samples: DataFrame,
    families: dict[str, str] | None = None,
    suffixes: tuple[str, ...] = ("sum", "count", "bucket", "total"),
) -> DataFrame:
    """Fold a Prometheus metric family into ONE multi-field metric — the
    RFC metrics-table shape where a metric carries several
    (FieldName, FieldId, FieldType) rows (docs/rfcs/20240827-metric-engine.md:
    106-113; data-table FieldId at RFC:222-229): ``http_req_sum`` /
    ``http_req_count`` become metric ``http_req`` with fields ``sum`` /
    ``count``, so a second field of a metric no longer needs a second
    metric name.

    ``families`` maps a sample name to its family, sourced from the
    remote-write METADATA records' ``family_name``
    (:func:`decode_metadata`); the field is the name's remainder past the
    family. Without metadata, the standard Prometheus compound suffixes
    split heuristically. Unmatched names pass through with the default
    ``value`` field, so mixing grouped and plain metrics in one batch is
    fine.

    Scale shape: a pure projection — the mapping compiles to a literal
    CASE chain (metadata-sized), no join and no shuffle on the ingest hot
    path. Feed the result to ``MetricEngine`` / ``MetricStore.ingest``;
    ``model.build_metrics_table`` derives the per-field catalog rows and
    ``model.build_data_table`` stamps the stable hash field_id."""
    from horaedb_spark.metric import model

    if families:
        branches = [
            F.when(
                F.col("name") == nm,
                F.struct(
                    F.lit(fam).alias("family"),
                    F.lit(
                        (nm[len(fam):].lstrip("_") or model.DEFAULT_FIELD)
                        if nm.startswith(fam)
                        else model.DEFAULT_FIELD
                    ).alias("field"),
                ),
            )
            for nm, fam in families.items()
        ]
    else:
        branches = [
            F.when(
                F.col("name").endswith(f"_{s}"),
                F.struct(
                    F.expr(
                        f"substring(name, 1, length(name) - {len(s) + 1})"
                    ).alias("family"),
                    F.lit(s).alias("field"),
                ),
            )
            for s in suffixes
        ]
    split = F.coalesce(
        *branches,
        F.struct(
            F.col("name").alias("family"),
            F.lit(model.DEFAULT_FIELD).alias("field"),
        ),
    )
    return (
        samples.withColumn("__split__", split)
        .withColumn("name", F.col("__split__.family"))
        .withColumn("field", F.col("__split__.field"))
        .drop("__split__")
    )
