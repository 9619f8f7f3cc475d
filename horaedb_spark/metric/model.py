"""Metric data model: metrics / series / tags / index / data (SURVEY.md §1.2).

The RFC (docs/rfcs/20240827-metric-engine.md:88-137) defines a time series as
metric name + sorted label set, identified by ``MetricId = hash(name)`` and
``TSID = hash(name, sorted labels)`` (src/metric_engine/src/types.rs:18-41
uses seahash; *stability*, not the hash function, is the contract — we use
Spark's built-in ``xxhash64`` so id derivation runs JVM-side with codegen).

Five logical tables (RFC:106-137), here built as DataFrames from a samples
frame (columns: ``name``, ``labels: map<string,string>``, ``ts_ms``,
``value``, ``seq``):

- ``metrics(metric_name, metric_id, field_name, field_id, field_type)``
- ``series(metric_id, tsid, series_key)``
- ``tags(metric_id, tag_key, tag_value)``            (accelerates label_values)
- ``index(metric_id, tag_key, tag_value, tsid)``     (inverted index)
- ``data(metric_id, tsid, ts_ms, value)``            (samples, deduped D10)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from horaedb_spark.functions.promql import dedup_samples


def sorted_series_key(labels: Column) -> Column:
    """Canonical series key: label kvs sorted by key, ``k=v`` joined with
    commas — the RFC's "sorted tag KVs" bytes (RFC 20240827:114-119)."""
    kvs = F.transform(
        F.array_sort(F.map_keys(labels)), lambda k: F.concat_ws("=", k, labels[k])
    )
    return F.array_join(kvs, ",")


def metric_id(name: Column) -> Column:
    return F.xxhash64(name)


def tsid(name: Column, labels: Column) -> Column:
    return F.xxhash64(name, sorted_series_key(labels))


def field_id(field_name: Column) -> Column:
    """Stable field id — same derivation philosophy as metric_id/tsid: the
    hash IS the id, so neither ingest nor query needs a catalog round-trip
    to resolve a field. The RFC's metrics table carries a catalog-assigned
    dense FieldId(uint32) (RFC 20240827:106-113, data table FieldId(i32) at
    RFC:130); a dense id assigned per ingest batch would DRIFT across
    batches (batch 1 {count,sum} -> ids 0,1; batch 2 {sum} -> id 0), and
    keeping it stable needs exactly the catalog service the hash design
    avoids — DIVERGENCES.md #26 (same stability-over-encoding divergence
    as seahash -> xxhash64)."""
    return F.xxhash64(field_name)


DEFAULT_FIELD = "value"


def normalized_fields(samples: DataFrame) -> DataFrame:
    """Samples with an explicit ``field`` column: multi-field samples carry
    their own (family metric name, field) split — e.g. from
    ``ingest.group_metric_families`` — while plain remote-write samples
    (single value per metric) normalize to the default ``value`` field,
    matching the RFC example row (RFC:150-153)."""
    if "field" in samples.columns:
        return samples
    return samples.withColumn("field", F.lit(DEFAULT_FIELD))


_FIELD_TYPE_NAMES = {
    "double": "f64",
    "float": "f32",
    "bigint": "i64",
    "int": "i32",
    "smallint": "i16",
    "tinyint": "i8",
    "boolean": "bool",
    "string": "string",
}


def field_type_name(samples: DataFrame) -> str:
    """FieldType derived from the value column's Spark type (the RFC's
    uint8 type enum, spelled as a name)."""
    dt = samples.schema["value"].dataType.simpleString()
    return _FIELD_TYPE_NAMES.get(dt, dt)


def with_ids(samples: DataFrame) -> DataFrame:
    """D1+D2 id population: stamp metric_id and tsid on every sample.

    The reference's upsert-on-demand catalog (metric_engine/src/metric/mod.rs:
    35-40 stub) becomes a pure derivation here — the hash IS the id, so no
    catalog round-trip or broadcast join is needed on the hot ingest path."""
    return samples.withColumn("metric_id", metric_id(F.col("name"))).withColumn(
        "tsid", tsid(F.col("name"), F.col("labels"))
    )


def build_metrics_table(samples: DataFrame) -> DataFrame:
    """metrics catalog (RFC:106-113): one row per (metric, field). Plain
    single-value samples degenerate to one ``value``/f64 row per metric
    (the RFC example, RFC:150-153); multi-field samples (``field`` column,
    e.g. a remote-write family grouped by ``ingest.group_metric_families``)
    emit one catalog row per field with the stable hash field_id."""
    ftype = field_type_name(samples)
    return (
        normalized_fields(samples)
        .select("name", "field")
        .distinct()
        .select(
            F.col("name").alias("metric_name"),
            metric_id(F.col("name")).alias("metric_id"),
            F.col("field").alias("field_name"),
            field_id(F.col("field")).alias("field_id"),
            F.lit(ftype).alias("field_type"),
        )
    )


def build_series_table(samples: DataFrame) -> DataFrame:
    ided = with_ids(samples)
    return (
        ided.select("metric_id", "tsid", sorted_series_key(F.col("labels")).alias("series_key"))
        .distinct()
    )


def build_index_table(samples: DataFrame) -> DataFrame:
    """Inverted index (RFC:132-137): explode labels into
    (metric_id, tag_key, tag_value, tsid) posting rows."""
    ided = with_ids(samples)
    return (
        ided.select("metric_id", "tsid", F.explode("labels").alias("tag_key", "tag_value"))
        .select("metric_id", "tag_key", "tag_value", "tsid")
        .distinct()
    )


def build_tags_table(samples: DataFrame) -> DataFrame:
    ided = with_ids(samples)
    return (
        ided.select("metric_id", F.explode("labels").alias("tag_key", "tag_value"))
        .distinct()
    )


def build_data_table(samples: DataFrame) -> DataFrame:
    """Samples keyed (metric_id, tsid[, field_id], ts_ms) — the RFC's
    data-table PK prefix (MetricID, TSID, FieldID; RFC:222-229); duplicate
    (PK, timestamp) resolves to max seq (RFC:232 / D10).

    Single-value samples (no ``field`` column) keep the 4-column shape with
    no field dimension — every compiled plan over them is unchanged.
    Field-carrying samples add a ``field_id`` column (stamped by the stable
    hash — a pure projection, no catalog join on the ingest path) and dedup
    per field: two fields of one series at one timestamp are two rows."""
    ided = with_ids(samples)
    if "field" in samples.columns:
        ided = ided.withColumn("field_id", field_id(F.col("field")))
        deduped = dedup_samples(ided, ["metric_id", "tsid", "field_id"], "seq")
        return deduped.select("metric_id", "tsid", "field_id", "ts_ms", "value")
    deduped = dedup_samples(ided, ["metric_id", "tsid"], "seq")
    return deduped.select("metric_id", "tsid", "ts_ms", "value")


# RFC 20240827:218-231: "Timestamp 与 Value 上层自己编码，会进行数据攒批，
# 比如会把 30 分钟的数据压缩到一行里面" — ~30 min of points per data row.
PACK_MS = 1_800_000


def pack_data_table(data: DataFrame, pack_ms: int = PACK_MS) -> DataFrame:
    """Pack a row-per-sample data table into the RFC's batched layout:
    one row per (metric_id, tsid, pack window) carrying an
    ``array<struct<ts_ms,value>>`` of its points, timestamp-sorted.

    The Spark-first re-expression of the RFC's opaque Timestamp/Value
    encoding (RFC:218-231): Parquet stores the array columnar-compressed,
    and ``ts_min``/``ts_max`` are maintained EXPLICITLY because the packed
    timestamp column is opaque to parquet stats (the RFC's point 2: "这一列
    的 min/max 数据需要我们自己来更新"). One hash aggregate — no window, no
    single-partition stage; for high-frequency series this cuts data-table
    row count ~(points per 30 min)x."""
    win = (F.col("ts_ms") - F.pmod("ts_ms", F.lit(pack_ms))).alias("pack_start_ms")
    keys = ["metric_id", "tsid"] + (
        ["field_id"] if "field_id" in data.columns else []
    )
    return data.groupBy(*keys, win).agg(
        F.sort_array(F.collect_list(F.struct("ts_ms", "value"))).alias("points"),
        F.min("ts_ms").alias("ts_min"),
        F.max("ts_ms").alias("ts_max"),
        F.count(F.lit(1)).alias("n_points"),
    )


def unpack_data_table(packed: DataFrame) -> DataFrame:
    """Unpack-on-scan: explode the packed points back to the row-per-sample
    shape (metric_id, tsid[, field_id], ts_ms, value). The generator runs
    inside whole-stage codegen — no Python in the path."""
    keys = ["metric_id", "tsid"] + (
        ["field_id"] if "field_id" in packed.columns else []
    )
    return packed.select(*keys, F.explode("points").alias("__p__")).select(
        *keys,
        F.col("__p__.ts_ms").alias("ts_ms"),
        F.col("__p__.value").alias("value"),
    )
