"""Recording rules: periodically evaluate PromQL strings and persist the
results as FIRST-CLASS series — Prometheus's `rules:` feature, the missing
half of a monitoring deployment (dashboards query cheap pre-computed series
instead of re-aggregating raw samples).

Spark-first shape: a rule's output frame (series_key, ts_ms, value) lands in
a ``ColumnarTable`` keyed (name, series_key, ts_ms) through ``bulk_ingest``
— one job per evaluation, segment-split, merge-on-read dedup giving
last-write-wins on re-evaluation (exactly what a re-run of an incremental
rule window needs: overlapping points overwrite, never duplicate). The
recorded table is itself a valid sample store: ``engine_over()`` builds a
MetricEngine on it, so rules COMPOSE — a rule can query other rules'
outputs, and the HTTP/query surface serves them like any scraped metric.

The reference stubs its metric engine entirely (`metric_engine` is
``todo!()``); this follows the RFC's read-extension contract
(docs/rfcs/20220702-prometheus-read-extension.md) one level up the stack.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from horaedb_spark.core.schema import StorageSchema, UpdateMode
from horaedb_spark.metric.engine import MetricEngine
from horaedb_spark.storage.table import ColumnarTable


@dataclass(frozen=True)
class RecordingRule:
    """``record: <name>  expr: <promql>`` at a step resolution."""

    name: str
    expr: str
    step_ms: int


def rules_table_schema() -> StorageSchema:
    """(name, series_key, ts_ms) PK + value — recorded points are uniquely
    keyed by series and evaluation time; OVERWRITE makes re-evaluation
    idempotent (last write wins)."""
    return StorageSchema(
        T.StructType(
            [
                T.StructField("name", T.StringType()),
                T.StructField("series_key", T.StringType()),
                T.StructField("ts_ms", T.LongType()),
                T.StructField("value", T.DoubleType()),
            ]
        ),
        num_primary_keys=3,
        update_mode=UpdateMode.OVERWRITE,
    )


class RuleEvaluator:
    """Evaluate rules against a source engine and record into a table."""

    def __init__(self, source: MetricEngine, table: ColumnarTable):
        self.source = source
        self.table = table

    def evaluate(self, rule: RecordingRule) -> DataFrame:
        return self.source.promql(rule.expr, rule.step_ms).select(
            F.lit(rule.name).alias("name"),
            "series_key",
            "ts_ms",
            F.col("value").cast("double").alias("value"),
        )

    def record(self, rules: list[RecordingRule]) -> int:
        """One evaluation cycle: every rule's output lands in the recorded
        table (one bulk-ingest job per rule — rules are independent Spark
        jobs, parallelizable exactly like `Compactor.run_all`). Returns the
        number of recorded points."""
        total = 0
        for rule in rules:
            out = self.evaluate(rule)
            ssts = self.table.bulk_ingest(out, "ts_ms")
            total += sum(s.num_rows for s in ssts)
        return total


def engine_over(table: ColumnarTable) -> MetricEngine:
    """A MetricEngine over a flat (name, series_key, ts_ms, value) sample
    table — the recorded series (rules compose) and the HTTP server's
    remote-write sink, served like any scraped metric."""
    samples = table.scan().select(
        "name",
        F.str_to_map("series_key", F.lit(","), F.lit("=")).alias("labels"),
        "ts_ms",
        "value",
        F.lit(0).alias("seq"),
    )
    return MetricEngine(samples)


@dataclass(frozen=True)
class AlertingRule:
    """``alert: <name>  expr: <promql>  for: <steps>`` — a series fires at
    step t when the (typically comparison-filtered) expression returned it
    at EVERY one of the last ``for_steps`` consecutive steps, Prometheus's
    pending->firing semantics on the step grid."""

    name: str
    expr: str
    step_ms: int
    for_steps: int = 1


def _alert_runs(source: MetricEngine, rule: AlertingRule) -> DataFrame:
    """Rows of the alert expression annotated with their position inside a
    run of CONSECUTIVE steps. Consecutive-run detection is the
    gaps-and-islands pattern: step_idx - row_number is constant within a
    run, one window per series — no self-joins, engine-portable. Windows
    partition by series_key, so no single-partition stage."""
    from pyspark.sql.window import Window

    out = source.promql(rule.expr, rule.step_ms)
    w = Window.partitionBy("series_key").orderBy("ts_ms")
    runs = out.withColumn(
        "__grp__",
        (F.col("ts_ms") / rule.step_ms).cast("long")
        - F.row_number().over(w),
    )
    wr = Window.partitionBy("series_key", "__grp__").orderBy("ts_ms")
    return runs.withColumn("__pos__", F.row_number().over(wr))


def evaluate_alerts(source: MetricEngine, rule: AlertingRule) -> DataFrame:
    """Firing rows (alertname, series_key, ts_ms, value): steps where the
    expression has returned the series for >= ``for_steps`` consecutive
    steps — Prometheus's pending->firing promotion on the step grid."""
    return (
        _alert_runs(source, rule)
        .filter(F.col("__pos__") >= rule.for_steps)
        .select(
            F.lit(rule.name).alias("alertname"),
            "series_key",
            "ts_ms",
            "value",
        )
    )


def evaluate_alert_states(source: MetricEngine, rule: AlertingRule) -> DataFrame:
    """Per-step alert STATE rows (alertname, series_key, ts_ms, value,
    state, active_since_ms): ``pending`` while the consecutive run is
    shorter than ``for_steps``, ``firing`` once it reaches it —
    Prometheus's ActiveAt is the run start (the step the alert entered
    pending), which /api/v1/alerts reports as ``activeAt``."""
    runs = _alert_runs(source, rule)
    return runs.select(
        F.lit(rule.name).alias("alertname"),
        "series_key",
        "ts_ms",
        "value",
        F.when(F.col("__pos__") >= rule.for_steps, F.lit("firing"))
        .otherwise(F.lit("pending"))
        .alias("state"),
        (
            F.col("ts_ms") - (F.col("__pos__") - F.lit(1)) * F.lit(rule.step_ms)
        ).alias("active_since_ms"),
    )

