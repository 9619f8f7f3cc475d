"""MetricEngine: label-matcher query planning over the metric tables.

Implements the RFC's two-step query path (docs/rfcs/20240827-metric-engine.md:
120-126): resolve label matchers against the inverted index to a TSID set,
then join the data table on (metric_id, tsid) and apply the time range.

Spark-first planning choices:
- each equality/regex matcher is a filter over the index table; the TSID-set
  intersection of k matchers is ``GROUP BY tsid HAVING count(*) = k`` (the
  DataFrame analogue of posting-list intersection);
- the resolved TSID set joins the data table as a LEFT SEMI join — at scale
  the matcher side is almost always small, so it broadcasts and the data scan
  stays shuffle-free;
- the time range lands as a plain ``ts_ms`` predicate, which partition-prunes
  a segment-partitioned data table (D5).
"""

from __future__ import annotations

import logging
import re
import threading
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from horaedb_spark.core.timeutil import TimeRange
from horaedb_spark.metric import model

log = logging.getLogger(__name__)


def _anchored(pattern: str) -> str:
    """PromQL fully anchors matcher regexes: host=~"h1" must NOT match h10.

    (prometheus/pkg/labels: NewMatcher wraps as ^(?:pattern)$; label_replace
    in functions/promql.py applies the same rule.)
    """
    return f"^(?:{pattern})$"


@dataclass(frozen=True)
class Matcher:
    """One PromQL label matcher: op in {'=', '!=', '=~', '!~'}."""

    key: str
    op: str
    value: str

    def __post_init__(self):
        if self.op not in ("=", "!=", "=~", "!~"):
            raise ValueError(f"bad matcher op {self.op!r}")
        if self.op in ("=~", "!~"):
            re.compile(self.value)  # fail fast on bad regex


def matches_labels(labels: dict[str, str], matchers: list[Matcher]) -> bool:
    """Driver-side matcher evaluation over ONE label set — used by the
    operational endpoints (exemplar lookup) whose store is a bounded
    in-memory buffer, never a data path. Prometheus semantics: an absent
    label matches as the empty string; regexes are fully anchored."""
    for m in matchers:
        v = labels.get(m.key, "")
        if m.op == "=":
            ok = v == m.value
        elif m.op == "!=":
            ok = v != m.value
        else:
            ok = re.fullmatch(f"(?:{m.value})", v) is not None
            if m.op == "!~":
                ok = not ok
        if not ok:
            return False
    return True


def _parse_byte_conf(value: str) -> int:
    """Spark byte-size conf string -> bytes ('10485760b', '10MB', '-1').
    Mirrors JavaUtils.byteStringAsBytes' suffix set (b/k/m/g/t/p and the
    *b forms). A string this parser can't read must never crash a query —
    and the fallback fails SAFE to Spark's 10 MB default: treating an
    unreadable threshold as huge would force-broadcast an arbitrarily
    large series table into the driver."""
    v = value.strip().lower()
    for suffix, mult in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("tb", 1 << 40),
        ("pb", 1 << 50),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40),
        ("p", 1 << 50),
        ("b", 1),
    ):
        if v.endswith(suffix):
            try:
                return int(float(v[: -len(suffix)]) * mult)
            except ValueError:
                return 10 << 20
    try:
        return int(v)
    except ValueError:
        return 10 << 20


def partitions_for(df: DataFrame) -> int:
    """Partitions for a materialized copy of ``df``, from Catalyst's size
    estimate (a plan-stats lookup, no job): ~32 MB of source bytes per
    partition (~100-250 MB in memory), clamped to
    [1, spark.sql.shuffle.partitions]. A fixed conf-sized count would hand
    every tiny per-query job conf-many near-empty tasks, while the conf
    itself is the deployment's parallelism ceiling at scale."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        est = 1 << 60
    conf_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(1, min(conf_parts, est // (32 << 20) + 1))


class MetricEngine:
    """Query layer over a samples frame (name, labels, ts_ms, value, seq).

    Two shapes serve the same queries: a samples-backed engine
    (``__init__``) derives its tables from ``samples``; a store-backed one
    (``MetricStore.engine``, ``samples`` None) reads the store's merged
    tables. ``materialized()`` clones either shape onto checkpointed
    tables for a batch of strings over one base."""

    def __init__(self, samples: DataFrame):
        self.samples = samples
        self.metrics = model.build_metrics_table(samples)
        self.series = model.build_series_table(samples)
        self.index = model.build_index_table(samples)
        self.tags = model.build_tags_table(samples)
        self.data = model.build_data_table(samples)
        self._flat: DataFrame | None = None

    def current(self) -> "MetricEngine":
        """The engine a query should run on now, the one resolution point
        for long-lived engines (``PromQLCompiler`` and ``ControlServer``
        call it). A store-backed engine answers the store's engine at the
        store's current version, memoized: while the store is unchanged
        that is the engine itself, and no frame is rebuilt. An engine whose
        frames are its own (samples-backed, ``materialized()`` clones)
        answers itself."""
        follow = self.__dict__.get("_follow")
        return self if follow is None else follow()

    def _series_join_side(self) -> DataFrame:
        """``series (tsid, series_key)`` prepared for a data-side join,
        broadcast-hinted per ``_series_broadcast_hint``."""
        sel = self.series.select("tsid", "series_key")
        return F.broadcast(sel) if self._series_broadcast_hint() else sel

    def _series_broadcast_hint(self) -> bool:
        """Whether the series label table broadcasts on data joins: only
        when Catalyst's size estimate fits the session's
        ``spark.sql.autoBroadcastJoinThreshold`` (a plan-stats lookup —
        metadata, no job). The decision is memoized per engine:
        the series frame never changes under an engine, and the stats
        lookup runs a full driver-side optimizer pass we don't want on
        every labeled select."""
        thr = _parse_byte_conf(
            self.series.sparkSession.conf.get(
                "spark.sql.autoBroadcastJoinThreshold", "10MB"
            )
        )
        # The memo dict may be SHARED across engines over the same base
        # (MetricStore hands every engine() its catalog snapshot's dict,
        # replaced together with the snapshot) so a per-query engine() loop
        # pays the optimizer pass once, not per query. Keyed by the
        # threshold: a decision made under one session threshold must not
        # answer under another.
        memo = self.__dict__.setdefault("_series_broadcast_memo", {})
        hint = memo.get(thr)
        if hint is None:
            if thr <= 0:
                hint = False
            else:
                sel = self.series.select("tsid", "series_key")
                est = int(
                    sel._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
                )
                hint = est <= thr
            memo[thr] = hint
        return hint

    def materialized(self, metrics: set[str]) -> "MetricEngine":
        """A shallow clone whose derived tables (``data``, ``series``,
        ``index``) are eagerly ``localCheckpoint``ed and bounded to the
        ``metrics`` a batch references — the shared-base materialization
        for SUITE evaluation (many PromQL strings over one store in one
        batch, ``promql_eval_many``).

        Why: every compiled string re-embeds the scan → D10-dedup →
        series-key derivation subtree; a 16-string suite re-analyzes it 16x
        on the driver and re-executes it 16x on the executors. Checkpointing
        the derived tables once collapses every per-string plan to a
        filter over executor-resident blocks — the same job the reference
        assigns to compaction (serve merged SSTs, don't re-merge per query;
        src/columnar_storage/src/compaction/executor.rs). The data lands as
        ``_flat`` (pre-joined with series_key, repartitioned by it,
        partitioning preserved through the checkpoint's LogicalRDD), so
        per-string plans additionally lose the data ⋈ series join and the
        per-series shuffle: a per-series aggregation over a labeled
        selection plans with no Exchange. ``_flat`` is planned in a cloned
        session with AQE off; the caller's session conf is never changed.

        ``metrics`` (the size guard): a non-empty set of metric names.
        The checkpointed frames are bounded to them BEFORE materialization,
        so the working set follows the batch, not the store. The engine's
        shape picks the bound:

        - samples-backed engines (``__init__``) REBUILD data/index/series
          from ``samples.filter(name IN batch)`` — ``name`` is a source
          column, so the predicate pushes at the scan (PushedFilters;
          metric_id is ``xxhash64(name)``, a derived column nothing can
          push) AND the D10 dedup window shuffles only the referenced
          metrics' rows instead of the whole store. Identical rows to
          filter-after-build: the dedup partitions by metric_id, so
          dropping other metrics' partitions cannot change a kept row
          (the engine already treats xxhash64(name) as the collision-free
          identity everywhere, e.g. select_series). The clone's series is
          bounded too: tsid embeds the metric name, so bounded data only
          references bounded-series tsids.
        - store-backed engines (``MetricStore.engine``, samples=None)
          filter data/index on the literal ``metric_id`` — there it IS a
          stored column (pushes / prunes as-is) and the scan is already
          merged (no dedup to prune); the clone keeps the whole series
          scan.

        The evaluation grid must not move when the base shrinks, so the
        parent's (min, max) ts bounds are computed and pinned on the clone
        before filtering — time()/vector()/absent() grids stay identical
        to the declarative path.

        localCheckpoint policy (SCALING.md "localCheckpoint boundary"): this
        is the SERVING-SUITE side of the boundary — the blast radius of a
        lost executor is one suite re-run, and the blocks die with the clone
        (ContextCleaner frees them on GC; the parent engine keeps its
        declarative plans). Library operators over corpus-sized frames keep
        declarative defaults instead (functions/dedup.exact_substr_spans).

        The parent's series-broadcast decision is shared (a checkpointed
        frame is a LogicalRDD whose size estimate defaults to huge, which
        would silently flip the per-string series join from broadcast to
        sort-merge); the data-range bounds memo transfers for the same
        reason (same rows, one less probe job)."""
        names = sorted(set(metrics))
        if not names:
            raise ValueError("materialized() needs the metric names to bound")
        # decide the series broadcast from the PARENT's stats (memoized)
        # before the clone inherits the memo — the clone's checkpointed
        # series has no stats
        broadcast = self._series_broadcast_hint()
        # pin the grid to the PARENT's range before the base shrinks (a
        # compiler falling through to the clone's bounded data would derive
        # a wrong grid). The agg runs over ``samples`` when available: the
        # D10 dedup keeps one row per (metric, tsid, ts) — it never removes
        # a timestamp entirely — so min/max ts_ms over samples equals
        # min/max over data, without paying the dedup window's shuffle just
        # to read two scalars. Memoized on the PARENT, so a long-lived
        # engine pays it once across batches.
        if getattr(self, "_data_ts_bounds", None) is None:
            src = self.samples if self.samples is not None else self.data
            row = src.agg(F.min("ts_ms"), F.max("ts_ms")).first()
            if row[0] is not None:
                self._data_ts_bounds = (int(row[0]), int(row[1]))

        background: list = []
        if self.samples is not None:
            # ONE derivation of the (possibly expensive) samples subtree:
            # checkpoint the name-bounded sample stream — the name
            # predicate pushes at the scan — then derive data/series/index
            # from the materialized blocks instead of re-deriving the
            # subtree once per table.
            bounded = self.samples.filter(F.col("name").isin(names))
            est_src = bounded
            base = bounded.localCheckpoint(eager=False)
            background.append(base.count)
            data = model.build_data_table(base)
            index = model.build_index_table(base)
            series = model.build_series_table(base)
        else:
            # store-backed: metric_id is a stored column (pushes/prunes
            # as-is) and the scan is already merged — filter in place
            cond = F.col("metric_id").isin(
                *[F.xxhash64(F.lit(n)) for n in names]
            )
            data = self.data.filter(cond)
            index = self.index.filter(cond)
            series = self.series
            est_src = data

        series_ck = series.localCheckpoint(eager=False)
        index_ck = index.localCheckpoint(eager=False)
        # ONE job derives the bounded data and lands it pre-joined with
        # series_key and REPARTITIONED BY series_key (``_flat``): every
        # per-string kernel's first aggregation/window keys on
        # (series_key, ...), and a localCheckpoint preserves the
        # physical partitioning through the LogicalRDD — so the one
        # data-sized shuffle in every compiled string is paid once per
        # BATCH instead of once per string, and per-string plans lose the
        # data ⋈ series join outright. ``data`` is served from the same
        # blocks by projection (no second data-sized checkpoint).
        side = series_ck.select("tsid", "series_key")
        if broadcast:
            side = F.broadcast(side)
        # Partition count from the INPUT's size estimate: AQE is off for
        # this one frame (below), so it cannot coalesce for us.
        spark = data.sparkSession
        n_parts = partitions_for(est_src)
        # the checkpoint only carries the repartition's hashpartitioning
        # into its LogicalRDD when the plan is NOT wrapped in
        # AdaptiveSparkPlanExec (AQE's output partitioning is invisible to
        # LogicalRDD.fromDataset: AQE on = Exchange under every downstream
        # per-series agg, AQE off = none). Plan this ONE frame in a clone
        # of the caller's session (same conf, AQE off there only), then
        # wrap the checkpoint's LogicalRDD back into the caller's session:
        # the caller's conf never changes, so concurrent planners on it
        # (sibling materializations, the HTTP server) keep AQE.
        # localCheckpoint(eager=False) builds the physical plan (and its
        # LogicalRDD) HERE; the RDD computes on first action.
        pre = data.join(side, "tsid", "left").repartition(n_parts, "series_key")
        jclone = spark._jsparkSession.cloneSession()
        jclone.conf().set("spark.sql.adaptive.enabled", "false")
        jds = spark._jvm.org.apache.spark.sql.classic.Dataset
        ck = jds.ofRows(jclone, pre._jdf.logicalPlan()).localCheckpoint(False)
        flat = DataFrame(jds.ofRows(spark._jsparkSession, ck.logicalPlan()), spark)
        # materialize the checkpoints as BACKGROUND jobs: per-string
        # compilation (driver-side Catalyst/py4j, no cluster work) overlaps
        # the executor-side materialization instead of waiting on it. A
        # per-string job that lands first simply computes the marked RDD
        # itself (block-level locking makes concurrent computes safe).
        background += [series_ck.count, index_ck.count, flat.count]

        logged = threading.Lock()

        def _background(fn):
            try:
                fn()
            except Exception:
                # the per-string action surfaces the error to the caller;
                # the first background failure of this batch is logged
                if logged.acquire(blocking=False):
                    log.warning(
                        "background materialization of a shared PromQL "
                        "base failed; the per-string jobs recompute it",
                        exc_info=True,
                    )

        for fn in background:
            threading.Thread(target=_background, args=(fn,), daemon=True).start()
        clone = MetricEngine.__new__(MetricEngine)
        clone.samples = self.samples
        clone.metrics = self.metrics
        clone.tags = self.tags
        clone.data = flat.select(*self.data.columns)
        clone.series = series_ck
        clone.index = index_ck
        clone._flat = flat
        clone.__dict__["_series_broadcast_memo"] = self.__dict__[
            "_series_broadcast_memo"
        ]
        bounds = getattr(self, "_data_ts_bounds", None)
        if bounds is not None:
            clone._data_ts_bounds = bounds
        return clone

    def fields(self, metric: str) -> DataFrame:
        """The metric's catalog field rows (field_name, field_id,
        field_type) — the metrics-table lookup (RFC:106-113). Single-field
        engines return the one default row."""
        mid = F.xxhash64(F.lit(metric))
        return self.metrics.filter(F.col("metric_id") == mid).select(
            "field_name", "field_id", "field_type"
        )

    # -- D4 ------------------------------------------------------------------
    def label_values(self, metric: str, tag_key: str) -> DataFrame:
        """Distinct values of one label for one metric (RFC:127-131)."""
        mid = F.xxhash64(F.lit(metric))
        return (
            self.index.filter((F.col("metric_id") == mid) & (F.col("tag_key") == tag_key))
            .select("tag_value")
            .distinct()
        )

    def select_all_series(self, time_range: TimeRange | None = None) -> DataFrame:
        """Samples of every metric with the metric name restored from the
        catalog (broadcast join on metric_id) — the cross-metric scan used by
        metadata queries and histogram builds. On a multi-field engine the
        output carries every field's rows (with their ``field_id``) — filter
        on field_id downstream if a single field is wanted; per-field
        selection belongs to ``select_series(field=...)``."""
        out = self.data
        if time_range is not None:
            out = out.filter(
                (F.col("ts_ms") >= time_range.start) & (F.col("ts_ms") < time_range.end)
            )
        # the catalog is one row per (metric, FIELD) since the multi-field
        # RFC shape landed — distinct the name projection or a two-field
        # metric would duplicate every one of its data rows in this join
        cat = self.metrics.select(
            "metric_id", F.col("metric_name").alias("name")
        ).distinct()
        return out.join(F.broadcast(cat), "metric_id")

    # -- D3 ------------------------------------------------------------------
    def resolve_tsids(self, metric: str, matchers: list[Matcher]) -> DataFrame:
        """Matchers -> TSID set via the inverted index.

        Prometheus semantics per matcher: a series matches ``m`` iff the
        matcher's value condition holds for ``labels.get(key, "")`` — an
        ABSENT label participates as the empty string. The inverted index
        only holds labels a series HAS, so each matcher resolves to one of
        two join shapes against the index, keyed on whether its condition
        accepts the empty string:

        - condition rejects "" (e.g. ``env="prod"``, ``env=~"p.+"``,
          ``env!=""``): the series must HAVE the key with a matching
          value — LEFT SEMI join on the matching index rows (the classic
          posting-list path);
        - condition accepts "" (e.g. ``env=""``, ``env=~"prod|"``,
          ``env!="prod"``, ``env=~".*"``): every series matches UNLESS it
          has the key with a non-matching value — LEFT ANTI join on the
          violating index rows.

        One series-cardinality-sized semi/anti join per matcher (matcher
        counts are tiny); Catalyst reuses the single index scan."""
        mid = F.xxhash64(F.lit(metric))
        idx = self.index.filter(F.col("metric_id") == mid)
        tsids = idx.select("tsid").distinct()
        for m in matchers:
            if m.op == "=":
                cond = F.col("tag_value") == m.value
                empty_ok = m.value == ""
            elif m.op == "!=":
                cond = F.col("tag_value") != m.value
                empty_ok = m.value != ""
            else:
                rx = _anchored(m.value)
                hit = F.col("tag_value").rlike(rx)
                cond = hit if m.op == "=~" else ~hit
                empty_ok = (re.fullmatch(f"(?:{m.value})", "") is not None) == (
                    m.op == "=~"
                )
            keyed = idx.filter(F.col("tag_key") == m.key)
            if empty_ok:
                tsids = tsids.join(
                    keyed.filter(~cond).select("tsid"), "tsid", "left_anti"
                )
            else:
                tsids = tsids.join(
                    keyed.filter(cond).select("tsid"), "tsid", "left_semi"
                )
        return tsids

    def promql(
        self,
        query: str,
        step_ms: int,
        lookback_ms: int | None = None,
        start_ms: int | None = None,
        end_ms: int | None = None,
    ) -> DataFrame:
        """Evaluate a PromQL STRING at the given step resolution — the
        RFC's text-query contract (20220702-prometheus-read-extension.md)
        through the parser/compiler in ``metric/promql.py``. Returns
        (series_key, ts_ms, value)."""
        from horaedb_spark.metric.promql import PromQLCompiler

        return PromQLCompiler(
            self, step_ms, lookback_ms, start_ms=start_ms, end_ms=end_ms
        ).compile(query)

    def select_series(
        self,
        metric: str,
        matchers: list[Matcher] | None = None,
        time_range: TimeRange | None = None,
        with_labels: bool = True,
        field: str | None = None,
    ) -> DataFrame:
        """Samples of all series matching the matchers within the range —
        the index→TSID→data join pipeline (RFC:120-126).

        ``field`` selects ONE field of a multi-field metric (RFC:106-113
        metrics-table shape; data-table FieldId at RFC:222-229); None means
        the default ``value`` field. Because field ids are stable hashes,
        the selection is a literal equality on the data table's ``field_id``
        column — no catalog join, and it prunes at the parquet scan like any
        other PK-prefix predicate. A tuple/list of field names selects
        SEVERAL fields in one pass (one ``field_id IN`` predicate) — the
        fused-evaluation shape ``histogram_avg`` compiles to (round 14),
        where one derivation of the base replaces one per field; rows then
        carry the ``field_id`` column for downstream disambiguation. On a
        single-field engine (no field dimension in the data) the filter is
        skipped entirely, and asking for a non-default field there is an
        error rather than silence.

        On a ``materialized()`` clone the labeled path reads ``_flat``
        (pre-joined, series_key-partitioned): filters and the broadcast
        matcher semi-join preserve the partitioning, so downstream
        per-series aggregations need no exchange."""
        mid = F.xxhash64(F.lit(metric))
        if with_labels and self._flat is not None:
            out = self._flat.filter(F.col("metric_id") == mid)
        else:
            out = self.data.filter(F.col("metric_id") == mid)
        if "field_id" in out.columns:
            if isinstance(field, (tuple, list)):
                if not field:
                    raise ValueError("field tuple must name at least one field")
                out = out.filter(
                    F.col("field_id").isin(*[F.xxhash64(F.lit(f)) for f in field])
                )
            else:
                want = field if field is not None else model.DEFAULT_FIELD
                out = out.filter(F.col("field_id") == F.xxhash64(F.lit(want)))
        elif isinstance(field, (tuple, list)):
            raise ValueError(
                f"engine data has no field dimension; cannot select "
                f"fields={field!r} (ingest multi-field samples with a "
                f"'field' column to enable it)"
            )
        elif field is not None and field != model.DEFAULT_FIELD:
            raise ValueError(
                f"engine data has no field dimension; cannot select "
                f"field={field!r} (ingest multi-field samples with a "
                f"'field' column to enable it)"
            )
        if time_range is not None:
            out = out.filter(
                (F.col("ts_ms") >= time_range.start) & (F.col("ts_ms") < time_range.end)
            )
        if matchers:
            tsids = self.resolve_tsids(metric, matchers)
            out = out.join(F.broadcast(tsids), "tsid", "left_semi")
        if with_labels and self._flat is None:
            out = out.join(self._series_join_side(), "tsid", "left")
        return out
