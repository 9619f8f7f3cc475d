"""MetricStore: the metric layer persisted on the storage engine.

The RFC defines each metric table (metrics/series/index/data) as an instance
of the generic columnar storage with segment-duration partitioning
(docs/rfcs/20240827-metric-engine.md:102-138). ``MetricEngine`` answers
queries over in-memory frames; ``MetricStore`` is the durable counterpart:
each table is a real ``ColumnarTable`` (segmented parquet + manifest +
merge-on-read), and ingest appends to all of them in one call — the
``populate_metric_ids`` / ``populate_series_ids`` / ``persist`` pipeline the
reference stubs out (metric_engine/src/metric/mod.rs:35-40,
index/mod.rs:35-41, data/mod.rs:36-40).

Catalog tables (metrics/series/index) are upsert-on-demand, as the RFC's
``populate_*_ids`` are: an ingest writes catalog rows only for the keys the
store does not hold yet (``MetricStore.ingest``), and re-writing a known key
would be a no-op under overwrite merge anyway. The data table's PK is
(metric_id, tsid, ts_ms) with ``__seq__`` carrying the ingest sequence:
duplicate samples resolve to max seq (D10).
"""

from __future__ import annotations

import logging
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from horaedb_spark.core.schema import StorageSchema, UpdateMode
from horaedb_spark.core.timeutil import TimeRange
from horaedb_spark.functions.promql import dedup_samples
from horaedb_spark.metric import model
from horaedb_spark.metric.engine import MetricEngine, partitions_for
from horaedb_spark.storage.table import ColumnarTable, ScanRequest, WriteRequest

CATALOG_SEGMENT = 1 << 60  # catalogs are not time-partitioned: one segment

log = logging.getLogger(__name__)


def _schema(
    fields: list[tuple[str, T.DataType]],
    n_pks: int,
    column_defaults: dict | None = None,
) -> StorageSchema:
    return StorageSchema(
        T.StructType([T.StructField(n, t) for n, t in fields]),
        num_primary_keys=n_pks,
        update_mode=UpdateMode.OVERWRITE,
        column_defaults=column_defaults or {},
    )


_L, _S, _D = T.LongType(), T.StringType(), T.DoubleType()
_POINT = T.StructType([T.StructField("ts_ms", _L), T.StructField("value", _D)])

# The authoritative table shapes — __init__, packed_data and migrate_legacy
# all build from these, so a column change cannot silently diverge between
# the open path and the migration path.
_METRICS_FIELDS = [
    ("metric_name", _S), ("field_name", _S), ("metric_id", _L),
    ("field_id", _L), ("field_type", _S),
]
_DATA_FIELDS = [
    ("metric_id", _L), ("tsid", _L), ("field_id", _L),
    ("ts_ms", _L), ("value", _D),
]
_PACKED_FIELDS = [
    ("metric_id", _L), ("tsid", _L), ("field_id", _L), ("pack_start_ms", _L),
    ("points", T.ArrayType(_POINT)), ("ts_min", _L), ("ts_max", _L),
    ("n_points", _L),
]


def _key_set(keys, *cols: str) -> set:
    """The distinct ``cols`` tuples of an Arrow-collected key frame (an
    Arrow collect skips building one Row object per catalog key)."""
    return set(zip(*(keys[c].to_pylist() for c in cols)))


def _default_field_id(spark: SparkSession) -> int:
    """xxhash64(DEFAULT_FIELD) as a literal — the existence default legacy
    rows surface after migration. One tiny Spark job, memoized."""
    global _DEFAULT_FID
    if _DEFAULT_FID is None:
        _DEFAULT_FID = spark.range(1).select(
            model.field_id(F.lit(model.DEFAULT_FIELD)).alias("f")
        ).first()["f"]
    return _DEFAULT_FID


_DEFAULT_FID: int | None = None


class _CatalogSnapshot:
    """The merged metrics, series and index catalogs at one catalog
    ``version`` (their manifests' ``mutations``). Each frame is the
    merge-on-read scan coalesced to ``partitions_for`` its size and
    persisted: the first query that reads it fills it, and later queries
    read the cached rows instead of re-running the dedup window."""

    def __init__(self, version: tuple, metrics: DataFrame, series: DataFrame,
                 index: DataFrame):
        self.version = version
        self.metrics, self.series, self.index = metrics, series, index
        # the engines' series-join broadcast decision (engine.py), made
        # against these frames' stats and so replaced together with them
        self.series_broadcast_memo: dict = {}

    def release(self) -> None:
        """Unpersist the frames (a newer snapshot replaces this one)."""
        for df in (self.metrics, self.series, self.index):
            df.unpersist()


class MetricStore:
    """Durable metric tables over ColumnarTable (RFC:106-137 layout)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        segment_duration_ms: int,
        pack_ms: int = model.PACK_MS,
        data_buckets: int | None = None,
    ):
        """``data_buckets``: opt the DATA table into a tsid-bucketed
        read-optimized mirror (storage/bucketed.py). ``engine()`` then
        serves from the mirror: merge-on-read is PRE-PAID at refresh time
        instead of per query, and aggregations keyed on tsid run
        exchange-free — the Spark-first analogue of the reference serving
        reads from compacted SSTs rather than re-merging per query
        (executor.rs:155-222). Pick the count for the target scale
        (buckets ≈ cluster cores at the final size). The mirror refreshes
        on a background thread; ``close()`` (or ``with MetricStore(...)``)
        waits for it."""
        self.spark = spark
        self.root = root
        self.pack_ms = pack_ms
        self._packed: ColumnarTable | None = None
        L, S = _L, _S
        # PK (metric_name, field_name): the RFC metrics table carries one
        # row PER FIELD of a metric (RFC:106-113) — re-ingesting a family
        # upserts each field row idempotently under overwrite merge.
        self.metrics = ColumnarTable(
            spark, f"{root}/metrics", _schema(_METRICS_FIELDS, 2), CATALOG_SEGMENT
        )
        self.series = ColumnarTable(
            spark,
            f"{root}/series",
            _schema([("metric_id", L), ("tsid", L), ("series_key", S)], 2),
            CATALOG_SEGMENT,
        )
        self.index = ColumnarTable(
            spark,
            f"{root}/index",
            _schema(
                [("metric_id", L), ("tag_key", S), ("tag_value", S), ("tsid", L)], 4
            ),
            CATALOG_SEGMENT,
        )
        # PK (metric_id, tsid, field_id, ts_ms) — the RFC data table's
        # first-three-columns PK (MetricID, TSID, FieldID; RFC:222-229)
        # plus the row timestamp our row-per-sample layout keeps explicit.
        # Single-value ingest writes field_id = xxhash64('value') uniformly;
        # the PK-sorted layout then keeps each field's samples contiguous
        # within an SST, so a field selection prunes on parquet min/max.
        bucket_spec = None
        if data_buckets is not None:
            from horaedb_spark.storage.bucketed import BucketSpec

            # buckets on tsid (the per-series aggregation key), but files
            # sorted in PK order: metric_id leads, so a metric selection
            # keeps its parquet row-group pruning inside every bucket —
            # sorting by tsid alone scatters metric_id across row groups
            # and a select_series degrades to a full bucket read (measured
            # 6x slower at 4M rows)
            bucket_spec = BucketSpec(
                data_buckets,
                ("tsid",),
                sort_columns=("metric_id", "tsid", "field_id", "ts_ms"),
            )
        self.data = ColumnarTable(
            spark,
            f"{root}/data",
            _schema(_DATA_FIELDS, 4),
            segment_duration_ms,
            bucket_spec=bucket_spec,
        )
        # ColumnarTable treats the persisted schema.json as authoritative, so
        # a store created before the multi-field layout reopens with the old
        # 4-column data schema — and write()'s schema-enforcement select
        # would then silently DROP the field_id ingest stamps, collapsing
        # distinct fields at the same (metric_id, tsid, ts_ms) via seq dedup.
        # Refuse loudly instead; migrate_legacy() upgrades in place without
        # rewriting a single SST.
        if "field_id" not in self.data.schema.user_columns:
            raise ValueError(
                f"MetricStore at {root!r} predates the multi-field layout "
                "(its persisted data schema has no field_id column); run "
                "MetricStore.migrate_legacy(spark, root, segment_duration_ms) "
                "once — a metadata-only migration, no SST is rewritten"
            )
        # The catalogs every engine() serves (see _catalogs()), rebuilt
        # under the lock when the catalogs' manifests have moved
        self._snapshot: _CatalogSnapshot | None = None
        self._snapshot_lock = threading.Lock()
        # serializes MetricEngine.current() resolutions (see _current())
        self._current_lock = threading.Lock()
        # The catalog keys this handle read back (see ingest()):
        # ({(metric_id, tsid)}, {(metric_id, field_id, field_type)}), valid
        # only while _catalog_identity() still equals _known_at and reset to
        # None by this handle's own catalog writes; concurrent
        # ingests on this handle take turns through the catalog step
        self._known: tuple[set, set] | None = None
        self._known_at: tuple | None = None
        self._known_lock = threading.Lock()

    # -------------------------------------------------------------- migration

    @classmethod
    def migrate_legacy(
        cls,
        spark: SparkSession,
        root: str,
        segment_duration_ms: int,
        pack_ms: int = model.PACK_MS,
    ) -> "MetricStore":
        """Upgrade a pre-multi-field store in place and open it.

        Metadata-only at any scale — neither the data table's SSTs nor the
        catalogs are rewritten:

        - ``data``: the persisted schema gains the ``field_id`` PK column
          with an existence default of ``xxhash64('value')`` (the stable id
          of the single implicit field every legacy sample belongs to,
          RFC:150-153) — pre-migration SSTs surface it via the scan-side
          coalesce (``StorageSchema.column_defaults``); compaction
          materializes it into rewritten files over time.
        - ``metrics``: the legacy catalog already carried
          field_name/field_id columns ('value' rows) but keyed rows on
          metric_name alone; the persisted key widens to
          (metric_name, field_name) — a pure schema.json replacement, sound
          because legacy rows are unique under the wider key too.

        Idempotent: re-running on an already-migrated store is a no-op."""
        import os as _os

        data = ColumnarTable(
            spark, f"{root}/data", _schema(_DATA_FIELDS, 4), segment_duration_ms
        )
        if "field_id" not in data.schema.user_columns:
            data.migrate_schema(
                _schema(
                    _DATA_FIELDS, 4,
                    column_defaults={"field_id": _default_field_id(spark)},
                )
            )
        metrics = ColumnarTable(
            spark, f"{root}/metrics", _schema(_METRICS_FIELDS, 2), CATALOG_SEGMENT
        )
        if metrics.schema.primary_keys != ("metric_name", "field_name"):
            # field_name is promoted into the key: sound because every
            # legacy catalog row carried the constant 'value' field_name
            # (single-field layout), so the wider key groups identically
            metrics.migrate_schema(
                _schema(_METRICS_FIELDS, 2),
                allow_pk_promotion=("field_name",),
            )
        # packed data table (lazily created, so it may not exist): the r8
        # layout keyed packs on (metric_id, tsid, pack_start_ms) — the pack
        # rows gain the field_id PK with the same existence default
        packed_root = f"{root}/data_packed"
        if _os.path.exists(_os.path.join(packed_root, "schema.json")):
            packed = ColumnarTable(
                spark, packed_root, _schema(_PACKED_FIELDS, 4), segment_duration_ms
            )
            if "field_id" not in packed.schema.user_columns:
                packed.migrate_schema(
                    _schema(
                        _PACKED_FIELDS, 4,
                        column_defaults={"field_id": _default_field_id(spark)},
                    )
                )
        return cls(spark, root, segment_duration_ms, pack_ms)

    # ------------------------------------------------------------------ write

    def ingest(self, samples: DataFrame) -> None:
        """One ingest batch: derive ids, write the catalog rows the store is
        missing, write data. ``samples`` columns: name, labels, ts_ms,
        value, seq.

        Catalogs are upsert-on-demand (the RFC's ``populate_metric_ids`` /
        ``populate_series_ids`` insert misses only): series and index rows
        are written for each ``(metric_id, tsid)`` the store does not hold,
        a metrics row for each new ``(metric_id, field_id, field_type)``.
        The handle keeps the key set its catalogs hold, read back from the
        series and metrics tables in one collect. The set is valid only
        while the catalogs' manifest identity (``mutations`` plus
        ``durable_token()``) is the one it was read at, and until this
        handle writes catalog rows: its own catalog write, a compaction,
        delete, restore or another writer on the same root makes the next
        ingest re-read it. A store with no series rows yet writes every
        catalog row for the batch with no collect at all.

        ``samples`` is read once per call: the id-stamped batch is
        persisted, and the distinct-keys collect, the catalog rows and the
        data write all read the cached blocks, which are released before
        ``ingest`` returns or raises.

        Write order is metrics, index, then series, then data. The key set
        is read from series and metrics, so an ingest that fails after its
        index write leaves those series unknown and the next batch writes
        their rows again.

        The data write goes through ``ColumnarTable.bulk_ingest``
        (partitionBy(__segment__): every executor writes its slice of every
        segment, one SST per segment registered afterwards from the staging
        listing) — ONE Spark job regardless of how many segments the batch
        spans."""
        # Samples without a `field` column normalize to the default 'value'
        # field (RFC example row, RFC:150-153); the field id is the stable
        # hash — a projection, never a catalog join. persist, not
        # localCheckpoint: a lost executor recomputes its blocks from
        # lineage (SCALING.md). Only this plan is cached, never ``samples``
        # itself, so a frame the caller persisted keeps its storage level.
        keyed = model.with_ids(model.normalized_fields(samples)).withColumn(
            "field_id", model.field_id(F.col("field"))
        ).persist()
        try:
            # D10 within-batch: duplicate (metric_id, tsid, field_id, ts_ms)
            # rows must resolve by max ingest seq BEFORE the write stamps
            # one __seq__ per file — matching model.build_data_table
            # (remote-write retries folded into one batch would otherwise
            # resolve by parquet row position).
            ided = dedup_samples(keyed, ["metric_id", "tsid", "field_id"], "seq")
            with self._known_lock:
                if not self.series.manifest.all_ssts():
                    # no series rows yet (a one-shot or first ingest): every
                    # key is new, so write them all without collecting keys
                    self._known = None
                    self._write_catalogs(keyed, keyed)
                    stats = {"batch_keys": None, "new_keys": None, "new_series": None,
                             "catalogs": "written in full", "key_set": "not read"}
                else:
                    stats = self._write_missing_catalogs(keyed)
            self.data.bulk_ingest(
                ided.select("metric_id", "tsid", "field_id", "ts_ms", "value"),
                "ts_ms",
            )
        finally:
            keyed.unpersist()
        log.debug(
            "MetricStore.ingest %s: %s batch keys, %s new, catalogs %s, key set %s",
            self.root, stats["batch_keys"], stats["new_keys"], stats["catalogs"],
            stats["key_set"], extra={"metric_ingest": stats},
        )

    def _catalog_identity(self) -> tuple:
        return tuple(
            (t.manifest.mutations, t.manifest.durable_token(max_age_s=0))
            for t in (self.metrics, self.index, self.series)
        )

    def _read_known(self) -> tuple[set, set]:
        """The catalogs' key set, read back in one job; records the
        identity it is valid at (taken after catching up with other
        writers and before the read, so a concurrent change re-reads)."""
        # imported here: a store that never re-reads (one-shot ingest,
        # serving) does not load pyarrow into the driver
        import pyarrow.compute as pc

        for t in (self.metrics, self.index, self.series):
            t.manifest.sync_if_behind()
        self._known_at = self._catalog_identity()
        null_l, null_s = F.lit(None).cast("long"), F.lit(None).cast("string")
        series = self.series.scan(ScanRequest(ordered=False)).select(
            "metric_id", "tsid", null_l.alias("field_id"), null_s.alias("field_type")
        )
        metrics = self.metrics.scan(ScanRequest(ordered=False)).select(
            "metric_id", null_l.alias("tsid"), "field_id", "field_type"
        )
        keys = series.unionByName(metrics).toArrow()
        is_series = pc.is_valid(keys["tsid"])
        self._known = (
            _key_set(keys.filter(is_series), "metric_id", "tsid"),
            _key_set(keys.filter(pc.invert(is_series)),
                     "metric_id", "field_id", "field_type"),
        )
        return self._known

    def _write_missing_catalogs(self, keyed: DataFrame) -> dict:
        """Write catalog rows for the batch keys the store does not hold.
        Returns what it did, for ingest()'s log record."""
        reread = self._known is None or self._known_at != self._catalog_identity()
        known_series, known_metrics = self._read_known() if reread else self._known
        ftype = model.field_type_name(keyed)
        keys = keyed.select("metric_id", "tsid", "field_id").distinct().toArrow()
        batch_series = _key_set(keys, "metric_id", "tsid")
        batch_metrics = {
            (m, f, ftype) for m, f in _key_set(keys, "metric_id", "field_id")
        }
        new_series = batch_series - known_series
        new_metrics = batch_metrics - known_metrics
        if new_series or new_metrics:
            # the next batch reads the key set back from what the catalogs
            # now hold (also after a failed write, or a type that replaced
            # another one under the (metric, field) key)
            self._known = None
            metric_rows = series_rows = None
            if new_metrics:
                metric_rows = self._rows_for(
                    keyed, ("metric_id", "field_id"),
                    {(m, f) for m, f, _ft in new_metrics},
                )
            if new_series:
                series_rows = self._rows_for(keyed, ("metric_id", "tsid"), new_series)
            self._write_catalogs(metric_rows, series_rows)
        return {
            "batch_keys": len(batch_series) + len(batch_metrics),
            "new_keys": len(new_series) + len(new_metrics),
            "new_series": len(new_series),
            "catalogs": "written" if new_series or new_metrics else "skipped",
            "key_set": "re-read" if reread else "reused",
        }

    def _rows_for(self, keyed: DataFrame, cols: tuple[str, str], new: set) -> DataFrame:
        """The batch rows whose ``cols`` key is in ``new``."""
        wanted = self.spark.createDataFrame(list(new), f"{cols[0]} long, {cols[1]} long")
        return keyed.join(F.broadcast(wanted), list(cols), "left_semi")

    def _write_catalogs(
        self, metric_rows: DataFrame | None, series_rows: DataFrame | None
    ) -> None:
        """Catalog rows from batch rows: metrics, index, then series last
        (see ingest()); index and series rows come from ``series_rows``."""
        for table, rows, build in (
            (self.metrics, metric_rows, model.build_metrics_table),
            (self.index, series_rows, model.build_index_table),
            (self.series, series_rows, model.build_series_table),
        ):
            if rows is not None:
                table.write(WriteRequest(build(rows), TimeRange(0, 1)))

    # --------------------------------------------------- packed data (RFC:218)

    @property
    def packed_data(self) -> ColumnarTable:
        """Opt-in packed data table (RFC 20240827:218-231): PK
        (metric_id, tsid, field_id, pack_start_ms), one row per series per
        FIELD per pack window (two fields of one series pack separately —
        RFC:222-229) carrying an array<struct<ts_ms,value>> plus explicit
        ts_min/ts_max stats (parquet can't see inside the packed column —
        the RFC's own-maintained min/max). Lazily created."""
        if self._packed is None:
            self._packed = ColumnarTable(
                self.spark,
                f"{self.root}/data_packed",
                _schema(_PACKED_FIELDS, 4),
                self.data.segment_duration_ms,
            )
            # same trap as the flat data table: a packed table persisted
            # before the multi-field layout would reopen 3-key and
            # bulk_ingest's schema enforcement would silently drop the
            # pack's field_id, collapsing fields per (series, window)
            if "field_id" not in self._packed.schema.user_columns:
                self._packed = None
                raise ValueError(
                    f"packed table at {self.root!r} predates the multi-field "
                    "layout; run MetricStore.migrate_legacy(spark, root, "
                    "segment_duration_ms) once (metadata-only)"
                )
        return self._packed

    def compact_to_packed(self) -> None:
        """Pack-on-compaction: fold the row-per-sample data table (with its
        merge-on-read dedup applied) into the packed layout — ONE Spark job
        over all segments (``bulk_ingest`` on ``pack_start_ms``; the
        per-segment driver loop this replaces re-ran the pack aggregation
        once per segment). Idempotent: a re-pack of the same window lands
        on the same PK and overwrite-merges (the RFC's seq-based dedup on
        compact, RFC:233-234)."""
        data = self.data.scan(ScanRequest(ordered=False))
        packed = model.pack_data_table(data, self.pack_ms)
        self.packed_data.bulk_ingest(packed, "pack_start_ms")

    def packed_scan(self, time_range: TimeRange | None = None) -> DataFrame:
        """Unpack-on-scan over the packed table: prune pack rows with the
        explicit ts_min/ts_max stats (a pack OVERLAPS the range iff
        ts_max >= start and ts_min < end), explode, then exact-filter —
        segment pruning at the manifest happens on pack_start_ms as usual."""
        tr = time_range or TimeRange.all()
        lo = tr.start - (self.pack_ms - 1)  # packs straddling the start
        rows = self.packed_data.scan(
            ScanRequest(TimeRange(lo, tr.end), ordered=False)
        ).filter(
            (F.col("ts_max") >= tr.start) & (F.col("ts_min") < tr.end)
        )
        out = model.unpack_data_table(rows)
        if time_range is not None:
            out = out.filter(
                (F.col("ts_ms") >= tr.start) & (F.col("ts_ms") < tr.end)
            )
        return out

    def packed_engine(self, time_range: TimeRange | None = None) -> MetricEngine:
        """A MetricEngine whose data path reads the PACKED table — query
        layer identical, storage layout batched (RFC:218-231).

        The data frame is the packed scan, so never ask ``engine()`` for
        the mirror path: on a ``data_buckets`` store that would run a
        mirror freshness check (and, right after an ingest, schedule a
        background refresh) for a served frame discarded one line later.
        ``current()`` follows the store with another packed engine."""
        eng = self.engine(time_range, from_mirror=False)
        eng.data = self.packed_scan(time_range)
        self._track(eng, eng._at_version, lambda: self.packed_engine(time_range))
        return eng

    # ------------------------------------------------------------------- read

    def engine(
        self,
        time_range: TimeRange | None = None,
        from_mirror: bool | None = None,
    ) -> MetricEngine:
        """A MetricEngine over the persisted (merge-on-read) tables — the
        query layer is identical whether frames are in-memory or durable.

        ``from_mirror``: serve the data path from the tsid-bucketed
        read-optimized mirror instead of the merge-on-read scan. Default
        (None) = automatically when the store opted in via
        ``data_buckets``. The mirror holds the MERGED state, so every
        query skips the dedup window (pre-paid at refresh), time-range
        selection prunes catalog partitions on ``__segment__`` (the same
        granularity as manifest SST pruning — SSTs never span segments),
        and aggregations whose keys include ``tsid`` run exchange-free.
        No engine() writes once the mirror exists: the segments an ingest
        touched since the last refresh are read merge-on-read from their
        SSTs (only they pay the dedup window), the rest from the mirror,
        and the mirror's background refresher rewrites the stale
        partitions off the query path (storage/bucketed.py). Only a store
        whose mirror does not exist yet builds it inside this call.

        ``metrics``, ``series`` and ``index`` come from the store's catalog
        snapshot (``_catalogs()``): one persisted copy of each merged
        catalog per catalog version, shared by every engine over this
        handle, so queries stop re-running the catalogs' dedup window. Any
        catalog write, compaction, delete, restore or manifest re-sync
        moves the version, and the next engine() builds a new snapshot.

        An engine's frames are frozen when it is created: its catalog rows,
        and its data scan's SST list. ``eng.current()`` is the store's
        engine at the store's current version (the four tables' manifests
        plus the mirror's meta writes), memoized, so an unchanged store
        answers ``eng`` itself. ``PromQLCompiler`` and ``ControlServer``
        resolve it, so a long-lived engine follows ingests, compactions
        (which delete the SSTs an old engine reads) and landed mirror
        refreshes."""
        version = self._engine_version()
        eng = MetricEngine.__new__(MetricEngine)
        eng.samples = None
        eng._flat = None
        # Live serving-version source for response caches (server.py
        # _serving_version); see _data_version().
        eng._version_fn = self._data_version
        if from_mirror is None:
            from_mirror = self.data.bucket_spec is not None
        if from_mirror:
            if self.data.bucket_spec is None:
                raise ValueError(
                    "this MetricStore was opened without data_buckets, so "
                    "there is no read-optimized mirror to serve from; "
                    "reopen with MetricStore(..., data_buckets=N) or call "
                    "engine(from_mirror=False)"
                )
            from horaedb_spark.storage.table import SEGMENT_COLUMN

            served = self.data.bucketed_scan()
            if time_range is not None:
                # segment overlaps [start, end) iff seg < end and
                # seg + dur > start — a partition-column predicate, so the
                # catalog prunes partitions exactly like find_ssts prunes
                # SSTs (both at segment granularity)
                dur = self.data.segment_duration_ms
                served = served.filter(
                    (F.col(SEGMENT_COLUMN) < time_range.end)
                    & (F.col(SEGMENT_COLUMN) > time_range.start - dur)
                )
            eng.data = served.select(*[n for n, _t in _DATA_FIELDS])
        else:
            eng.data = self.data.scan(
                ScanRequest(time_range or TimeRange.all(), ordered=False)
            )
        # The catalogs are taken AFTER the data view: ingest writes a
        # batch's series rows before its data, so every tsid the data view
        # holds is in the snapshot (taken first, it could miss the series
        # of a batch that landed in between, which then join to a null
        # series_key).
        snap = self._catalogs()
        eng.metrics, eng.series, eng.index = snap.metrics, snap.series, snap.index
        eng.tags = eng.index.select("metric_id", "tag_key", "tag_value").distinct()
        eng._series_broadcast_memo = snap.series_broadcast_memo
        self._track(eng, version, lambda: self.engine(time_range, from_mirror))
        return eng

    def _data_version(self) -> tuple:
        """A tuple of the backing tables' manifest mutation counters. Any
        ingest bumps at least one, so a cache keyed on this recomputes
        after writes. Local counters catch THIS instance's ingests
        exactly; the data manifest's durable token (memoized ≤1s)
        additionally catches writes from OTHER instances over the same
        root — a sample lands in the data table on every ingest, so its
        log identity moves whenever any writer commits (review r12:
        without it, a cached response over a shared mirror never
        invalidated cross-instance)."""
        return (
            id(self),
            self.data.manifest.mutations,
            self.series.manifest.mutations,
            self.metrics.manifest.mutations,
            self.index.manifest.mutations,
            self.data.manifest.durable_token(),
        )

    def _engine_version(self) -> tuple:
        """``_data_version()`` plus the data mirror's meta writes: a landed
        refresh changes which segments an engine reads from the mirror,
        not the rows it answers."""
        mirror = self.data._bucketed
        return (*self._data_version(), 0 if mirror is None else mirror.meta_version)

    def _track(self, eng: MetricEngine, version: tuple, rebuild) -> None:
        """Make ``eng.current()`` follow this store: ``eng`` was built at
        ``version``, and ``rebuild()`` builds its like at the current one."""
        eng._at_version = version
        eng._latest = eng
        eng._follow = lambda: self._current(eng, rebuild)

    def _current(self, eng: MetricEngine, rebuild) -> MetricEngine:
        """``eng``'s latest resolution, rebuilt when the store's version
        has moved past it. Under one lock, so concurrent resolutions of
        one engine share one rebuild."""
        with self._current_lock:
            if eng._latest._at_version != self._engine_version():
                eng._latest = rebuild()
            return eng._latest

    def close(self) -> None:
        """Wait for the data mirror's background refresher, then release
        the catalog snapshot. Idempotent, and called on leaving a
        ``with MetricStore(...) as store:`` block. The handle stays usable:
        its next engine() builds a new snapshot."""
        if self.data._bucketed is not None:
            self.data._bucketed.join()
        with self._snapshot_lock:
            if self._snapshot is not None:
                self._snapshot.release()
                self._snapshot = None

    def __enter__(self) -> "MetricStore":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _catalogs(self) -> _CatalogSnapshot:
        """The catalog snapshot at the catalogs' current version, built
        under the lock so concurrent engine() calls share one. A snapshot
        it replaces is unpersisted: an engine still holding its frames
        recomputes them from lineage."""
        tables = {"metrics": self.metrics, "series": self.series, "index": self.index}
        with self._snapshot_lock:
            # Read BEFORE the scans resolve their SSTs: a write landing in
            # between bumps its counter after changing the manifest, so the
            # next call sees a new version and rebuilds, where reading it
            # after could key a snapshot that misses the write.
            version = tuple(t.manifest.mutations for t in tables.values())
            old = self._snapshot
            if old is not None:
                if old.version == version:
                    return old
                # released before the new frames persist: a catalog the
                # change did not touch plans the same scan, and unpersisting
                # the old frame afterwards would drop their shared entry
                old.release()
            frames, parts = [], {}
            for name, table in tables.items():
                scan = table.scan(ScanRequest(ordered=False))
                parts[name] = partitions_for(scan)
                frames.append(scan.coalesce(parts[name]).persist())
            snap = self._snapshot = _CatalogSnapshot(version, *frames)
        log.debug(
            "MetricStore %s catalog snapshot %s at version %s, partitions %s",
            self.root, "replaced" if old is not None else "built", version, parts,
            extra={"catalog_snapshot": {
                "root": self.root, "version": version, "partitions": parts,
                "replaced": old is not None,
            }},
        )
        return snap
