"""ColumnarTable: the segmented, manifested, merge-on-read parquet table.

This is the Spark-first re-expression of the reference's ``ColumnarStorage``
trait and ``ObjectBasedStorage`` impl (columnar_storage/src/storage.rs:75-87,
189-374). The three entry points match the reference:

- ``write(WriteRequest)``  — storage.rs:307-333: validate the declared time
  range stays inside one segment, sort the batch by primary key, stamp
  ``__seq__`` = the newly allocated file id (monotonic, wall-clock seeded,
  sst.rs:39-46,120-122) and a null ``__reserved__``, write one parquet SST,
  record it in the manifest.
- ``scan(ScanRequest)``    — storage.rs:335-370: time-range SST pruning via the
  manifest, parquet scan with projection/predicate pushdown, residual filter,
  per-segment merge (Overwrite = last ``__seq__`` wins, Append = ordered binary
  concat), segments unioned old→new.
- ``compact()``            — delegated to ``storage.compaction``.

Spark-native deltas from the reference (deliberate, SURVEY.md §3-§4):
- The per-segment plans + union collapse into ONE declarative plan: a single
  multi-path parquet scan (Catalyst still prunes files by the manifest-derived
  path list — pruning happened driver-side) followed by one window/aggregate
  keyed on ``(__segment__, pks)``. One shuffle, fully parallel, AQE-coalesced —
  versus the reference's single-threaded SortPreservingMerge+MergeExec
  pipeline breaker (read.rs:154-156). At cluster scale the dedup shuffle is
  partitioned by hash(segment, pk) so hot segments spread across executors.
- An SST is a *directory* (one per write) rather than a single file, so a
  large distributed write parallelizes; the manifest tracks the directory.
- Parquet row-group pruning / predicate pushdown / column pruning are Spark
  built-ins (read.rs:451-469's hand-built equivalents); we assert them in
  tests via the explain output rather than re-implementing.
"""

from __future__ import annotations

import os
import re
import threading
import time
from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from horaedb_spark.core.schema import (
    RESERVED_COLUMN,
    SEGMENT_COLUMN,
    SEQ_COLUMN,
    StorageSchema,
)
from horaedb_spark.core.timeutil import TimeRange, truncate_by
from horaedb_spark.storage.backend import PosixBackend, StorageBackend
from horaedb_spark.storage.manifest import Manifest, SstFile
from horaedb_spark.storage.merge import POS_COLUMN, apply_update_mode

ZSLICE_COLUMN = "__zslice__"  # staging-only partition key for z-ordered bulk loads
ZKEY_COLUMN = "__zkey__"  # staging-only Morton key: row order within a slice


@dataclass(frozen=True)
class WriteConfig:
    """Parquet writer configuration — parity with the reference's
    ``WriteConfig`` (columnar_storage/src/config.rs:120-133: row-group size,
    write batch, codec choice, optional bloom filters / dictionary,
    sorting-columns metadata).

    Mapping notes: parquet-mr sizes row groups in BYTES (``parquet.block.
    size``) where the reference caps them at 8192 ROWS — ``row_group_bytes``
    is the tuning knob with the same effect (smaller groups → finer row-group
    pruning). Bloom filters on PK columns are a real point-lookup win on a
    100 TB table (the scan prunes row groups by PK without reading them).
    Sort order is enforced by the write path itself (sortWithinPartitions on
    the PKs) rather than footer metadata Spark wouldn't read back."""

    codec: str = "snappy"  # config.rs default; "zstd" for colder data
    row_group_bytes: int = 128 << 20
    enable_dictionary: bool = False  # reference default: dict off
    bloom_filter_columns: tuple[str, ...] = ()  # reference default: bloom off
    page_row_count_limit: int = 8192  # reference write_batch_size analogue

    def writer_options(self) -> dict[str, str]:
        opts = {
            "compression": self.codec,
            "parquet.block.size": str(self.row_group_bytes),
            "parquet.enable.dictionary": str(self.enable_dictionary).lower(),
            "parquet.page.row.count.limit": str(self.page_row_count_limit),
        }
        for c in self.bloom_filter_columns:
            opts[f"parquet.bloom.filter.enabled#{c}"] = "true"
        return opts


@dataclass
class WriteRequest:
    df: DataFrame
    time_range: TimeRange
    enable_check: bool = True
    # Optional pre-allocated file id (via table.alloc_file_id()): concurrent
    # writers use this to pin the sequence order of their SSTs — version
    # precedence is decided at allocation time, not by write completion order.
    file_id: int | None = None


@dataclass
class ScanRequest:
    time_range: TimeRange = dc_field(default_factory=TimeRange.all)
    predicate: Column | str | None = None
    projections: list[str] | None = None
    keep_builtin: bool = False
    ordered: bool = True  # output ordered by (segment, pks) — the scan contract
                          # (storage.rs:82-84); disable for pure-throughput reads
    as_of_seq: int | None = None  # MVCC snapshot read: only SSTs with
                                  # file_id <= as_of_seq participate — the
                                  # __seq__ versioning (types.rs:35-41) makes
                                  # time travel a manifest filter
    drop_tombstones: bool | None = None  # None = drop iff not keep_builtin;
                                         # compaction sets True on a
                                         # full-segment rewrite (tombstone GC)
    keep_segment: bool = False  # retain __segment__ in the output (the
                                # bucketed mirror partitions its layout by it
                                # — one scan instead of per-segment unions)


class ColumnarTable:
    """One table = root dir with ``data/__segment__=<ms>/sst=<id>/*.parquet``
    plus a ``manifest/`` log."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        schema: StorageSchema,
        segment_duration_ms: int,
        write_config: WriteConfig | None = None,
        backend: StorageBackend | None = None,
        bucket_spec=None,
    ):
        self.spark = spark
        self.root = root
        self.schema = schema
        self.segment_duration_ms = segment_duration_ms
        self.write_config = write_config or WriteConfig()
        # Opt-in bucketed read-optimized mirror (storage/bucketed.py):
        # maintained per-segment through compaction, served via the catalog
        # so joins/aggregations on the bucket columns skip their exchange.
        self.bucket_spec = bucket_spec
        self._bucketed = None
        # Every metadata/file op below routes through the backend
        # (storage/backend.py): PosixBackend keeps the rename-based layout;
        # ObjectStoreBackend publishes staged SSTs by manifest-pointer move
        # (no rename), matching the reference's ObjectStore layering
        # (storage.rs:189-225, manifest/mod.rs:131-157).
        self.backend = backend or PosixBackend()
        self.data_dir = os.path.join(root, "data")
        self.backend.makedirs(self.data_dir)
        # The persisted schema is authoritative: a table evolved in a prior
        # session reopens with its evolved columns even when the caller
        # passes the original declaration (schema evolution survives
        # restarts, like the manifest does).
        self._schema_path = os.path.join(root, "schema.json")
        if self.backend.exists(self._schema_path):
            import json as _json

            self.schema = StorageSchema.from_json(
                _json.loads(self.backend.read_text(self._schema_path))
            )
        else:
            self._persist_schema()
        self.manifest = Manifest(root, backend=self.backend)
        # Monotonic file-id allocation, wall-clock seeded exactly like
        # sst.rs:39-46. The reference assumes one writer; here every
        # allocation also clears the highest id the manifest has absorbed
        # (alloc_file_id), so handles sharing a root stay ordered.
        self._next_id = max(time.time_ns(), self.manifest.max_file_id + 1)
        self._id_lock = threading.Lock()

    def _persist_schema(self) -> None:
        import json as _json

        self.backend.put_text(self._schema_path, _json.dumps(self.schema.to_json()))

    def evolve_schema(self, new_fields) -> None:
        """Add nullable value columns without rewriting a single SST (the
        100 TB schema change): old files simply surface NULL for the new
        columns via the scan's explicit read schema. Persisted, so the
        evolved shape survives reopen."""
        self.schema = self.schema.evolved(list(new_fields))
        self._persist_schema()

    def migrate_schema(
        self,
        new_schema: StorageSchema,
        allow_pk_promotion: tuple[str, ...] = (),
    ) -> None:
        """Metadata-only schema migration: replace the persisted schema with
        ``new_schema`` without rewriting any SST — the 100 TB migration.
        Unlike ``evolve_schema`` this may reorder columns, widen the primary
        key, and add PK columns, under these safety rules:

        - the update mode is unchanged;
        - every existing column survives with an identical data type
          (reads use an explicit by-name schema, so order is metadata);
        - the key only WIDENS: every existing PK stays a PK (narrowing
          would re-dedup the table per the smaller key — silent data loss);
        - every ADDED PK column carries an existence default
          (``new_schema.column_defaults``, PK-only by construction) — a
          defaultless added PK would give pre-migration rows a NULL merge
          key, which is undefined; added VALUE columns must be nullable
          (old SSTs surface NULL, same as ``evolve_schema``).

        PK reorder/widen is sound here because the merge is a shuffle +
        window over the key columns, never a file-order k-way walk: old
        SSTs sorted under the previous key order still merge correctly
        (storage/merge.py:104). Write-path PK sort applies the new order to
        new files only. Stats pruning is by column name, order-free."""
        if new_schema.update_mode != self.schema.update_mode:
            raise ValueError("migrate_schema cannot change the update mode")
        old = {f.name: f.dataType for f in self.schema.fields.fields}
        new = {f.name: f.dataType for f in new_schema.fields.fields}
        for name, typ in old.items():
            if name not in new:
                raise ValueError(f"migration drops existing column {name!r}")
            if new[name] != typ:
                raise ValueError(
                    f"migration changes type of {name!r}: {typ} -> {new[name]}"
                )
        # widen-only key rule, ENFORCED: every existing PK must stay a PK.
        # Narrowing (or reordering a column out of the key) would re-dedup
        # the table per the smaller key on the next scan — max-__seq__ wins
        # per group, everything else silently vanishes, and a compaction
        # makes it permanent.
        demoted = set(self.schema.primary_keys) - set(new_schema.primary_keys)
        if demoted:
            raise ValueError(
                f"migration demotes PK column(s) {sorted(demoted)}: the key "
                "may only widen — narrowing re-dedups the table and loses "
                "every non-max-seq row per narrowed group"
            )
        # The key may widen ONLY with NEW columns (which carry an existence
        # default, checked below). Promoting an EXISTING value column into
        # the PK is a re-key, not a migration: rows previously merged as
        # versions of one key (overwritten history) become distinct keys and
        # resurrect on the next scan, and NULL values in the promoted column
        # become NULL merge keys — both silent. That operation needs a
        # rewrite with an explicit uniqueness/backfill story, which a
        # metadata-only migration cannot provide.
        # ``allow_pk_promotion`` is the caller's explicit attestation that
        # the named columns are constant across all versions of any old key
        # and never NULL (e.g. a catalog whose rows always carried
        # field_name='value') — then the wider key groups exactly as the
        # old one did. Without it, promotion is a re-key, not a migration.
        promoted = (
            set(new_schema.primary_keys) - set(self.schema.primary_keys)
        ) & set(old) - set(allow_pk_promotion)
        if promoted:
            raise ValueError(
                f"migration promotes existing value column(s) "
                f"{sorted(promoted)} into the PK: overwritten versions that "
                "merged under the old key would resurrect as distinct keys, "
                "and NULLs in the promoted column become NULL merge keys. "
                "Widen the key with NEW defaulted columns, or pass "
                "allow_pk_promotion=(name,) if every historical version of "
                "a key holds one identical non-NULL value in that column"
            )
        for f in new_schema.fields.fields:
            if f.name in old:
                continue
            is_pk = f.name in new_schema.primary_keys
            has_default = f.name in new_schema.column_defaults
            if is_pk and not has_default:
                raise ValueError(
                    f"added PK column {f.name!r} needs an existence default "
                    "(pre-migration rows would get a NULL merge key)"
                )
            if not is_pk and not f.nullable:
                raise ValueError(
                    f"added value column {f.name!r} must be nullable (old "
                    "SSTs have no values for it; defaults are PK-only)"
                )
        self.schema = new_schema
        self._persist_schema()

    @property
    def bucketed(self):
        """The BucketedMirror when the table opted in via ``bucket_spec``."""
        if self.bucket_spec is None:
            raise ValueError("table has no bucket_spec")
        if self._bucketed is None:
            from horaedb_spark.storage.bucketed import BucketedMirror

            self._bucketed = BucketedMirror(self, self.bucket_spec)
        return self._bucketed

    def refresh_bucketed(self) -> dict:
        """Incrementally refresh the bucketed mirror (only segments whose
        SST set changed are rewritten). Raises ValueError on a table
        without a ``bucket_spec`` — guard callers that maintain arbitrary
        tables (as Compactor does)."""
        return self.bucketed.refresh()

    def bucketed_scan(self, auto_refresh: bool = True):
        """Merged rows served from the bucketed catalog mirror — joins and
        aggregations keyed on the bucket columns run exchange-free."""
        return self.bucketed.serve(auto_refresh=auto_refresh)

    def alloc_file_id(self) -> int:
        """The next file id (= merge sequence), above every id this
        handle's manifest holds. That includes ids another handle on the
        same root committed, once the manifest has absorbed them
        (``sync_if_behind`` or a CAS-conflict re-read): a write after that
        outranks the other handle's tombstones and never reuses its SST
        ids."""
        with self._id_lock:
            fid = max(self._next_id, self.manifest.max_file_id + 1)
            self._next_id = fid + 1
            return fid

    # ------------------------------------------------------------------ write
    #
    # Every SST is written here: a PK-sorted parquet directory at
    # ``data/__segment__=<s>/sst=<id>`` whose ``max_sequence`` is its file id
    # (storage.rs:244-256; the compaction output too, executor.rs:155-222).
    # ``_write_sst`` writes one such SST (write(), compaction output);
    # ``_write_staged`` writes one per touched segment in one Spark job
    # (bulk_ingest, delete, update, merge_into); ``_sst_file`` measures
    # either for the manifest.

    def write(self, req: WriteRequest) -> SstFile:
        tr = req.time_range
        if req.enable_check and not tr.within_one_segment(self.segment_duration_ms):
            raise ValueError(
                f"write time range {tr} crosses a segment boundary "
                f"(segment_duration={self.segment_duration_ms} ms)"
            )
        file_id = req.file_id if req.file_id is not None else self.alloc_file_id()
        # schema enforcement: select declared columns and cast to declared
        # types (a lit(0) int must not silently write int32 into a long
        # column), then stamp the builtins (types.rs:219-239)
        out = req.df.select(
            *self._declared_columns(),
            F.lit(file_id).cast("long").alias(SEQ_COLUMN),
            F.lit(None).cast("long").alias(RESERVED_COLUMN),
        )
        sst = self._write_sst(out, tr, file_id)
        self.manifest.add_file(sst)
        return sst

    def write_merged(
        self,
        df: DataFrame,
        time_range: TimeRange,
        tombstone: bool = False,
        value_mutated: bool = False,
        min_seq: int | None = None,
    ) -> SstFile:
        """Write compaction output (merged rows, builtins kept) as one SST
        under a fresh file id and return it UNREGISTERED: the compactor
        swaps it into the manifest together with its inputs. Rows keep
        their winning ``__seq__``, so a later scan still orders them against
        non-compacted files, and their ``__reserved__``, so a tombstone
        surviving a partial compaction keeps masking older versions in
        non-picked SSTs."""
        file_id = self.alloc_file_id()
        out = df.select(*self.schema.user_columns, SEQ_COLUMN, RESERVED_COLUMN)
        return self._write_sst(
            out,
            time_range,
            file_id,
            tombstone=tombstone,
            value_mutated=value_mutated,
            min_seq=min_seq,
        )

    def bulk_ingest(
        self,
        df: DataFrame,
        ts_col: str,
        cluster_by: list[str] | None = None,
        cluster_slices: int = 8,
    ) -> list[SstFile]:
        """Bulk load: ONE Spark job writes one SST per segment.

        With ``cluster_by``, each segment is additionally Z-ORDERED into
        ``cluster_slices`` SSTs along the Morton curve over the given
        columns (functions/layout.py): each SST then covers a small
        hyper-rectangle of the value space, its footer min/max stats are
        tight, and manifest column-stats pruning skips whole files for
        value predicates on any clustered column. Costs one extra
        metadata aggregate (global min/max) and one approxQuantile pass
        for slice boundaries — both corpus-sized scans stay on executors.

        The per-request ``write()`` path mirrors the reference (one SST per
        call); this is the cluster-scale complement — a 1 TB backfill lands
        as a single ``partitionBy(__segment__)`` job (every executor writes
        its slice of every segment) that scans the input exactly once
        (``_write_staged``).
        """
        out = self._segmented(df, ts_col)
        if not cluster_by:
            return self._write_staged(out)
        return self._write_staged(
            self._zordered(out, cluster_by, cluster_slices), n_slices=cluster_slices
        )

    def _zordered(
        self, out: DataFrame, cluster_by: list[str], cluster_slices: int
    ) -> DataFrame:
        """``out`` plus the z-order ``__zkey__`` over ``cluster_by`` and the
        ``__zslice__`` (0..cluster_slices-1) cut from its quantiles."""
        from horaedb_spark.functions.layout import zorder_key, zorder_slice

        stats = out.agg(
            *[F.min(c).alias(f"mn_{c}") for c in cluster_by],
            *[F.max(c).alias(f"mx_{c}") for c in cluster_by],
        ).first()

        def bound(name: str) -> float:
            # no non-NULL value (an empty frame, an all-NULL column): the
            # column is constant, which zorder_key skips like a zero span
            v = stats[name]
            return 0.0 if v is None else float(v)

        zk = zorder_key(
            [F.col(c) for c in cluster_by],
            [bound(f"mn_{c}") for c in cluster_by],
            [bound(f"mx_{c}") for c in cluster_by],
        )
        out = out.withColumn(ZKEY_COLUMN, zk)
        bounds = out.approxQuantile(
            ZKEY_COLUMN,
            [i / cluster_slices for i in range(1, cluster_slices)],
            0.001,
        )
        return out.withColumn(ZSLICE_COLUMN, zorder_slice(F.col(ZKEY_COLUMN), bounds))

    def _declared_columns(self) -> list[Column]:
        """Schema enforcement: the declared columns cast to their types."""
        return [
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in self.schema.fields.fields
        ]

    def _segmented(self, df: DataFrame, ts_col: str, *extra: str) -> DataFrame:
        """``__segment__`` (of ``ts_col``) + the declared columns + ``extra``.
        Floor form (not `div`, which truncates toward zero): pre-epoch rows
        land in the segment containing them (truncate_by semantics)."""
        seg = F.col(ts_col) - F.pmod(ts_col, F.lit(self.segment_duration_ms))
        return df.select(
            seg.alias(SEGMENT_COLUMN), *self._declared_columns(), *extra
        )

    def _sst_path(self, segment: int, file_id: int) -> str:
        return os.path.join(
            self.data_dir, f"{SEGMENT_COLUMN}={segment}", f"sst={file_id}"
        )

    def _writer(self, df: DataFrame):
        return df.write.options(**self.write_config.writer_options()).mode(
            "overwrite"
        )

    def _sst_file(
        self, path: str, file_id: int, time_range: TimeRange, **flags
    ) -> SstFile:
        """Manifest entry for a written SST directory, measured from its
        parquet footers (driver-side metadata, no Spark job). ``flags``:
        ``tombstone``, ``value_mutated``, ``min_seq``."""
        num_rows, size_bytes, col_stats = _footer_stats(
            path, self.schema.user_columns, self.backend
        )
        return SstFile(
            file_id=file_id,
            path=path,
            time_range=time_range,
            max_sequence=file_id,
            num_rows=num_rows,
            size_bytes=size_bytes,
            col_stats=col_stats,
            **flags,
        )

    def _write_sst(
        self, out: DataFrame, tr: TimeRange, file_id: int, **flags
    ) -> SstFile:
        """Write ``out`` (the physical columns) as the single SST
        ``file_id`` of ``tr``'s segment, sorted by PK within each output
        file (storage.rs:244-256 — sortWithinPartitions keeps the write
        distributed; global order across SSTs is irrelevant because the
        merge re-establishes it). Returns it unregistered."""
        path = self._sst_path(tr.segment(self.segment_duration_ms), file_id)
        self._writer(out.sortWithinPartitions(*self.schema.primary_keys)).parquet(
            self.backend.spark_path(path)
        )
        return self._sst_file(path, file_id, tr, **flags)

    def _write_staged(
        self,
        rows: DataFrame,
        reserved: int | None | str = None,
        value_mutated: bool = False,
        n_slices: int | None = None,
        min_seq: int | None = None,
        replaces: list[int] | None = None,
    ) -> list[SstFile]:
        """ONE Spark job writing ``rows`` (``__segment__`` + declared
        columns) as one SST per touched segment, registered in one manifest
        delta that also drops the ``replaces`` SST ids; a write that lands
        no rows and replaces nothing registers nothing. The job
        ``partitionBy``s into a staging dir; the segment list comes from
        its listing (driver-side metadata, no second data pass); each
        segment dir is then committed (``backend.commit_dir``: a rename on
        POSIX, a manifest-pointer move on an object store).

        File ids, stamped as ``__seq__`` inside the same job:
        ``base + 2^31 + floor(segment / dur) * n_slices + slice`` from one
        fresh ``base``. The 2^31 offset keeps every id strictly above any
        previously allocated one even for pre-epoch (negative-index)
        segments; segment indexes are bounded (~5e6 for hourly segments of
        epoch-ms data), so they never reach it. Floor on both the Spark and
        the Python side keeps stamped and registered ids equal for
        pre-epoch segments. The allocator then jumps past the largest id,
        so later writes outrank this one (single-writer, the same
        wall-clock caveat as sst.rs:39-46).

        ``reserved``: an int stamps that marker on every row (tombstone
        SSTs), None stamps NULL, "column" passes a per-row ``__reserved__``
        already in ``rows`` (merge_into mixes tombstones and data rows).
        ``n_slices``: ``rows`` also carry bulk_ingest's z-order
        ``__zslice__`` (0..n_slices-1, one SST each) and ``__zkey__`` (the
        row-group order within a slice). ``min_seq``: recorded on every
        output SST (a rewrite's rows date back to its oldest input)."""
        dur = self.segment_duration_ms
        zorder = n_slices is not None
        n = n_slices if zorder else 1
        base_id = self.alloc_file_id()
        fid_base = base_id + (1 << 31)
        fid = F.lit(fid_base) + F.floor(F.col(SEGMENT_COLUMN) / F.lit(dur)) * n
        part_cols = [SEGMENT_COLUMN]
        sort_tail: list[str] = []
        if zorder:
            fid = fid + F.col(ZSLICE_COLUMN)
            part_cols.append(ZSLICE_COLUMN)
            sort_tail = [ZKEY_COLUMN]
        out = rows.withColumn(SEQ_COLUMN, fid.cast("long"))
        if reserved != "column":
            out = out.withColumn(RESERVED_COLUMN, F.lit(reserved).cast("long"))
        out = (
            out.repartition(*[F.col(c) for c in part_cols])
            .sortWithinPartitions(*part_cols, *sort_tail, *self.schema.primary_keys)
            .drop(ZKEY_COLUMN)
        )
        staging = os.path.join(self.root, f"_staging_{base_id}")
        self._writer(out).partitionBy(*part_cols).parquet(
            self.backend.spark_path(staging)
        )
        prefix, sprefix = f"{SEGMENT_COLUMN}=", f"{ZSLICE_COLUMN}="
        segments = sorted(
            int(name[len(prefix):])
            for name in self.backend.list_dir(staging)
            if name.startswith(prefix)
        )
        if segments:
            with self._id_lock:
                self._next_id = max(
                    self._next_id, fid_base + (segments[-1] // dur + 1) * n
                )
        ssts: list[SstFile] = []
        try:
            for seg in segments:
                seg_dir = os.path.join(staging, f"{prefix}{seg}")
                first = fid_base + seg // dur * n
                parts = [(seg_dir, first)]
                if zorder:
                    parts = [
                        (os.path.join(seg_dir, name), first + int(name[len(sprefix):]))
                        for name in self.backend.list_dir(seg_dir)
                        if name.startswith(sprefix)
                    ]
                for src, file_id in parts:
                    final = self.backend.commit_dir(src, self._sst_path(seg, file_id))
                    ssts.append(
                        self._sst_file(
                            final,
                            file_id,
                            TimeRange(seg, seg + dur),
                            tombstone=reserved is not None,
                            value_mutated=value_mutated,
                            min_seq=min_seq,
                        )
                    )
            if ssts or replaces:
                self.manifest.update(ssts, replaces or [])
        finally:
            _cleanup_staging(self.backend, staging, [s.path for s in ssts])
        return ssts

    def recluster(
        self,
        ts_col: str,
        cluster_by: list[str],
        cluster_slices: int = 8,
        time_range: TimeRange | None = None,
    ) -> list[SstFile]:
        """OPTIMIZE ZORDER for existing data: rewrite the SSTs overlapping
        ``time_range`` (default: all) as Z-clustered slices.

        Compaction merges by primary key and loses value-space clustering;
        this is the maintenance pass that restores it. The rewrite scans the
        chosen SSTs through normal merge-on-read (so only winning row
        versions survive), writes them clustered through bulk ingest's
        staged writer (new, higher fids — precedence over the inputs is
        automatic), and registers the outputs and drops the inputs in ONE
        manifest delta BEFORE deleting the input files (same crash-safety
        order as the compaction executor). A crash before that delta leaves
        the outputs unregistered (``vacuum()`` removes them); a manifest
        never holds the outputs without their ``min_seq``. Returns the new
        SSTs; [] if another maintenance pass holds the inputs."""
        ssts = self.manifest.find_ssts(time_range)
        if not ssts:
            return []
        # The rewrite RESTAMPS ``__seq__`` (the staged writer allocates fresh
        # file ids), so it must cover every live SST of every touched segment:
        # a partial pick would (a) drop tombstones whose older versions
        # survive in non-picked files, and (b) promote rewritten old
        # versions over NEWER versions sitting in non-picked files of the
        # same segment. Full coverage collapses all versions, making both
        # impossible.
        touched = {truncate_by(s.time_range.start, self.segment_duration_ms) for s in ssts}
        picked = {s.file_id for s in ssts}
        all_in_touched = {
            s.file_id
            for s in self.manifest.all_ssts()
            if truncate_by(s.time_range.start, self.segment_duration_ms) in touched
        }
        if not all_in_touched <= picked:
            raise ValueError(
                "recluster over a partial segment would re-order row "
                "versions (and drop tombstones) against the non-picked "
                "files; widen the time_range to whole segments or compact "
                "first"
            )
        ids = [s.file_id for s in ssts]
        if not self.manifest.try_mark_compacting(ids):
            return []
        try:
            merged = self.scan_ssts(
                ssts, ScanRequest(ordered=False, drop_tombstones=True)
            )
            # The rewrite restamps __seq__, but its rows date back to the
            # oldest input: min_seq records that, so restore() knows a
            # rollback past this point would lose them. Full-segment
            # coverage (asserted above) collapses versions, so the outputs
            # are NOT value_mutated even if inputs were. One delta adds the
            # outputs and drops the inputs.
            new_ssts = self._write_staged(
                self._zordered(self._segmented(merged, ts_col), cluster_by, cluster_slices),
                n_slices=cluster_slices,
                min_seq=min(s.effective_min_seq for s in ssts),
                replaces=ids,
            )
            protected = bool(self.live_clone_roots())
            for s in ssts:
                if not s.external and not protected:  # clone-referenced bytes stay
                    self.backend.delete_tree(s.path)
            return new_ssts
        except Exception:
            self.manifest.unmark_compacting(ids)
            raise

    # ------------------------------------------------------------------ delete

    def delete(
        self,
        predicate: Column | str,
        time_range: TimeRange | None = None,
    ) -> list[SstFile]:
        """Row-level DELETE for OVERWRITE tables, LSM-style: write tombstone
        SSTs instead of rewriting data (the only delete that works at 100 TB
        — a predicate delete over a petabyte segment lands as a
        kilobyte-sized tombstone file).

        Semantics: SQL ``DELETE WHERE p`` — keys whose CURRENT merged row
        satisfies ``p`` get a tombstone (PKs + NULL value columns,
        ``__reserved__`` = TOMBSTONE) with a fresh ``__seq__`` that outranks
        every live version. Scans drop tombstone winners post-merge; a later
        write of the same key outranks the tombstone (insert-after-delete);
        ``as_of_seq`` snapshots before the delete still see the rows (time
        travel over deletes). Tombstones are garbage-collected by the first
        full-segment compaction (executor's bottom-level rule).

        One Spark job regardless of how many segments the predicate spans:
        merge-on-read → filter → distinct keys → tombstone SSTs through the
        staged writer bulk_ingest also uses (``_write_staged``)."""
        from horaedb_spark.core.schema import UpdateMode
        from horaedb_spark.storage.merge import TOMBSTONE

        if self.schema.update_mode != UpdateMode.OVERWRITE:
            raise ValueError("delete() requires an OVERWRITE-mode table")
        ssts = self.manifest.find_ssts(time_range)
        if not ssts:
            return []
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        # current state WITH segment (scan_ssts drops it): same read + merge
        df = self._read_ssts(ssts)
        merged = apply_update_mode(
            df, self.schema, extra_key_cols=[SEGMENT_COLUMN], keep_builtin=False
        )
        keys = (
            merged.filter(pred)
            .select(SEGMENT_COLUMN, *self.schema.primary_keys)
            .distinct()
        )
        pk_set = set(self.schema.primary_keys)
        tomb = keys.select(
            SEGMENT_COLUMN,
            *[
                (F.col(f.name) if f.name in pk_set else F.lit(None))
                .cast(f.dataType)
                .alias(f.name)
                for f in self.schema.fields.fields
            ],
        )
        return self._write_staged(tomb, reserved=TOMBSTONE)

    def update(
        self,
        predicate: Column | str,
        assignments: dict[str, Column | str],
        time_range: TimeRange | None = None,
    ) -> list[SstFile]:
        """Row-level UPDATE for OVERWRITE tables (completing the DML set
        with write/bulk_ingest/delete): rows whose CURRENT merged state
        satisfies ``predicate`` are re-written with ``assignments`` applied
        as NEW VERSIONS — one per-segment SST carrying only the touched
        rows, whose fresh ``__seq__`` outranks the old ones. The untouched
        petabytes are never rewritten; ``as_of_seq`` snapshots before the
        update see the old values. Primary-key columns cannot be assigned
        (that is a delete + insert)."""
        from horaedb_spark.core.schema import UpdateMode

        if self.schema.update_mode != UpdateMode.OVERWRITE:
            raise ValueError("update() requires an OVERWRITE-mode table")
        bad = set(assignments) & set(self.schema.primary_keys)
        if bad:
            raise ValueError(f"cannot assign primary-key columns: {sorted(bad)}")
        unknown = set(assignments) - set(self.schema.user_columns)
        if unknown:
            raise ValueError(f"unknown columns in assignments: {sorted(unknown)}")
        ssts = self.manifest.find_ssts(time_range)
        if not ssts:
            return []
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        df = self._read_ssts(ssts)
        merged = apply_update_mode(
            df, self.schema, extra_key_cols=[SEGMENT_COLUMN], keep_builtin=False
        )
        touched = merged.filter(pred)
        exprs = {
            c: (F.expr(e) if isinstance(e, str) else e)
            for c, e in assignments.items()
        }
        rows = touched.select(
            SEGMENT_COLUMN,
            *[
                (exprs[f.name] if f.name in exprs else F.col(f.name))
                .cast(f.dataType)
                .alias(f.name)
                for f in self.schema.fields.fields
            ],
        )
        # value_mutated: the new versions DIVERGE from the old ones in value
        # columns, so predicate scans must evaluate on the merged state (SQL
        # semantics) — see scan_ssts.
        return self._write_staged(rows, value_mutated=True)

    def merge_into(
        self,
        source: DataFrame,
        ts_col: str,
        when_matched_update: dict[str, Column | str] | None = None,
        when_matched_delete: Column | str | None = None,
        when_not_matched_insert: bool = True,
    ) -> list[SstFile]:
        """MERGE INTO for OVERWRITE tables — the upsert-with-conditions DML
        verb completing write/bulk_ingest/update/delete.

        Each source row targets the (segment(ts_col), PKs) merge key.
        MATCHED rows (a live current row exists for the key) either become
        tombstones (``when_matched_delete`` predicate, evaluated over the
        source row with current columns as ``cur_<name>``) or new versions
        with ``when_matched_update`` assignments applied (same namespace;
        omitted columns take the SOURCE value). NOT-MATCHED rows insert
        as-is when enabled. One Spark job: current state joins the source
        on the merge key (the source is typically batch-sized — Catalyst
        broadcasts it; a corpus-sized source falls back to a hash join),
        and ONE staged write lands data rows and tombstones together with
        per-row markers."""
        from horaedb_spark.core.schema import UpdateMode
        from horaedb_spark.storage.merge import TOMBSTONE

        if self.schema.update_mode != UpdateMode.OVERWRITE:
            raise ValueError("merge_into() requires an OVERWRITE-mode table")
        if when_matched_update:
            bad = set(when_matched_update) & set(self.schema.primary_keys)
            if bad:
                raise ValueError(
                    f"cannot assign primary-key columns: {sorted(bad)}"
                )
        pks = list(self.schema.primary_keys)
        # keep EXTRA source columns (CDC op flags etc.) through the join —
        # the matched/delete clauses may reference them; only the final
        # select narrows to the declared schema
        extras = [
            c for c in source.columns
            if c not in self.schema.user_columns and c != SEGMENT_COLUMN
        ]
        src = self._segmented(source, ts_col, *extras)
        ssts = self.manifest.find_ssts(None)
        if ssts:
            cur = apply_update_mode(
                self._read_ssts(ssts),
                self.schema,
                extra_key_cols=[SEGMENT_COLUMN],
                keep_builtin=False,
            ).select(
                SEGMENT_COLUMN,
                *pks,
                *[
                    F.col(c).alias(f"cur_{c}")
                    for c in self.schema.user_columns
                    if c not in pks
                ],
                F.lit(1).alias("__matched__"),
            )
            joined = src.join(cur, [SEGMENT_COLUMN, *pks], "left")
        else:
            joined = src.withColumn("__matched__", F.lit(None).cast("int"))
            for c in self.schema.user_columns:
                if c not in pks:
                    joined = joined.withColumn(f"cur_{c}", F.lit(None))
        matched = F.col("__matched__").isNotNull()
        del_pred = (
            (F.expr(when_matched_delete) if isinstance(when_matched_delete, str)
             else when_matched_delete)
            if when_matched_delete is not None
            else F.lit(False)
        )
        upd = {
            c: (F.expr(e) if isinstance(e, str) else e)
            for c, e in (when_matched_update or {}).items()
        }
        is_delete = matched & del_pred
        keep = matched | F.lit(when_not_matched_insert)
        rows = joined.filter(keep).select(
            SEGMENT_COLUMN,
            *[
                F.when(is_delete & F.lit(f.name not in pks), F.lit(None))
                .otherwise(
                    F.when(matched & ~is_delete, upd.get(f.name, F.col(f.name)))
                    .otherwise(F.col(f.name))
                )
                .cast(f.dataType)
                .alias(f.name)
                for f in self.schema.fields.fields
            ],
            F.when(is_delete, F.lit(TOMBSTONE))
            .otherwise(F.lit(None))
            .cast("long")
            .alias(RESERVED_COLUMN),
        )
        # Matched rows become new versions whose values come from the source
        # / update assignments — divergent from the current versions, so the
        # output is value-mutating whenever live rows existed to match.
        return self._write_staged(rows, reserved="column", value_mutated=bool(ssts))

    # ------------------------------------------------------------------- scan

    def scan(self, req: ScanRequest | None = None) -> DataFrame:
        req = req or ScanRequest()
        try:
            return self._scan_once(req)
        except Exception as e:
            from horaedb_spark.storage.bucketed import _is_missing_file_error

            if not _is_missing_file_error(e):
                raise
            # Stale-reader race (r12, same class the mirror-refresh soak
            # found): this handle's memoized manifest view can reference
            # SSTs another instance's compaction/TTL pass already swapped
            # out and physically deleted — the durable log agrees (deletes
            # publish AFTER the manifest update), so a resync + one retry
            # reads the fresh, complete state. Readers may see a NEWER
            # snapshot than the stale handle would have — the normal
            # multi-writer read semantics, never a partial one.
            #
            # SCOPE (ADVICE r13): this try only shields errors raised while
            # BUILDING the DataFrame — eager path/footer resolution at
            # analysis time. A vanished-SST FileNotFoundException can also
            # surface task-time, at the caller's ACTION, outside any frame
            # this method can catch (the DataFrame is lazy). Callers running
            # actions over a long-lived handle in a multi-writer deployment
            # should wrap the action with the same discipline — catch
            # `_is_missing_file_error`, call `table.manifest._refresh()`,
            # rebuild via scan(), retry once — exactly what
            # BucketedMirror.refresh() does internally for its own read jobs.
            self.manifest._refresh()
            return self._scan_once(req)

    def _scan_once(self, req: ScanRequest) -> DataFrame:
        ssts = self.manifest.find_ssts(req.time_range)
        if req.as_of_seq is not None:
            ssts = [s for s in ssts if s.file_id <= req.as_of_seq]
            # A compaction/recluster output carries rows ORIGINALLY written
            # before its own file id; a snapshot older than such a file but
            # needing its rows is gone (the inputs were deleted). Refuse
            # rather than return a silently incomplete snapshot.
            lost = [
                s.file_id
                for s in self.manifest.find_ssts(req.time_range)
                if s.file_id > req.as_of_seq
                and s.effective_min_seq <= req.as_of_seq
            ]
            if lost:
                raise ValueError(
                    f"snapshot as_of_seq={req.as_of_seq} predates compacted "
                    f"SSTs {lost} whose inputs were physically removed; "
                    "time travel is bounded by the last compaction"
                )
        # Column-stats file skipping: value predicates prune whole SSTs from
        # the path list (the manifest-side complement of parquet row-group
        # pruning — at 100 TB this is the difference between listing a
        # thousand files and a handful). Sound while versions of a key never
        # diverge in value columns: a row excluded by the predicate in an old
        # SST is then equally excluded from the merged result (the A3
        # filter-before-merge argument). Once a version-mutating DML
        # (update/merge_into) is in the scanned set, only KEY-column
        # conjuncts may skip files — a value conjunct could skip the file
        # holding the new version and resurrect the old one.
        if isinstance(req.predicate, str):
            conjuncts = _parse_conjuncts(req.predicate)
            if conjuncts and any(s.value_mutated for s in ssts):
                safe = {*self.schema.primary_keys, SEGMENT_COLUMN}
                conjuncts = [c for c in conjuncts if c[0] in safe]
            if conjuncts:
                ssts = [s for s in ssts if _sst_may_match(s, conjuncts)]
        return self.scan_ssts(ssts, req)

    def _read_ssts(self, ssts: list[SstFile]) -> DataFrame:
        """Raw multi-path parquet read of an SST list with the explicit
        physical schema (SSTs written before a schema evolution surface NULL
        for newer columns) and ``__segment__`` from partition discovery.

        Paths are grouped by their partition base — the directory holding
        the ``__segment__=`` component — and the groups unioned. A
        non-cloned POSIX table has exactly one group (``<root>/data``), the
        same single-scan plan as before; zero-copy clones (source data
        dirs) and object-store commits (staging dirs referenced in place)
        contribute their own groups. Columns are normalized to
        (segment, physical schema, pos) so groups with extra partition
        components (e.g. a z-order slice dir) union cleanly.
        Deterministic intra-file tie-break for equal (PK, seq): parquet row
        position via the file-source metadata column."""
        from collections import defaultdict
        from functools import reduce

        def partition_base(path: str) -> str:
            parts = path.split(os.sep)
            for i in range(len(parts) - 1, -1, -1):
                if parts[i].startswith(f"{SEGMENT_COLUMN}="):
                    return os.sep.join(parts[:i])
            return os.path.dirname(os.path.dirname(path))

        groups: dict[str, list[str]] = defaultdict(list)
        for s in ssts:
            groups[partition_base(s.path)].append(s.path)
        cols = [
            SEGMENT_COLUMN,
            *[f.name for f in self.schema.physical_schema().fields],
        ]
        parts = []
        for base, paths in sorted(groups.items()):
            reader = self.spark.read.option(
                "basePath", self.backend.spark_path(base)
            ).schema(self.schema.physical_schema())
            parts.append(
                reader.parquet(*[self.backend.spark_path(p) for p in paths])
                .withColumn(POS_COLUMN, F.col("_metadata.row_index"))
                .select(*cols, POS_COLUMN)
            )
        df = reduce(DataFrame.unionByName, parts)
        # Existence defaults (schema.column_defaults): columns added by a
        # metadata-only migration read as NULL from pre-migration SSTs —
        # coalesce to the recorded default so merge keys and predicates see
        # the value the migration declared. Identity on post-migration rows.
        for col, dflt in self.schema.column_defaults.items():
            typ = self.schema.fields[col].dataType
            df = df.withColumn(col, F.coalesce(F.col(col), F.lit(dflt).cast(typ)))
        return df

    def scan_ssts(self, ssts: list[SstFile], req: ScanRequest) -> DataFrame:
        """Scan an explicit SST list (compaction reuses this with the picked
        files, mirroring executor.rs:155-222)."""
        if not ssts:
            return self._empty_df(req)
        # Tombstone machinery engages only when a tombstone SST is actually
        # in the scanned set — a delete-free table's plan (read schema,
        # filters) is bit-identical to the pre-delete-feature plan.
        has_tombstones = any(s.tombstone for s in ssts)
        df = self._read_ssts(ssts)
        post_filter: Column | None = None
        if req.predicate is not None:
            pred = F.expr(req.predicate) if isinstance(req.predicate, str) else req.predicate
            from horaedb_spark.core.schema import UpdateMode
            from horaedb_spark.storage.merge import TOMBSTONE

            overwrite = self.schema.update_mode == UpdateMode.OVERWRITE
            if overwrite and any(s.value_mutated for s in ssts):
                # A version-mutating DML (update/merge_into) wrote versions
                # whose VALUE columns diverge from older ones, so the
                # filter-before-merge shortcut below is unsound: it could
                # drop the new version and let the old one win the merge.
                # SQL semantics instead — decide the predicate on the MERGED
                # current state. Pre-merge we push only key-column conjuncts
                # (identical across every version of a key, tombstones
                # included), keeping parquet pushdown for point lookups.
                post_filter = pred
                safe_cols = {*self.schema.primary_keys, SEGMENT_COLUMN}
                if isinstance(req.predicate, str):
                    pre, exact = _key_only_prefilter(req.predicate, safe_cols)
                    if exact:
                        post_filter = None  # whole predicate is key-only
                    if pre is not None:
                        df = df.filter(F.expr(pre))
            else:
                if has_tombstones and overwrite:
                    # Tombstones (NULL value columns) must always reach the
                    # merge: filtering them out pre-merge would resurrect a
                    # deleted row whose old version matches the predicate.
                    # Data SSTs carry all-NULL __reserved__, so the disjunct
                    # matches nothing there and parquet row-group pruning on
                    # `pred` is unaffected.
                    pred = pred | (F.col(RESERVED_COLUMN) == TOMBSTONE)
                df = df.filter(pred)  # before the merge, like FilterExec (read.rs:467-469)
        proj = self.schema.fill_required_projections(req.projections)
        if proj is not None and post_filter is not None:
            # the post-merge filter needs its columns carried through the
            # merge; the final select still narrows to req.projections
            extra = _predicate_columns(req.predicate, self.schema.user_columns)
            if extra is None:
                proj = None  # unknown references: keep all columns through merge
            else:
                proj = list(dict.fromkeys([*proj, *extra]))
        if proj is not None:
            df = df.select(SEGMENT_COLUMN, POS_COLUMN, RESERVED_COLUMN, *proj)
        drop_tombstones = req.drop_tombstones
        if not has_tombstones and drop_tombstones is None:
            drop_tombstones = False  # no tombstones to drop: skip the filter
        merged = apply_update_mode(
            df,
            self.schema,
            extra_key_cols=[SEGMENT_COLUMN],
            keep_builtin=req.keep_builtin,
            drop_tombstones=drop_tombstones,
        )
        if post_filter is not None:
            merged = merged.filter(post_filter)
        if req.ordered:
            merged = merged.orderBy(SEGMENT_COLUMN, *self.schema.primary_keys)
        keep = list(req.projections or self.schema.user_columns)
        if req.keep_builtin:
            keep += [SEQ_COLUMN, RESERVED_COLUMN]
        if req.keep_segment:
            keep += [SEGMENT_COLUMN]
        return merged.select(*keep)

    def _empty_df(self, req: ScanRequest) -> DataFrame:
        base = self.spark.createDataFrame([], self.schema.physical_schema())
        keep = list(req.projections or self.schema.user_columns)
        if req.keep_builtin:
            keep += [SEQ_COLUMN, RESERVED_COLUMN]
        if req.keep_segment:
            base = base.withColumn(SEGMENT_COLUMN, F.lit(None).cast("long"))
            keep += [SEGMENT_COLUMN]
        return base.select(*keep)

    # ------------------------------------------------------------ clone leases

    def live_clone_roots(self) -> list[str]:
        """Roots of zero-copy clones that still reference this table's
        files. Each shallow clone leaves a lease file under ``_clones/``;
        physical deletion (compaction/recluster input removal, vacuum,
        drop_table) is deferred while any lease is live. A lease whose
        clone directory no longer exists (manually removed clone) is stale
        and reclaimed here."""
        import json as _json

        d = os.path.join(self.root, "_clones")
        out: list[str] = []
        for name in self.backend.list_dir(d):
            path = os.path.join(d, name)
            try:
                dest = _json.loads(self.backend.read_text(path))["dest_root"]
            except (OSError, ValueError, KeyError):
                continue
            if self.backend.is_dir(dest):
                out.append(dest)
            else:
                self.backend.delete(path)  # stale: clone dir is gone
        return out

    @staticmethod
    def _lease_token(dest_root: str) -> str:
        import hashlib

        return hashlib.sha1(os.path.abspath(dest_root).encode()).hexdigest()[:16]

    def _register_clone_lease(self, source_root: str, dest_root: str) -> None:
        import json as _json

        d = os.path.join(source_root, "_clones")
        self.backend.makedirs(d)
        self.backend.put_text(
            os.path.join(d, self._lease_token(dest_root) + ".json"),
            _json.dumps({"dest_root": os.path.abspath(dest_root)}),
        )

    def release_clone_leases(self) -> None:
        """Called when THIS table (a zero-copy clone) is dropped: remove its
        lease files from every source root recorded at clone time, letting
        the sources' deferred physical deletes proceed."""
        import json as _json

        meta = os.path.join(self.root, "clone.json")
        if not self.backend.exists(meta):
            return
        try:
            sources = _json.loads(self.backend.read_text(meta)).get(
                "source_roots", []
            )
        except (OSError, ValueError):
            return
        token = self._lease_token(self.root)
        for src in sources:
            self.backend.delete(os.path.join(src, "_clones", token + ".json"))

    # ------------------------------------------------------------------- misc

    def clone(self, dest_root: str, deep: bool = False) -> "ColumnarTable":
        """Snapshot clone (CREATE TABLE ... CLONE): a new table whose
        manifest references this table's CURRENT SSTs.

        ``deep=False`` (default) is zero-copy — the clone's manifest points
        at the source files, marked ``external`` so the clone's maintenance
        (compaction/TTL/recluster) only ever drops the reference, never the
        shared bytes. At 100 TB this is a metadata-only operation: instant
        dev/test copies, what-if compactions, schema experiments. Writes and
        deletes on either table never affect the other (new SSTs land in
        each table's own data dir). The clone leaves a LEASE file under the
        source's ``_clones/`` dir: while it lives, the source's physically
        destructive paths (compaction/recluster input deletes, vacuum,
        catalog drop_table) defer their file removals, so routine source
        maintenance can no longer corrupt the clone. Dropping the clone
        (catalog.drop_table, or ``release_clone_leases()`` + rmtree)
        releases the lease and the deferred deletes proceed via vacuum.
        ``deep=True`` (full file copy) makes a clone with no ties at all."""
        new = ColumnarTable(
            self.spark,
            dest_root,
            self.schema,
            self.segment_duration_ms,
            self.write_config,
            backend=self.backend,
        )
        from dataclasses import replace as _dc_replace

        entries: list[SstFile] = []
        for s in self.manifest.all_ssts():
            if deep:
                seg = os.path.basename(os.path.dirname(s.path))
                dst_dir = os.path.join(new.data_dir, seg)
                self.backend.makedirs(dst_dir)
                dst = os.path.join(dst_dir, os.path.basename(s.path))
                self.backend.copy_tree(s.path, dst)
                entries.append(
                    _dc_replace(s, path=dst, in_compaction=False)
                )
            else:
                entries.append(
                    _dc_replace(s, external=True, in_compaction=False)
                )
        if entries:
            new.manifest.update(entries, [])
            with new._id_lock:
                new._next_id = max(
                    new._next_id, max(e.file_id for e in entries) + 1
                )
        if not deep and entries:
            # Register a lease at every root owning referenced bytes (this
            # table, plus any root this table itself shallow-cloned from) so
            # those tables defer physical deletes while the clone is live.
            # The root of an SST path is the parent of its partition base
            # (<root>/data for committed files, <root>/_staging_* for
            # object-store in-place commits).
            import json as _json

            def _root_of(path: str) -> str:
                parts = path.split(os.sep)
                for i in range(len(parts) - 1, -1, -1):
                    if parts[i].startswith(f"{SEGMENT_COLUMN}="):
                        return os.path.abspath(os.sep.join(parts[: i - 1]))
                return os.path.abspath(
                    os.path.dirname(os.path.dirname(os.path.dirname(path)))
                )

            source_roots = sorted(
                {_root_of(e.path) for e in entries} | {os.path.abspath(self.root)}
            )
            for src in source_roots:
                self._register_clone_lease(src, dest_root)
            self.backend.put_text(
                os.path.join(new.root, "clone.json"),
                _json.dumps({"source_roots": source_roots}),
            )
        return new

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY analogue: the live SST versions in __seq__
        order (each write/bulk/delete/update/compaction leaves its file
        ids here). ``file_id`` values double as ``as_of_seq`` pins for
        time travel — `scan(ScanRequest(as_of_seq=h[i]["file_id"]))`
        reads the table as of that version. Driver-side metadata only."""
        return _table_history(self)

    def restore(self, as_of_seq: int, force: bool = False) -> list[int]:
        """RESTORE TABLE TO VERSION: drop every SST newer than
        ``as_of_seq`` from the manifest — the rollback that undoes bad
        writes/deletes/updates instantly at any scale (metadata-only; the
        orphaned files remain on disk until ``vacuum()``, so the restore
        itself is also reversible forensics-wise). Returns the dropped
        file ids. Refuses to run while any file is mid-compaction.

        Restore is only valid back to the LAST COMPACTION: a compaction/
        recluster output has a new file id but carries rows from inputs that
        were physically deleted — dropping it would silently lose rows that
        existed before ``as_of_seq``. Each maintenance output records the
        minimum original row sequence it contains (``SstFile.min_seq``);
        restore refuses when a to-be-dropped SST still holds pre-rollback
        rows, unless ``force=True`` (accepting that loss)."""
        ssts = self.manifest.all_ssts()
        if any(s.in_compaction for s in ssts):
            raise RuntimeError("restore() refused: compaction in flight")
        doomed = [s for s in ssts if s.file_id > as_of_seq]
        blockers = [s.file_id for s in doomed if s.effective_min_seq <= as_of_seq]
        if blockers and not force:
            raise ValueError(
                f"restore(as_of_seq={as_of_seq}) would drop compacted SSTs "
                f"{blockers} that still carry rows from before the rollback "
                "point (their inputs were physically deleted) — rows would "
                "silently vanish. Restore only to a version at or after the "
                "last compaction, or pass force=True to accept the loss."
            )
        if doomed:
            self.manifest.update([], [s.file_id for s in doomed])
        return [s.file_id for s in doomed]

    def vacuum(self) -> list[str]:
        """Remove orphan SST directories — files on disk that the manifest
        no longer (or never) references. Orphans are the deliberate residue
        of the crash-safety order used everywhere (manifest swap BEFORE
        physical deletes, compaction/recluster/TTL): a crash in the window
        leaves unreferenced directories that scans can never read (scans
        use the manifest's explicit path list) but that hold disk. Safe by
        the same argument: anything not in the manifest is invisible.
        Returns the removed paths."""
        live = {os.path.abspath(s.path) for s in self.manifest.all_ssts()}
        removed: list[str] = []
        # Under a live zero-copy clone, defer EVERYTHING except crashed
        # staging residue: the clone may reference SSTs this manifest has
        # already dropped (compaction/recluster defer their physical deletes
        # for the same reason) — reclaiming them would corrupt the clone.
        protected = bool(self.live_clone_roots())

        def _reclaim(path: str) -> None:
            self.backend.delete_tree(path)
            removed.append(path)

        # crashed DML/bulk staging dirs (between write and registration) —
        # safe under the table's documented single-writer assumption
        # (sst.rs:39-46): vacuum is a maintenance call, not concurrent DML.
        # An OBJECT-STORE table's staging dirs can hold LIVE, committed-in-
        # place SSTs (the manifest-pointer-move commit), so only children
        # the manifest doesn't reference are reclaimed.
        for name in self.backend.list_dir(self.root):
            if not name.startswith("_staging"):
                continue
            sdir = os.path.join(self.root, name)
            if not self.backend.commits_in_place:
                # POSIX: commits moved out; anything left is crash residue
                # (never clone-visible, safe even while protected)
                _reclaim(sdir)
                continue
            if protected:
                continue  # in-place commits may be clone-referenced
            children = self.backend.list_dir(sdir)
            live_children = {
                c
                for c in children
                if any(
                    p == os.path.abspath(os.path.join(sdir, c))
                    or p.startswith(os.path.abspath(os.path.join(sdir, c)) + os.sep)
                    for p in live
                )
            }
            if not live_children:
                _reclaim(sdir)
                continue
            for c in children:
                if c not in live_children:
                    _reclaim(os.path.join(sdir, c))
        if protected:
            return removed
        for seg_name in self.backend.list_dir(self.data_dir):
            seg_dir = os.path.join(self.data_dir, seg_name)
            if not self.backend.is_dir(seg_dir):
                continue
            for sst_name in self.backend.list_dir(seg_dir):
                path = os.path.join(seg_dir, sst_name)
                if os.path.abspath(path) not in live:
                    _reclaim(path)
        return removed

    def create_or_replace_view(self, name: str, req: ScanRequest | None = None) -> None:
        """Register the merged (merge-on-read) table state as a temp view so
        plain ``spark.sql`` works against it — the engine's equivalent of
        the reference's SQL-over-tables surface (it executes through
        DataFusion; we execute through Catalyst). The view captures the
        CURRENT manifest snapshot; re-register after writes to see them
        (same freshness contract as any snapshot-isolated view)."""
        self.scan(req).createOrReplaceTempView(name)

    def segment_of(self, ts_ms: int) -> int:
        return truncate_by(ts_ms, self.segment_duration_ms)


_STATS_TYPES = (int, float, str, bool)

# simple conjunct grammar for stats pruning: `col op literal`, AND-joined.
_CONJUNCT_RE = re.compile(
    r"\s*(\w+)\s*(<=|>=|==|=|<|>)\s*('(?:[^']*)'|-?\d+(?:\.\d+)?)\s*"
)


def _cleanup_staging(
    backend: StorageBackend, staging: str, committed: list[str]
) -> None:
    """Remove staging residue after a bulk/DML write WITHOUT touching paths
    the manifest now references. On POSIX the commits renamed everything
    out, so the whole staging dir goes; on an object store the committed
    SSTs live in place inside it, so only non-committed children are
    removed."""
    committed_abs = [os.path.abspath(p) for p in committed]
    if not any(p.startswith(os.path.abspath(staging) + os.sep) for p in committed_abs):
        backend.delete_tree(staging)
        return
    for name in backend.list_dir(staging):
        child = os.path.abspath(os.path.join(staging, name))
        if not any(p == child or p.startswith(child + os.sep) for p in committed_abs):
            backend.delete_tree(child)
            backend.delete(child)


def _footer_stats(
    sst_dir: str, wanted: tuple[str, ...], backend: StorageBackend
) -> tuple[int, int, dict | None]:
    """Row count, byte size and per-column (min, max) of an SST directory,
    folded over every file's parquet footer in one pass — driver-side
    metadata, no Spark job (the reference gets these from the writer,
    storage.rs:215-224). Columns whose chunks lack min/max (unsupported
    types, stats disabled) are omitted from the column stats, which are None
    if nothing usable was found."""
    import pyarrow.parquet as pq

    num_rows = 0
    size = 0
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    dead: set[str] = set()
    for fpath in backend.walk_files(sst_dir, ".parquet"):
        with backend.open_binary(fpath) as f:
            meta = pq.ParquetFile(f).metadata
            num_rows += meta.num_rows
            size += backend.size(fpath)
            for rg in range(meta.num_row_groups):
                group = meta.row_group(rg)
                for ci in range(group.num_columns):
                    col = group.column(ci)
                    cname = col.path_in_schema
                    if cname not in wanted or cname in dead:
                        continue
                    stats = col.statistics
                    if (
                        stats is None
                        or not stats.has_min_max
                        or not isinstance(stats.min, _STATS_TYPES)
                        or not isinstance(stats.max, _STATS_TYPES)
                    ):
                        dead.add(cname)
                        mins.pop(cname, None)
                        maxs.pop(cname, None)
                        continue
                    mins[cname] = (
                        stats.min if cname not in mins else min(mins[cname], stats.min)
                    )
                    maxs[cname] = (
                        stats.max if cname not in maxs else max(maxs[cname], stats.max)
                    )
    col_stats = {c: [mins[c], maxs[c]] for c in mins} or None
    return num_rows, size, col_stats


def _parse_conjuncts(predicate: str) -> list[tuple[str, str, object]]:
    """Split a predicate string into provable `col op literal` conjuncts.
    Anything that doesn't fully match the simple grammar (ORs, functions,
    BETWEEN, column-to-column) yields [] — pruning is then skipped entirely,
    never wrong."""
    parts = re.split(r"(?i)\s+AND\s+", predicate.strip())
    out = []
    for part in parts:
        m = _CONJUNCT_RE.fullmatch(part)
        if not m:
            return []
        col, op, raw = m.group(1), m.group(2), m.group(3)
        val: object
        if raw.startswith("'"):
            val = raw[1:-1]
        elif "." in raw:
            val = float(raw)
        else:
            val = int(raw)
        out.append((col, "=" if op == "==" else op, val))
    return out


def _key_only_prefilter(
    predicate: str, safe_cols: set[str]
) -> tuple[str | None, bool]:
    """Extract the AND-joined conjuncts of ``predicate`` that reference only
    ``safe_cols`` (key columns — identical across every version of a key, so
    they may run before the merge). Returns ``(prefilter_sql, exact)``:
    ``prefilter_sql`` is None when nothing is provably safe; ``exact`` is True
    when EVERY conjunct was safe (the prefilter equals the whole predicate).
    Anything outside the simple `col op literal` grammar (ORs, parens,
    functions) contributes nothing — never wrong, only less pushdown."""
    if re.search(r"(?i)\bor\b", predicate) or "(" in predicate:
        return None, False
    parts = re.split(r"(?i)\s+AND\s+", predicate.strip())
    safe_parts = []
    for part in parts:
        m = _CONJUNCT_RE.fullmatch(part)
        if m and m.group(1) in safe_cols:
            safe_parts.append(part.strip())
    if not safe_parts:
        return None, False
    return " AND ".join(safe_parts), len(safe_parts) == len(parts)


def _predicate_columns(
    predicate: "Column | str", user_columns: tuple[str, ...]
) -> list[str] | None:
    """Best-effort column references of a predicate (to widen a projection so
    a post-merge filter can run). For strings, identifiers ∩ schema; for
    Column objects, parsed from the repr. None = could not determine (caller
    keeps all columns)."""
    text = predicate if isinstance(predicate, str) else str(predicate)
    words = set(re.findall(r"[A-Za-z_]\w*", text))
    hit = [c for c in user_columns if c in words]
    return hit if hit else None


def _sst_may_match(sst: SstFile, conjuncts: list[tuple[str, str, object]]) -> bool:
    """Can this SST contain a row satisfying every conjunct? Mixed-type
    comparisons (string literal vs numeric stats) conservatively keep the
    file."""
    if not sst.col_stats:
        return True
    for col, op, val in conjuncts:
        stat = sst.col_stats.get(col)
        if stat is None:
            continue
        lo, hi = stat
        if isinstance(val, str) != isinstance(lo, str):
            continue
        try:
            if op == "=" and (val < lo or val > hi):
                return False
            if op == "<" and not (lo < val):
                return False
            if op == "<=" and not (lo <= val):
                return False
            if op == ">" and not (hi > val):
                return False
            if op == ">=" and not (hi >= val):
                return False
        except TypeError:
            continue
    return True


def _table_history(table: "ColumnarTable") -> list[dict]:
    """Module-level helper for ColumnarTable.history (kept separate so the
    class body stays focused on the reference's three entry points)."""
    out: list[dict] = []
    for s in sorted(table.manifest.all_ssts(), key=lambda s: s.file_id):
        out.append(
            {
                "file_id": s.file_id,
                "segment_start_ms": s.time_range.start,
                "num_rows": s.num_rows,
                "size_bytes": s.size_bytes,
                "tombstone": s.tombstone,
                "external": s.external,
            }
        )
    return out
