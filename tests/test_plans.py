"""Plan-shape tests — the Spark analogue of the reference's golden-plan
assert (read.rs:575-617 pins ParquetExec -> FilterExec -> SortPreservingMerge
-> MergeExec). Here we pin the *properties* that matter at 100 TB rather than
exact plan strings: predicate pushdown reaches the parquet scan, projection
prunes the read schema, dimension joins broadcast, and the merge-on-read
window keys on (segment, PKs)."""

import re

import pytest
from pyspark.sql import functions as F

from horaedb_spark.core.timeutil import TimeRange
from horaedb_spark.queries.analytics import regional_volume, tpch_q1
from horaedb_spark.storage.table import ColumnarTable, ScanRequest, WriteRequest
from tests.test_storage import TWO_HOURS, kv_schema


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def table(spark, tmp_path):
    t = ColumnarTable(spark, str(tmp_path / "p"), kv_schema(), TWO_HOURS)
    df = spark.createDataFrame([(1, 1, 10), (2, 2, 20)], "pk1 long, pk2 long, value long")
    t.write(WriteRequest(df, TimeRange(0, 100)))
    return t


def test_scan_predicate_pushdown_reaches_parquet(table):
    plan = plan_of(table.scan(ScanRequest(predicate="pk1 = 1", ordered=False)))
    assert "PushedFilters: [" in plan
    assert re.search(r"PushedFilters: \[.*pk1", plan), plan[:2000]


def test_scan_projection_prunes_read_schema(table):
    plan = plan_of(table.scan(ScanRequest(projections=["value"], ordered=False)))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan[:2000]
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    # merge needs PKs + __seq__ (+ the row-index metadata column for the
    # tie-break); __reserved__ must be pruned away
    assert "pk1" in read_cols and "value" in read_cols
    assert "__reserved__" not in read_cols
    assert read_cols <= {
        "pk1", "pk2", "value", "__seq__", "_tmp_metadata_row_index"
    }


def test_scan_dedup_windows_on_segment_and_pks(table):
    plan = plan_of(table.scan(ScanRequest(ordered=False)))
    assert "row_number" in plan
    w = re.search(r"windowspecdefinition\(([^)]*)\)", plan)
    assert w, plan[:2000]
    spec = w.group(1)
    assert "__segment__" in spec and "pk1" in spec and "pk2" in spec
    # Spark 4 pushes the rn=1 filter down as a partial WindowGroupLimit:
    # map-side top-1 per (segment, PK) BEFORE the exchange — the distributed
    # equivalent of the reference's streaming MergeExec, with partial combine
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_dimension_joins_broadcast(spark):
    plan = plan_of(regional_volume(spark, "/root/testdata/sf0.001"))
    # all three dims (supplier, nation, region) must broadcast: no shuffle of
    # the fact side for the join tree
    assert plan.count("BroadcastHashJoin") >= 3, plan[:3000]
    assert "SortMergeJoin" not in plan


def test_q1_pushes_filter_and_partial_agg(spark):
    plan = plan_of(tpch_q1(spark, "/root/testdata/sf0.001"))
    assert "PushedFilters: [" in plan
    # partial (map-side) aggregation before the exchange
    assert re.search(r"HashAggregate.*partial", plan, re.S) or "partial_sum" in plan


def test_time_range_scan_reads_only_matching_ssts(spark, tmp_path):
    t = ColumnarTable(spark, str(tmp_path / "prune"), kv_schema(), TWO_HOURS)
    df = spark.createDataFrame([(1, 1, 10)], "pk1 long, pk2 long, value long")
    t.write(WriteRequest(df, TimeRange(0, 100)))
    t.write(WriteRequest(df, TimeRange(TWO_HOURS, TWO_HOURS + 100)))
    first_sst = t.manifest.find_ssts(TimeRange(0, TWO_HOURS))[0]
    files = t.scan(ScanRequest(time_range=TimeRange(0, TWO_HOURS), ordered=False)).inputFiles()
    # manifest-level pruning: every input file belongs to the one matching SST
    assert files and all(f"sst={first_sst.file_id}" in f for f in files)


def test_ivf_centroid_assignment_is_map_only(spark):
    """IVF cell assignment must be a pure map over the corpus — the coarse
    quantizer rides in as expression literals (faiss-style), so the plan has
    NO join and NO exchange: the property that makes candidate generation
    partition-prunable (and assignment embarrassingly parallel) at scale."""
    from horaedb_spark.functions.similarity import ivf_assign, ivf_centroids

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3)]) for i in range(50)],
        "vec_id long, qv array<double>",
    ).select("vec_id", F.col("qv").cast("array<long>").alias("qv"))
    cents = ivf_centroids(emb, "vec_id", "qv", 4)
    plan = plan_of(ivf_assign(emb, cents, "vec_id", "qv", nprobe=1))
    assert "Join" not in plan, plan[:3000]
    assert "Exchange" not in plan, plan[:3000]
    assert "Window" not in plan, plan[:3000]


def test_instant_vector_single_series_shuffle(spark):
    """The one-pass form: exactly one window over the series key, each
    sample exploded into the steps it answers — no union with anchors, no
    series distinct, no range join; the grid's end is a broadcast one-row
    aggregate."""
    from horaedb_spark.functions.promql import instant_vector

    df = spark.createDataFrame(
        [("a", i * 100, float(i)) for i in range(20)],
        "sid string, ts_ms long, value double",
    )
    plan = plan_of(instant_vector(df, ["sid"], 500, 300))
    windows = re.findall(r"\bWindow \[.*", plan)
    assert len(windows) == 1 and "[sid#" in windows[0], plan[:3000]
    for op in ("Union", "CartesianProduct", "SortMergeJoin"):
        assert op not in plan, (op, plan[:3000])
    # no series distinct: the only aggregate is the grid-end max
    aggs = re.findall(r"HashAggregate\(keys=\[([^\]]*)\]", plan)
    assert aggs and all(keys == "" for keys in aggs), plan[:3000]
    assert "BroadcastNestedLoopJoin" in plan, plan[:3000]


def test_bounded_selector_pushes_time_range_to_scan(spark, tmp_path):
    """A selector compiled over [start, end] reads (start - lookback, end]
    and takes the grid's end over ts >= start: both ranges reach the
    store's parquet scans as pushed filters."""
    from horaedb_spark.metric.promql import PromQLCompiler
    from horaedb_spark.metric.store import MetricStore

    store = MetricStore(spark, str(tmp_path / "ms"), 3_600_000)
    store.ingest(spark.createDataFrame(
        [("cpu", {"host": h}, t * 1000, float(t), t)
         for h in "ab" for t in range(0, 600, 10)],
        "name string, labels map<string,string>, ts_ms long, value double, "
        "seq long",
    ))
    df = PromQLCompiler(
        store.engine(), 60_000, 120_000, start_ms=300_000, end_ms=420_000
    ).compile("cpu")
    key = "spark.sql.maxMetadataStringLength"  # untruncated scan filters
    old = spark.conf.get(key)
    spark.conf.set(key, "10000")
    try:
        plan = plan_of(df)
    finally:
        spark.conf.set(key, old)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any(
        "GreaterThan(ts_ms,180000)" in f and "LessThanOrEqual(ts_ms,420000)" in f
        for f in pushed
    ), pushed
    assert any("GreaterThanOrEqual(ts_ms,300000)" in f for f in pushed), pushed
    assert sorted((r.series_key, r.ts_ms, r.value) for r in df.collect()) == [
        (f"host={h}", t, t / 1000) for h in "ab" for t in (300_000, 360_000, 420_000)
    ]


def _outside_cached(plan: str) -> str:
    """The plan text without the subtrees under ``InMemoryRelation``: the
    plan that filled a cache, which a query reading the cache does not
    run."""
    out, depth = [], None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :|+-"))
        if depth is not None and indent > depth:
            continue
        depth = indent if "InMemoryRelation" in line else None
        out.append(line)
    return "\n".join(out)


def test_store_query_reads_catalogs_from_the_snapshot(spark, tmp_path):
    """A mirror-backed instant query reads the series and index catalogs
    from the store's persisted snapshot: no merge-on-read dedup window on
    (__segment__, metric_id, tsid) runs, and the series side of the label
    join is an InMemoryTableScan."""
    from horaedb_spark.metric.promql import PromQLCompiler
    from horaedb_spark.metric.store import MetricStore

    store = MetricStore(spark, str(tmp_path / "ms"), 3_600_000, data_buckets=2)
    store.ingest(spark.createDataFrame(
        [("cpu", {"host": h}, t * 1000, float(t), t)
         for h in "ab" for t in range(0, 600, 10)],
        "name string, labels map<string,string>, ts_ms long, value double, "
        "seq long",
    ))
    eng = store.engine()

    def query():
        return PromQLCompiler(
            eng, 60_000, 120_000, start_ms=300_000, end_ms=300_000
        ).compile('cpu{host="a"}')

    query().collect()  # fills the snapshot
    df = query()
    assert [(r.series_key, r.ts_ms, r.value) for r in df.collect()] == [
        ("host=a", 300_000, 300.0)
    ]
    plan = _outside_cached(plan_of(df))
    dedup = [w for w in re.findall(r"\bWindow \[.*", plan) if "__segment__" in w]
    assert not dedup, plan[:4000]
    final = plan.split("== Initial Plan ==")[0]
    assert re.search(r"InMemoryTableScan \[tsid#\d+L, series_key#", final), final
    assert "InMemoryRelation" in plan_of(df)  # the cache the helper skipped


def test_ivf_cell_partitioning_prunes_scan(spark, tmp_path):
    """The SCALING.md claim made concrete: a corpus written partitioned by
    IVF cell id turns candidate generation into partition pruning — a query
    probing cells {3} must scan only that partition directory."""
    from horaedb_spark.functions.similarity import ivf_assign, ivf_centroids

    emb = spark.createDataFrame(
        [(i, [i % 11, (3 * i) % 7, (7 * i) % 5]) for i in range(200)],
        "vec_id long, qv array<long>",
    )
    cents = ivf_centroids(emb, "vec_id", "qv", 8)
    cells = emb.join(ivf_assign(emb, cents, "vec_id", "qv", nprobe=1), "vec_id")
    path = str(tmp_path / "ivf_corpus")
    cells.write.partitionBy("cell").parquet(path)

    pruned = spark.read.parquet(path).filter(F.col("cell") == 3)
    plan = plan_of(pruned)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan[:2000]
    # count partition dirs actually read vs total
    import pathlib

    n_dirs = len([d for d in pathlib.Path(path).iterdir() if d.name.startswith("cell=")])
    assert n_dirs > 1  # corpus really spread over multiple cells
    assert pruned.count() == cells.filter(F.col("cell") == 3).count()


def test_vector_binop_broadcasts_small_right(spark):
    """A small threshold vector joined with broadcast_right must not shuffle
    the left side into a sort-merge join."""
    from horaedb_spark.functions.promql import vector_binop

    left = spark.range(1000).selectExpr("cast(id % 7 as string) sid", "id b", "cast(id as double) value")
    right = spark.range(7).selectExpr("cast(id as string) sid", "id b", "cast(id as double) value")
    out = vector_binop(left, right, "/", ["sid", "b"], broadcast_right=True)
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mean_pool_is_two_hash_aggregates_no_collect(spark):
    """mean_pool must plan as generate(posexplode) + two partial/final hash
    aggregate pairs — fully distributed, nothing funnels to one partition."""
    from horaedb_spark.functions.similarity import mean_pool

    df = spark.range(100).selectExpr(
        "id % 5 as label", "array(id, id + 1, id + 2) as qv"
    )
    plan = plan_of(mean_pool(df, ["label"]))
    assert "Generate explode" in plan or "Generate posexplode" in plan, plan[:1500]
    # ObjectHashAggregate handles collect_list; HashAggregate the integer sums
    assert plan.count("HashAggregate") >= 2
    # no single-partition funnel before the final group
    assert "SinglePartition" not in plan.split("AdaptiveSparkPlan")[0]


def test_embedding_near_dup_has_no_cartesian(spark):
    """VERDICT r01 #3: the registered embedding near-dup must be
    candidate-generation-first — the physical plan joins on (table, bucket)
    as an equi-join; no cartesian / nested-loop join anywhere."""
    from horaedb_spark.queries.dedup_queries import dedup_embedding_cosine

    plan = plan_of(dedup_embedding_cosine(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def _final_plan(df) -> str:
    # strip AQE's "== Initial Plan ==" tail so asserts see the final plan
    return plan_of(df).split("== Initial Plan ==")[0]


def test_q2_min_cost_decorrelates_to_window_top1(spark, sf_dir):
    """The correlated min-cost subquery must run as a map-side top-1 window
    (WindowGroupLimit) over one shuffle — not a self-join — and every dim
    join must broadcast."""
    from horaedb_spark.queries.analytics4 import min_cost_supplier_q2

    p = _final_plan(min_cost_supplier_q2(spark, sf_dir))
    assert "WindowGroupLimit" in p, p[:3000]
    assert "SortMergeJoin" not in p, p[:3000]
    assert p.count("BroadcastHashJoin") >= 4, p[:3000]


def test_q20_nested_in_runs_as_semi_join(spark, sf_dir):
    from horaedb_spark.queries.analytics4 import excess_shipments_q20

    p = _final_plan(excess_shipments_q20(spark, sf_dir))
    assert "LeftSemi" in p, p[:3000]


def test_decontamination_has_no_cartesian(spark, sf_dir):
    """The cross-set shingle join must stay a hash/merge join on the md5
    digest — never a cartesian product."""
    from horaedb_spark.queries.pipeline_queries import pipeline_decontamination

    p = _final_plan(pipeline_decontamination(spark, sf_dir))
    assert "Cartesian" not in p and "BroadcastNestedLoop" not in p, p[:3000]


def test_holt_winters_fold_stays_jvm_side(spark, sf_dir):
    """The order-dependent smoothing fold must compile to JVM expressions
    (aggregate over a sorted array) — no Python evaluation in the plan."""
    from horaedb_spark.queries.metric_queries import promql_holt_winters

    p = _final_plan(promql_holt_winters(spark, sf_dir))
    assert "Python" not in p, p[:3000]


def test_domain_cap_limits_map_side(spark, sf_dir):
    """The per-domain cap must compile to a WindowGroupLimit: each input
    partition forwards at most cap rows per domain into the exchange, so
    the shuffle carries ~cap x n_domains rows at any corpus size."""
    from horaedb_spark.queries.pipeline_queries import pipeline_domain_cap

    p = _final_plan(pipeline_domain_cap(spark, sf_dir))
    assert "WindowGroupLimit" in p, p[:3000]


def test_temperature_resample_broadcasts_rates(spark, sf_dir):
    """The per-domain rate table (n_domains rows) must broadcast back onto
    the corpus — the corpus itself never shuffles for the keep decision."""
    from horaedb_spark.queries.pipeline_queries import (
        pipeline_temperature_resample,
    )

    p = _final_plan(pipeline_temperature_resample(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p[:3000]
    assert "SortMergeJoin" not in p, p[:3000]


def test_boilerplate_heavy_set_broadcasts(spark, sf_dir):
    """The heavy-gram set must broadcast back as a semi-join; the
    corpus-sized gram stream shuffles only for its aggregates."""
    from horaedb_spark.queries.text_queries import text_boilerplate_ngrams

    p = _final_plan(text_boilerplate_ngrams(spark, sf_dir))
    assert "BroadcastHashJoin" in p and "LeftSemi" in p, p[:3000]


def test_sequence_packing_windows_on_blocks(spark, sf_dir):
    """The corpus-sized cumsum window must partition by the block key (the
    two-phase scan); only the metadata-sized block-offset window is global."""
    import re as _re

    from horaedb_spark.queries.pipeline_queries import pipeline_sequence_packing

    p = _final_plan(pipeline_sequence_packing(spark, sf_dir))
    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert any("__blk__" in s for s in specs), specs
    assert "BroadcastHashJoin" in p, p[:3000]


def test_funnel_fold_is_one_shuffle_no_python(spark, sf_dir):
    """The funnel stage machine must run as a JVM fold after ONE exchange
    on user_id — no Python evaluation, no join cascade."""
    from horaedb_spark.queries.events_queries import funnel_conversion

    p = _final_plan(funnel_conversion(spark, sf_dir))
    assert "Python" not in p, p[:3000]
    assert "Join" not in p, p[:3000]


def test_prefix_cluster_is_pure_hash_aggregate(spark, sf_dir):
    """Prefix-fingerprint dedup must be scan -> hash aggregate on the digest
    — no joins, no windows, no Python: the shape that scales to 100 TB as
    exactly one shuffle."""
    from horaedb_spark.queries.dedup_queries import dedup_prefix_cluster

    p = _final_plan(dedup_prefix_cluster(spark, sf_dir))
    assert "Join" not in p, p[:3000]
    assert "Python" not in p, p[:3000]
    assert "HashAggregate" in p, p[:3000]


def test_corpus_clean_survivor_join_no_cartesian(spark, sf_dir):
    """The cleaning chain is row-local scoring + a dedup aggregate + the
    survivor self-join on doc_id — which must stay a hash/merge equi-join
    (never nested-loop) with no Python stage."""
    from horaedb_spark.queries.pipeline_queries import pipeline_corpus_clean

    p = _final_plan(pipeline_corpus_clean(spark, sf_dir))
    assert "Cartesian" not in p and "BroadcastNestedLoop" not in p, p[:3000]
    assert "Python" not in p, p[:3000]


def test_length_histogram_single_aggregate(spark, sf_dir):
    """The histogram is one map + one hash aggregate — no joins, no windows."""
    from horaedb_spark.queries.pipeline_queries import pipeline_length_histogram

    p = _final_plan(pipeline_length_histogram(spark, sf_dir))
    assert "Join" not in p, p[:3000]
    assert "HashAggregate" in p, p[:3000]


def test_ann_recall_joins_stay_broadcast_or_hash(spark, sf_dir):
    """The recall computation joins query-set-sized frames onto the bucketed
    ANN outputs: every join must be an equi-join (the ANN branches' own
    bucket/cell joins included) — no nested-loop fallback anywhere."""
    from horaedb_spark.queries.similarity_queries import ann_recall_check

    p = _final_plan(ann_recall_check(spark, sf_dir))
    assert "CartesianProduct" not in p, p[:3000]


def test_sliding_rate_no_self_join(spark, sf_dir):
    """The sliding range-vector evaluates via bounded fan-out + ONE hash
    aggregate. The only join allowed is the metric engine's broadcast
    label enrichment — the sample stream itself must never self-join,
    fall to a nested loop, or leave the JVM."""
    from horaedb_spark.queries.metric_queries import promql_sliding_rate

    p = _final_plan(promql_sliding_rate(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p[:3000]
    assert "SortMergeJoin" not in p, p[:3000]  # any join present is broadcast
    assert "Python" not in p, p[:3000]
    assert "Explode" in p or "Generate" in p, p[:3000]  # the bounded fan-out


def test_incremental_dedup_is_semi_joins_only(spark, sf_dir):
    """Batch-vs-corpus dedup must reach the corpus only through semi/anti
    joins on index-shaped keys — no cartesian products, no Python."""
    from horaedb_spark.queries.dedup_queries import dedup_incremental_batch

    p = _final_plan(dedup_incremental_batch(spark, sf_dir))
    assert "Cartesian" not in p and "BroadcastNestedLoop" not in p, p[:3000]
    assert "LeftSemi" in p and "LeftAnti" in p, p[:3000]
    assert "Python" not in p, p[:3000]


def test_ordered_prefix_sum_has_no_single_partition_stage(spark):
    """The distributed prefix scan must never collapse to one partition —
    the failure mode of sum() OVER (ORDER BY ...) — and must range-shuffle
    exactly once."""
    from horaedb_spark.functions.prefix import ordered_prefix_sum

    df = spark.createDataFrame(
        [(i, (7 * i) % 13, i % 5 + 1) for i in range(200)],
        "id long, pri long, v long",
    )
    out = ordered_prefix_sum(
        df, [F.col("pri").desc(), F.col("id").asc()], "v", num_partitions=6
    )
    plan = plan_of(out)
    assert "SinglePartition" not in plan, plan[:3000]
    assert "rangepartitioning" in plan.lower(), plan[:3000]
    assert "Window" not in plan, plan[:3000]
    # correctness vs a driver-side model
    rows = out.orderBy("cum_sum").collect()
    expect = sorted(
        [(i, (7 * i) % 13, i % 5 + 1) for i in range(200)],
        key=lambda t: (-t[1], t[0]),
    )
    acc = 0
    for got, row in zip(expect, rows):
        acc += got[2]
        assert (row["id"], row["pri"], row["v"], row["cum_sum"]) == (*got, acc)


def test_interval_join_is_hash_equi_not_nested_loop(spark):
    """Point-in-interval matching must bucketize into a hash equi-join —
    never the BroadcastNestedLoopJoin/cartesian Spark plans for a raw
    BETWEEN condition."""
    from horaedb_spark.functions.intervals import interval_equi_join

    facts = spark.range(500).selectExpr("id", "id * 97 as ts")
    iv = spark.range(10).selectExpr(
        "id as iv_id", "id * 5000 as s", "id * 5000 + 7000 as e"
    )
    out = interval_equi_join(facts, "ts", iv, "s", "e", 4000)
    plan = plan_of(out)
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "Join" in plan
    # semantics: equals the naive range join
    naive = facts.join(iv, (F.col("ts") >= F.col("s")) & (F.col("ts") < F.col("e")))
    assert sorted(map(tuple, out.select("id", "iv_id").collect())) == sorted(
        map(tuple, naive.select("id", "iv_id").collect())
    )


def test_market_basket_pairs_is_joinless_single_shuffle(spark, sf_dir):
    """Round 7: baskets collapse to one sorted distinct-part array per
    order (the only basket-sized shuffle) and the a<b pairs expand as a
    ROW-LOCAL nested transform — no join operator of any kind in the
    plan, no cartesian, and the pair blow-up stays bounded by basket
    size squared."""
    from horaedb_spark.queries.analytics5 import market_basket_pairs

    plan = plan_of(market_basket_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "Join" not in plan, plan[:3000]
    assert "Generate" in plan or "Explode" in plan, plan[:3000]


def test_asof_tolerance_is_window_not_range_join(spark, sf_dir):
    """The tolerance-bounded as-of join must keep the union+window shape
    (one shuffle on user_id): no join operator at all in the plan —
    the staleness filter is row-local after the window."""
    from horaedb_spark.queries.analytics5 import asof_join_tolerance

    plan = plan_of(asof_join_tolerance(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan, plan[:3000]
    assert "windowspecdefinition" in plan or "Window" in plan


def test_embedding_dim_stats_partial_aggregates(spark, sf_dir):
    """posexplode -> hash aggregate must map-side combine (partial_ +
    final merge), so the shuffle carries 64 partials per task, not the
    exploded corpus."""
    from horaedb_spark.queries.analytics5 import embedding_dim_stats

    plan = _final_plan(embedding_dim_stats(spark, sf_dir))
    assert "Generate posexplode" in plan or "posexplode" in plan
    assert "partial_sum" in plan or "partial sum" in plan.lower(), plan[:3000]


def test_mad_outliers_medians_broadcast_back(spark, sf_dir):
    """Per-type medians are metadata-sized and must broadcast onto the
    event stream (no shuffle of the fact side for the join)."""
    from horaedb_spark.queries.analytics5 import events_mad_outliers

    plan = plan_of(events_mad_outliers(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "CartesianProduct" not in plan


def test_m4_downsample_single_partial_aggregate(spark, sf_dir):
    """M4 must be ONE map-side-combined hash aggregate over the scan —
    partial min/max/min_by/max_by before the shuffle, no join, no window."""
    from horaedb_spark.queries.analytics6 import events_m4_downsample

    plan = plan_of(events_m4_downsample(spark, sf_dir))
    assert "partial_min" in plan and "partial_max" in plan, plan[:3000]
    assert "Join" not in plan and "Window" not in plan


def test_oov_rate_vocab_broadcasts(spark, sf_dir):
    """The V-row vocabulary must broadcast onto the exploded corpus — the
    corpus side never shuffles for the membership join."""
    from horaedb_spark.queries.analytics6 import text_oov_rate

    plan = plan_of(text_oov_rate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "CartesianProduct" not in plan


def test_point_lookup_prunes_files(spark, sf_dir):
    """The clustered layout + manifest stats must let a PK point lookup
    read strictly fewer files than the table holds."""
    from horaedb_spark.queries.storage_queries import (
        _build_point_lookup_table,
        storage_point_lookup,
    )

    df = storage_point_lookup(spark, sf_dir)
    table = _build_point_lookup_table(spark, sf_dir)
    total = len(table.manifest.all_ssts())
    read = len(df.inputFiles())
    assert read < total, f"read {read} files of {total} — no pruning"


def test_seasonal_anomalies_profile_broadcasts(spark, sf_dir):
    """The ≤ series×168 weekly profile must broadcast onto the event
    stream — the fact side never shuffles for the join."""
    from horaedb_spark.queries.analytics6 import events_seasonal_anomalies

    plan = plan_of(events_seasonal_anomalies(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "CartesianProduct" not in plan


def test_type_affinity_self_join_is_equi(spark, sf_dir):
    """The per-user type self-join must be a hash equi-join on user_id
    (alphabet-bounded blow-up), never a nested loop."""
    from horaedb_spark.queries.analytics6 import events_type_affinity

    plan = plan_of(events_type_affinity(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_window_suite_single_sort(spark, sf_dir):
    """Nine window functions share ONE window spec -> exactly one Window
    physical node (one sort per partition)."""
    from horaedb_spark.queries.analytics6 import window_function_suite

    plan = plan_of(window_function_suite(spark, sf_dir))
    # count Window operator nodes (exclude the word in function names)
    n_window_nodes = plan.count("\n   +- Window") + plan.count("\n+- Window") + plan.count(" Window [")
    assert plan.count("windowspecdefinition") >= 9  # all functions in specs
    assert n_window_nodes <= 2, plan[:2000]


def test_exact_dedup_shuffles_fingerprints_not_text(spark, sf_dir):
    """The exact-dedup aggregate must key its exchange on the 16-byte
    (xxhash64, length) fingerprint — the corpus text bytes never cross the
    main shuffle (only suspect fingerprint groups re-verify on text)."""
    from horaedb_spark.queries.dedup_queries import dedup_exact

    p = _final_plan(dedup_exact(spark, sf_dir))
    assert "hashpartitioning(fp" in p, p[:3000]
    assert "hashpartitioning(text" not in p, p[:3000]


def test_ivf_query_join_strategy_matches_queryset_size(spark, sf_dir):
    """Serving shape (small query batch): the query side broadcasts, the
    corpus never shuffles. Corpus-sized query set under rerank="auto":
    dispatches to the cell-cogrouped Arrow GEMM kernel — no broadcast, no
    per-pair join at all. The forced expression path keeps its shuffle-join
    shape (both sides hash-partition on the IVF cell id)."""
    from horaedb_spark.functions.similarity import ivf_ann_topk, quantize
    from horaedb_spark.queries.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    qemb = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    serving = ivf_ann_topk(
        qemb, qemb.filter(F.col("vec_id") < 5), "qv", "vec_id",
        k=3, num_cells=8, nprobe=2,
    )
    p = _final_plan(serving)
    assert "BroadcastHashJoin" in p, p[:3000]
    # default offline shape: auto-dispatch to the Arrow cogroup kernel
    offline = ivf_ann_topk(
        qemb, qemb, "qv", "vec_id", k=3, num_cells=8, nprobe=2,
        broadcast_queries=False,
    )
    p2 = _final_plan(offline)
    assert "FlatMapCoGroupsInPandas" in p2, p2[:3000]
    assert "BroadcastHashJoin" not in p2, p2[:3000]
    # forced expression path: the cell-keyed shuffle join, still no broadcast
    offline_expr = ivf_ann_topk(
        qemb, qemb, "qv", "vec_id", k=3, num_cells=8, nprobe=2,
        broadcast_queries=False, rerank="expression",
    )
    p3 = _final_plan(offline_expr)
    assert "ShuffledHashJoin" in p3 or "SortMergeJoin" in p3, p3[:3000]
    assert "BroadcastHashJoin" not in p3, p3[:3000]


def test_round4_operators_stay_jvm_side(spark, sf_dir):
    """The round-4 sketch/sampling/phash operators must compile to pure
    JVM expressions (no Python eval) and never produce an unbounded
    cartesian (the only crossJoin allowed is the 5x5 event-type pair
    table / scalar broadcasts)."""
    from horaedb_spark.queries.events_queries import (
        sketch_hll_distinct,
        sketch_kmv_overlap,
    )
    from horaedb_spark.queries.multimodal_queries import (
        multimodal_phash_near_dup,
    )
    from horaedb_spark.queries.pipeline_queries import (
        pipeline_weighted_resample,
    )

    for fn in (sketch_hll_distinct, sketch_kmv_overlap, multimodal_phash_near_dup):
        p = _final_plan(fn(spark, sf_dir))
        assert "BatchEvalPython" not in p, fn.__name__
        assert "CartesianProduct" not in p, (fn.__name__, p[:2000])
    # the resampler's prefix sum is Arrow-batched (mapInPandas) by design;
    # pin only the no-single-partition and no-cartesian properties
    p = _final_plan(pipeline_weighted_resample(spark, sf_dir))
    assert "CartesianProduct" not in p, p[:2000]
    assert "SinglePartition" not in p.split("RangePartitioning")[0], p[:1500]


def test_bm25_topk_is_take_ordered_not_global_window(spark, sf_dir):
    """The BM25 top-k cut must compile to TakeOrderedAndProject (per-
    partition partial top-k + k-row driver merge) — the full scored set
    never funnels into a single-partition rank window (r4 verdict #1).
    The only Window node allowed is the rank stamp ABOVE the k-row limit."""
    from horaedb_spark.queries.search_queries import text_bm25_topk

    p = _final_plan(text_bm25_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p[:3000]
    # the rank window (if materialized) must sit above the limit: in the
    # plan tree dump parents print before children, so the Window line
    # must come before TakeOrderedAndProject
    if "Window" in p:
        assert p.index("Window") < p.index("TakeOrderedAndProject"), p[:3000]


def test_exact_ntile_no_single_partition_and_matches_ntile(spark):
    """exact_ntile must never collapse to one partition (the global
    ntile-window failure mode, r4 verdict #3) and must reproduce Spark's
    own ntile() bucket-for-bucket on a unique total order."""
    from pyspark.sql.window import Window as W

    from horaedb_spark.functions.prefix import exact_ntile

    df = spark.createDataFrame(
        [(i, (37 * i) % 101) for i in range(207)], "id long, v long"
    )
    for n in (4, 5):
        out = exact_ntile(
            df, [F.desc("v"), F.asc("id")], n, "q", num_partitions=6
        )
        plan = plan_of(out)
        assert "SinglePartition" not in plan, plan[:3000]
        assert "rangepartitioning" in plan.lower(), plan[:3000]
        got = {r["id"]: r["q"] for r in out.collect()}
        want = {
            r["id"]: r["q"]
            for r in df.withColumn(
                "q", F.ntile(n).over(W.orderBy(F.desc("v"), F.asc("id")))
            ).collect()
        }
        assert got == want


def test_rfm_segments_no_single_partition_window(spark, sf_dir):
    """The three RFM quartile scores must not run as global ntile windows
    (r4 verdict #3). Round 7 strengthens the pin: the scores are CASE
    chains over collected boundary literals (exact_ntile_lit), so the
    FINAL plan has no SinglePartition, no window at all, and no Python —
    the customer frame is scored without being re-shuffled."""
    from horaedb_spark.queries.analytics5 import customer_rfm_segments

    p = _final_plan(customer_rfm_segments(spark, sf_dir))
    assert "SinglePartition" not in p, p[:3000]
    assert "ntile" not in p.lower(), p[:3000]
    assert "Python" not in p, p[:3000]


def test_pareto_deciles_no_single_partition_window(spark, sf_dir):
    """orders_pareto_deciles' decile must never be a global ntile(10)
    window over all customers (r5 verdict #1). Round 7: the decile is a
    CASE chain over the 9 collected boundary literals (exact_ntile_lit) —
    no data-sized window, rank, or Python pass in the final plan. The only
    permissible single-partition stage is the cum-share window over the
    10 decile rows, which sits ABOVE the 10-row aggregate."""
    from horaedb_spark.queries.analytics5 import orders_pareto_deciles

    p = _final_plan(orders_pareto_deciles(spark, sf_dir))
    assert "ntile" not in p.lower(), p[:3000]
    assert "Python" not in p, p[:3000]


def test_top_supplier_q15_scalar_max_not_global_window(spark, sf_dir):
    """Q15's scalar-max subquery must be an aggregate + broadcast, never an
    empty-partition window funneling the per-supplier aggregate through one
    task (the supplier aggregate GROWS with scale — round-6 plan audit)."""
    from horaedb_spark.queries.analytics4 import top_supplier_q15

    p = _final_plan(top_supplier_q15(spark, sf_dir))
    assert "Window" not in p, p[:3000]
    # the scalar max reaches the filter via a broadcast of a keys=[] agg
    assert "HashAggregate(keys=[]" in p


def test_scalar_grid_join_is_broadcast(spark, sf_dir):
    """time()/scalar() grids are O(steps) rows — their join against the
    vector must broadcast, never shuffle the data side on ts."""
    from horaedb_spark.metric.promql import promql_eval
    from horaedb_spark.queries.metric_queries import _engine

    eng = _engine(spark, sf_dir)
    p = _final_plan(
        promql_eval(eng, "sum by (cohort) (click) - time()", 86_400_000)
    )
    assert "BroadcastHashJoin" in p, p[:3000]


def test_limitk_compiles_to_window_group_limit(spark, sf_dir):
    """limitk's rank<=k filter must run as a map-side WindowGroupLimit
    (partial top-k before the exchange), like topk."""
    from horaedb_spark.metric.promql import promql_eval
    from horaedb_spark.queries.metric_queries import _engine

    eng = _engine(spark, sf_dir)
    p = _final_plan(
        promql_eval(
            eng, "limitk(2, sum by (cohort) (rate(click[1d])))", 86_400_000
        )
    )
    assert "WindowGroupLimit" in p, p[:3000]


def test_q10_top20_is_take_ordered_with_broadcast_nation(spark, sf_dir):
    """TPC-H Q10's global top-20 must compile to TakeOrderedAndProject and
    the nation dim must broadcast — no single-partition sort, no
    sort-merge join against a 25-row dimension."""
    from horaedb_spark.queries.analytics4 import returned_item_losses_q10

    p = _final_plan(returned_item_losses_q10(spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p[:3000]
    assert "BroadcastHashJoin" in p, p[:3000]


def test_exact_ntile_lit_matches_ntile_and_stays_narrow(spark):
    """exact_ntile_lit must reproduce Spark's ntile() bucket-for-bucket —
    including ties broken by the key, fewer rows than buckets, and a
    single row — while leaving the SCORED frame's plan narrow: no window,
    no range shuffle, no Python (discovery runs on a slim projection in
    separate jobs; the score is a CASE chain of boundary literals)."""
    from pyspark.sql.window import Window as W

    from horaedb_spark.functions.prefix import exact_ntile_lit

    cases = [
        ([(i, float((37 * i) % 101)) for i in range(207)], 4),
        ([(i, float(i % 3)) for i in range(100)], 7),  # heavy ties
        ([(i, float(i)) for i in range(3)], 10),  # fewer rows than buckets
        ([(0, 5.0)], 4),  # single row
    ]
    for rows, n in cases:
        df = spark.createDataFrame(rows, "id long, v double")
        out = exact_ntile_lit(df, "v", "id", n, "q", num_partitions=6)
        got = {r["id"]: r["q"] for r in out.collect()}
        want = {
            r["id"]: r["q"]
            for r in df.withColumn(
                "q", F.ntile(n).over(W.orderBy(F.desc("v"), F.asc("id")))
            ).collect()
        }
        assert got == want, (n, len(rows))
    big = spark.createDataFrame(
        [(i, float((37 * i) % 101)) for i in range(207)], "id long, v double"
    )
    p = plan_of(exact_ntile_lit(big, "v", "id", 4, "q", num_partitions=6))
    assert "rangepartitioning" not in p.lower(), p[:3000]
    assert "Window" not in p and "Python" not in p, p[:3000]


def test_ivf_arrow_rerank_is_cogroup_kernel(spark, sf_dir):
    """The Arrow GEMM path must plan as a cell-cogrouped applyInPandas —
    and its per-pair fold expressions must be GONE: no zip_with/aggregate
    cosine in the plan, and the post-kernel window runs over kernel output
    (k rows per query-cell), never the raw candidate set."""
    from horaedb_spark.queries.similarity_queries import ann_ivf_topk_arrow

    p = _final_plan(ann_ivf_topk_arrow(spark, sf_dir))
    assert "FlatMapCoGroupsInPandas" in p, p[:3000]
    assert "zip_with" not in p, p[:3000]
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_brute_arrow_is_joinless_map_kernel(spark, sf_dir):
    """The Arrow brute-force serving path must plan as a mapInPandas over
    the corpus scan with NO join operator (queries ride as numpy
    literals), and no zip_with fold."""
    from horaedb_spark.queries.similarity_queries import (
        ann_bruteforce_topk_arrow,
    )

    p = _final_plan(ann_bruteforce_topk_arrow(spark, sf_dir))
    assert "MapInPandas" in p, p[:3000]
    assert "Join" not in p, p[:3000]
    assert "zip_with" not in p, p[:3000]


def test_arrow_and_expression_ann_agree_on_adversarial_vectors(spark):
    """Strategy equivalence beyond the testdata: on a corpus built to
    maximize cosine TIES (repeated and scaled copies of a few base
    vectors — scaling preserves cosine exactly in integer space), the
    Arrow GEMM paths must return row-for-row the SAME top-k as the
    expression paths, including tie-breaks on corpus_id. Zero-norm
    vectors are excluded by precondition (cosine undefined)."""
    from horaedb_spark.functions.similarity import (
        brute_force_topk,
        brute_force_topk_arrow,
        ivf_ann_topk,
        ivf_ann_topk_arrow,
    )

    base = [
        [3, 1, 4, 1], [3, 1, 4, 1], [6, 2, 8, 2],  # exact + scaled copies
        [1, 0, 0, 0], [0, 1, 0, 0], [2, 0, 0, 0],
        [5, 9, 2, 6], [-3, -1, -4, -1], [1, 1, 1, 1], [2, 2, 2, 2],
    ]
    rows = [(i, base[i % len(base)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, qv array<long>")
    expr = brute_force_topk(emb, emb.filter(F.col("vec_id") < 6), "qv", "vec_id", 5)
    qrows = [(r["vec_id"], list(r["qv"])) for r in
             emb.filter(F.col("vec_id") < 6).collect()]
    arrow = brute_force_topk_arrow(emb, qrows, "qv", "vec_id", 5)
    assert sorted(map(tuple, expr.collect())) == sorted(
        map(tuple, arrow.collect())
    )
    e2 = ivf_ann_topk(emb, emb, "qv", "vec_id", 3, num_cells=4, nprobe=2,
                      broadcast_queries=False, rerank="expression")
    a2 = ivf_ann_topk_arrow(emb, emb, "qv", "vec_id", 3, num_cells=4, nprobe=2)
    assert sorted(map(tuple, e2.collect())) == sorted(map(tuple, a2.collect()))
    # auto-dispatch must return the same rows as the forced strategies
    auto = ivf_ann_topk(emb, emb, "qv", "vec_id", 3, num_cells=4, nprobe=2,
                        broadcast_queries=False)
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, a2.collect()))


def test_arrow_kernels_reject_zero_norm_vectors(spark):
    """The zero-norm precondition is ENFORCED, not just documented: cosine
    is undefined for a zero vector and the expression path would order the
    NaNs differently (Spark sorts NaN greatest, numpy last) — so the Arrow
    kernels raise instead of silently diverging."""
    from horaedb_spark.functions.similarity import (
        brute_force_topk_arrow,
        ivf_ann_topk_arrow,
    )

    rows = [(i, [i + 1, 2, 3, 4]) for i in range(8)] + [(99, [0, 0, 0, 0])]
    emb = spark.createDataFrame(rows, "vec_id long, qv array<long>")
    with pytest.raises(Exception, match="zero-norm"):
        ivf_ann_topk_arrow(
            emb, emb, "qv", "vec_id", k=2, num_cells=2, nprobe=1
        ).collect()
    with pytest.raises(ValueError, match="zero-norm"):
        brute_force_topk_arrow(emb, [(99, [0, 0, 0, 0])], "qv", "vec_id", k=2)


def test_expression_paths_reject_zero_norm_vectors(spark):
    """Both strategies agree on the adversarial input by BOTH rejecting it:
    the expression twins enforce the same zero-norm precondition as the
    Arrow kernels (with_checked_norm raises per offending row, naming the id)
    instead of silently ranking NaN cosines — so the strategy pair can
    never disagree on a zero vector, per plan or per row."""
    from horaedb_spark.functions.similarity import (
        brute_force_topk,
        ivf_ann_topk,
        lsh_ann_topk,
    )

    rows = [(i, [i + 1, 2, 3, 4]) for i in range(8)] + [(99, [0, 0, 0, 0])]
    emb = spark.createDataFrame(rows, "vec_id long, qv array<long>")
    clean_q = emb.filter(F.col("vec_id") < 3)
    with pytest.raises(Exception, match="zero-norm"):
        brute_force_topk(emb, clean_q, "qv", "vec_id", k=2).collect()
    with pytest.raises(Exception, match="zero-norm"):
        ivf_ann_topk(
            emb, clean_q, "qv", "vec_id", k=2, num_cells=2, nprobe=1,
            rerank="expression",
        ).collect()
    # The contract is enforcement AT SCORING TIME, symmetric with the Arrow
    # kernels (whose cogroup early-returns on cells with no queries before
    # the norm check): a zero-norm row whose LSH bucket never joins a query
    # is dropped by candidate generation without ever reaching a cosine —
    # it must not corrupt results, and the output must equal the zero-free
    # corpus. (Here the zero vector's all-ones bucket matches no query.)
    ok = emb.filter(F.col("vec_id") != 99)
    with_zero = lsh_ann_topk(emb, clean_q, "qv", "vec_id", k=2,
                             num_planes=4, dim=4).collect()
    without = lsh_ann_topk(ok, clean_q, "qv", "vec_id", k=2,
                           num_planes=4, dim=4).collect()
    assert sorted(map(tuple, with_zero)) == sorted(map(tuple, without))
    # healthy corpora are untouched: same call shapes, zero vector removed
    assert brute_force_topk(ok, clean_q, "qv", "vec_id", k=2).count() > 0
    assert ivf_ann_topk(
        ok, clean_q, "qv", "vec_id", k=2, num_cells=2, nprobe=1,
        rerank="expression",
    ).count() > 0


def test_lsh_quantized_to_zero_error_names_quantization(spark):
    """A legitimate nonzero vector whose components are all |x| < 0.5/scale
    quantizes to all-zeros; blaming the input as plain 'zero-norm' would
    mislead (the input is NOT zero-norm). The quantized paths' error names
    quantization as a possible cause with the rescale remedy. (A per-row
    distinction would need the raw vector carried past the candidate join,
    breaking the scoring-time-enforcement contract pinned above.)"""
    from horaedb_spark.functions.similarity import lsh_ann_topk

    tiny = [(1, [1.0, 2.0, 3.0, 4.0]), (2, [1e-5, 1e-5, 1e-5, 1e-5])]
    emb = spark.createDataFrame(tiny, "vec_id long, qv array<double>")
    with pytest.raises(Exception, match="quantization scale"):
        lsh_ann_topk(emb, emb, "qv", "vec_id", k=1, num_planes=4, dim=4).collect()


def test_checked_norm_folds_once_in_optimized_plan(spark):
    """The zero-norm check must not double the per-row norm fold: Spark's
    subexpression elimination skips higher-order functions (SPARK-35410),
    so the when/otherwise spelling would materialize F.aggregate twice.
    with_checked_norm splits it across a projection boundary — exactly ONE
    aggregate fold per side in the optimized brute-force plan."""
    from horaedb_spark.functions.similarity import with_checked_norm

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0])], "vec_id long, qv array<double>"
    )
    out = with_checked_norm(emb, F.col("qv"), F.col("vec_id"), "n")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("aggregate(") == 1, plan


def test_pq_adc_strategies_agree_on_adversarial_vectors(spark):
    """PQ strategy equivalence (round 12, mirrors the IVF/brute test): on
    a corpus built to maximize ADC DISTANCE TIES (exact duplicate vectors
    encode to identical codes, so many corpus rows share a distance), the
    Arrow LUT kernel must return row-for-row the SAME top-k as the
    per-pair expression path, including tie-breaks on corpus_id — both are
    exact int64 so equality is literal, not approximate. auto must pick a
    strategy that returns the same rows (a small query batch dispatches to
    the Arrow kernel)."""
    from horaedb_spark.functions.similarity import pq_ann_topk

    base = [
        [3, 1, 4, 1, 5, 9, 2, 6], [3, 1, 4, 1, 5, 9, 2, 6],
        [1, 0, 0, 0, 0, 0, 0, 1], [0, 1, 0, 0, 1, 0, 0, 0],
        [2, 2, 2, 2, 2, 2, 2, 2], [-3, -1, -4, -1, -5, -9, -2, -6],
    ]
    rows = [(i, base[i % len(base)]) for i in range(48)]
    emb = spark.createDataFrame(rows, "vec_id long, qv array<long>")
    q = emb.filter(F.col("vec_id") < 6)
    kw = dict(k=4, num_codes=6, num_subspaces=4)
    e = pq_ann_topk(emb, q, "qv", "vec_id", adc="expression", **kw)
    a = pq_ann_topk(emb, q, "qv", "vec_id", adc="arrow", **kw)
    auto = pq_ann_topk(emb, q, "qv", "vec_id", **kw)
    le = sorted(map(tuple, e.collect()))
    assert le == sorted(map(tuple, a.collect()))
    assert le == sorted(map(tuple, auto.collect()))
    with pytest.raises(ValueError, match="adc"):
        pq_ann_topk(emb, q, "qv", "vec_id", adc="gemm", **kw)


def test_pq_adc_strategies_return_identical_schema_for_int_ids(spark):
    """ADVICE r13: with int (non-long) ids, adc='auto' used to return a
    schema that VARIED with query-batch size — the Arrow kernel hardcoded
    long ids while the expression path preserved the source type, so a
    downstream union/schema comparison could break on data volume. Both
    strategies must now return the input id types."""
    from horaedb_spark.functions.similarity import pq_ann_topk

    rows = [(i, [(i * 7 + j) % 5 for j in range(8)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id int, qv array<long>")
    q = emb.limit(3)
    kw = dict(k=3, num_codes=4, num_subspaces=4)
    e = pq_ann_topk(emb, q, "qv", "vec_id", adc="expression", **kw)
    a = pq_ann_topk(emb, q, "qv", "vec_id", adc="arrow", **kw)
    assert e.schema == a.schema, (e.schema, a.schema)
    assert dict(e.dtypes)["query_id"] == "int"
    assert dict(a.dtypes)["corpus_id"] == "int"
    assert sorted(map(tuple, e.collect())) == sorted(map(tuple, a.collect()))


def test_pq_auto_dispatch_keeps_string_ids_on_expression_path(spark):
    """Review r12: the Arrow ADC kernel is integer-typed; a corpus keyed by
    string ids must stay on the type-generic expression path under
    adc='auto' (it used to crash in the numpy cast), and adc='arrow' must
    refuse with a clear remedy instead of a cast error."""
    from horaedb_spark.functions.similarity import pq_ann_topk

    rows = [(f"doc-{i}", [(i * 7 + j) % 5 for j in range(8)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id string, qv array<long>")
    q = emb.limit(3)
    out = pq_ann_topk(emb, q, "qv", "vec_id", k=3, num_codes=4, num_subspaces=4)
    got = out.collect()
    assert got and all(isinstance(r.query_id, str) for r in got)
    with pytest.raises(ValueError, match="integral id"):
        pq_ann_topk(emb, q, "qv", "vec_id", k=3, num_codes=4,
                    num_subspaces=4, adc="arrow")
