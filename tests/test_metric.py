"""Metric layer tests: remote-write codec equivalence (mirrors the reference's
equivalence_test.rs strategy — decode vs an independent path), id stability,
matcher planning."""

import pytest
from pyspark.sql import functions as F

from horaedb_spark.core.timeutil import TimeRange
from horaedb_spark.metric.engine import Matcher, MetricEngine
from horaedb_spark.metric.ingest import (
    decode_payloads,
    decode_write_request,
    encode_write_request,
)

FIXTURE = [
    {
        "name": "http_requests_total",
        "labels": {"job": "proxy", "instance": "host-1"},
        "samples": [(1.5, 1704067200000), (2.5, 1704067260000)],
    },
    {
        "name": "cpu_usage",
        "labels": {"core": "0"},
        "samples": [(0.25, 1704067200123), (-1.0, -5)],  # negative value + ts
    },
    {"name": "empty_series", "labels": {}, "samples": []},
]


def test_codec_round_trip():
    buf = encode_write_request(FIXTURE)
    decoded = decode_write_request(buf)
    expect = [
        {"name": s["name"], "labels": s["labels"], "ts_ms": ts, "value": v}
        for s in FIXTURE
        for v, ts in s["samples"]
    ]
    assert decoded == expect


def test_decode_skips_unknown_fields():
    # field 9 varint + field 3 (exemplars, length-delimited) must be skipped
    from horaedb_spark.metric.ingest import _ld, _varint

    buf = encode_write_request(FIXTURE[:1])
    extra = _varint((9 << 3) | 0) + _varint(42) + _ld(3, b"\x01\x02")
    assert decode_write_request(buf + extra) == decode_write_request(buf)


def test_distributed_decode(spark):
    buf = encode_write_request(FIXTURE)
    payloads = spark.createDataFrame([(buf, 1), (buf, 2)], "payload binary, seq long")
    df = decode_payloads(payloads)
    rows = df.collect()
    assert len(rows) == 8  # 4 samples x 2 payloads
    got = {(r.name, r.ts_ms, r.value, r.seq) for r in rows}
    assert ("http_requests_total", 1704067200000, 1.5, 1) in got
    assert ("cpu_usage", -5, -1.0, 2) in got
    labels = {r.name: r.labels for r in rows}
    assert labels["http_requests_total"] == {"job": "proxy", "instance": "host-1"}


def test_distributed_decode_of_streaming_frame(spark):
    """A streaming payload frame has no partition count before its query
    starts: decode_payloads must build the decode without asking."""
    buf = encode_write_request(FIXTURE[:1])
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(F.unhex(F.lit(buf.hex())).alias("payload"), F.col("value").alias("seq"))
    )
    df = decode_payloads(stream)
    assert df.isStreaming
    assert [f.name for f in df.schema] == ["name", "labels", "ts_ms", "value", "seq"]


@pytest.fixture(scope="module")
def engine(spark):
    buf = encode_write_request(
        [
            {
                "name": "m",
                "labels": {"job": f"j{i % 3}", "host": f"h{i}"},
                "samples": [(float(k), 1000 * k + i) for k in range(1, 4)],
            }
            for i in range(6)
        ]
    )
    payloads = spark.createDataFrame([(buf, 7)], "payload binary, seq long")
    return MetricEngine(decode_payloads(payloads))


def test_label_values(engine):
    vals = sorted(r.tag_value for r in engine.label_values("m", "job").collect())
    assert vals == ["j0", "j1", "j2"]


def test_matcher_eq_and_regex(engine):
    # job=j0 -> hosts h0, h3
    out = engine.select_series("m", [Matcher("job", "=", "j0")])
    keys = {r.series_key for r in out.select("series_key").distinct().collect()}
    assert keys == {"host=h0,job=j0", "host=h3,job=j0"}
    # host=~h[12] (fully anchored, PromQL semantics) -> h1, h2 only
    out2 = engine.select_series("m", [Matcher("host", "=~", "h[12]")])
    keys2 = {r.series_key for r in out2.select("series_key").distinct().collect()}
    assert keys2 == {"host=h1,job=j1", "host=h2,job=j2"}
    # anchoring: h1 must not match a hypothetical h10 — check via prefix regex
    out2b = engine.select_series("m", [Matcher("host", "=~", "h1")])
    keys2b = {r.series_key for r in out2b.select("series_key").distinct().collect()}
    assert keys2b == {"host=h1,job=j1"}
    # conjunction: job=j1 AND host=h1
    out3 = engine.select_series("m", [Matcher("job", "=", "j1"), Matcher("host", "=", "h1")])
    keys3 = {r.series_key for r in out3.select("series_key").distinct().collect()}
    assert keys3 == {"host=h1,job=j1"}


def test_negative_matcher(engine):
    out = engine.select_series("m", [Matcher("job", "!=", "j0")])
    jobs = {r.series_key.split(",")[1] for r in out.select("series_key").distinct().collect()}
    assert jobs == {"job=j1", "job=j2"}


def test_time_range_selection(engine):
    out = engine.select_series("m", None, TimeRange(2000, 3000))
    ts = [r.ts_ms for r in out.collect()]
    assert ts and all(2000 <= t < 3000 for t in ts)


def test_d10_dedup_max_seq(spark):
    # same (series, ts) in two payloads with different seq: max seq wins
    mk = lambda v: encode_write_request(
        [{"name": "m", "labels": {"a": "1"}, "samples": [(v, 1000)]}]
    )
    payloads = spark.createDataFrame(
        [(mk(1.0), 1), (mk(2.0), 2)], "payload binary, seq long"
    )
    eng = MetricEngine(decode_payloads(payloads))
    rows = eng.data.collect()
    assert len(rows) == 1
    assert rows[0].value == 2.0


def test_metadata_codec_round_trip():
    from horaedb_spark.metric.ingest import decode_metadata

    md = [
        {"type": "COUNTER", "family_name": "http_requests_total",
         "help": "total requests", "unit": ""},
        {"type": "GAUGE", "family_name": "cpu_usage", "help": "", "unit": "ratio"},
    ]
    buf = encode_write_request(FIXTURE, metadata=md)
    assert decode_metadata(buf) == md
    # sample decode is unaffected by interleaved metadata records
    assert decode_write_request(buf) == decode_write_request(encode_write_request(FIXTURE))


def test_exemplar_roundtrip_and_sample_isolation():
    """Exemplars (remote_write.proto:70-77) encode/decode round-trip with
    series identity attached, and their presence does not perturb the sample
    decode path (exemplar fields are correctly framed/skipped there)."""
    from horaedb_spark.metric.ingest import (
        decode_exemplars,
        decode_write_request,
        encode_write_request,
    )

    series = [
        {
            "name": "http_requests",
            "labels": {"job": "api"},
            "samples": [(1.5, 1000), (2.5, 2000)],
            "exemplars": [
                {"labels": {"trace_id": "abc"}, "value": 1.4, "ts_ms": 999},
                {"labels": {}, "value": 2.4, "ts_ms": -5},
            ],
        },
        {"name": "plain", "labels": {}, "samples": [(9.0, 42)]},
    ]
    buf = encode_write_request(series)
    samples = decode_write_request(buf)
    assert [(s["name"], s["value"], s["ts_ms"]) for s in samples] == [
        ("http_requests", 1.5, 1000),
        ("http_requests", 2.5, 2000),
        ("plain", 9.0, 42),
    ]
    exemplars = decode_exemplars(buf)
    assert exemplars == [
        {
            "name": "http_requests",
            "series_labels": {"job": "api"},
            "labels": {"trace_id": "abc"},
            "value": 1.4,
            "ts_ms": 999,
        },
        {
            "name": "http_requests",
            "series_labels": {"job": "api"},
            "labels": {},
            "value": 2.4,
            "ts_ms": -5,
        },
    ]


def test_matchers_against_absent_labels(spark):
    """Prometheus matcher semantics: a matcher applies to
    labels.get(key, "") — an ABSENT label participates as the empty
    string. Series with heterogeneous label sets pin all four ops in
    both empty-accepting and empty-rejecting forms (round 6; previously
    the index-only path silently dropped absent-label matches)."""
    from horaedb_spark.metric.engine import MetricEngine, Matcher

    samples = spark.createDataFrame(
        [("m", {"host": "a", "env": "prod"}, 1000, 1.0, 1),
         ("m", {"host": "b"}, 1000, 2.0, 2)],
        "name string, labels map<string,string>, ts_ms long, "
        "value double, seq long",
    )
    eng = MetricEngine(samples)

    def got(*ms):
        return sorted(
            r.series_key
            for r in eng.select_series("m", list(ms))
            .select("series_key")
            .distinct()
            .collect()
        )

    both = ["env=prod,host=a", "host=b"]
    assert got(Matcher("env", "=~", "prod|")) == both
    assert got(Matcher("env", "=~", ".*")) == both
    assert got(Matcher("env", "=", "")) == ["host=b"]
    assert got(Matcher("env", "!=", "prod")) == ["host=b"]
    assert got(Matcher("env", "!~", "p.*")) == ["host=b"]
    assert got(Matcher("env", "=", "prod")) == ["env=prod,host=a"]
    assert got(Matcher("env", "!=", "")) == ["env=prod,host=a"]
    assert got(Matcher("env", "!~", "prod|")) == []
    assert got(
        Matcher("host", "=~", "a|b"), Matcher("env", "=", "prod")
    ) == ["env=prod,host=a"]


def test_wire_decoder_fuzz_no_hang_or_crash():
    """The remote-write decoders face untrusted bytes over HTTP: on ANY
    input they must terminate promptly with a result or a clean exception
    (the server maps exceptions to 400) — never hang or corrupt. Pure
    driver-side, no Spark."""
    import struct

    import hypothesis.strategies as st
    from hypothesis import given, settings

    from horaedb_spark.metric.ingest import (
        decode_exemplars,
        decode_metadata,
        decode_write_request,
    )

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=200))
    def fuzz(buf):
        for fn in (decode_write_request, decode_metadata, decode_exemplars):
            try:
                out = fn(buf)
                assert isinstance(out, list)
            except (ValueError, IndexError, UnicodeDecodeError, struct.error):
                pass  # clean rejection -> HTTP 400 (server catches all)

    fuzz()


def test_materialized_engine_equals_declarative_and_skips_exchange(spark):
    """MetricEngine.materialized(): the series_key-partitioned flat
    checkpoint must (a) return exactly the declarative engine's results
    through select_series and a compiled PromQL string, and (b) feed
    per-series aggregations WITHOUT a fresh exchange —
    HashPartitioning(series_key) carried by the checkpoint's LogicalRDD
    satisfies the (series_key, bucket) clustering, so the one data-sized
    shuffle of every evaluation is paid once at materialization. The
    partitioning is part of the checkpoint, so it shows in the plan before
    anything executes."""
    from horaedb_spark.metric.promql import promql_eval

    rows = [
        ("m", {"host": h, "env": e}, ts, float(v), s)
        for s, (h, e, ts, v) in enumerate(
            (h, e, t * 3_600_000, (t + 1) * (i + 1))
            for i, (h, e) in enumerate(
                [("a", "prod"), ("b", "prod"), ("c", "dev")]
            )
            for t in range(30)
        )
    ]
    samples = spark.createDataFrame(
        rows,
        "name string, labels map<string,string>, ts_ms long, "
        "value double, seq long",
    )
    plain = MetricEngine(samples)
    mat = MetricEngine(samples).materialized({"m"})
    q = "sum by (env) (rate(m[1d]))"
    want = sorted(map(tuple, promql_eval(plain, q, 86_400_000).collect()))
    got = sorted(map(tuple, promql_eval(mat, q, 86_400_000).collect()))
    assert got == want and len(got) > 0
    sel = sorted(
        map(
            tuple,
            mat.select_series(
                "m", [Matcher("env", "=", "prod")]
            ).select("series_key", "ts_ms", "value").collect(),
        )
    )
    sel_plain = sorted(
        map(
            tuple,
            plain.select_series(
                "m", [Matcher("env", "=", "prod")]
            ).select("series_key", "ts_ms", "value").collect(),
        )
    )
    assert sel == sel_plain and len(sel) == 60
    # plan pin: the per-series rate aggregate reads the checkpoint's
    # partitioning — no Exchange between the checkpoint scan and the
    # first HashAggregate
    from horaedb_spark.functions.promql import rate

    per_series = rate(
        mat.select_series("m").select("series_key", "ts_ms", "value"),
        ["series_key"],
        86_400_000,
    )
    plan = per_series._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=false" in plan, plan
    head = plan.split("Scan ExistingRDD")[0]
    assert "Scan ExistingRDD" in plan and "Exchange" not in head, plan


# ---------------------------------------------------------------- multi-field


def _mf_samples(spark):
    """One metric family: http_req with fields sum/count (RFC:106-113),
    plus a plain single-name metric mixed into the same batch."""
    rows = [
        ("http_req_sum", {"host": "a"}, 1000, 10.0, 1),
        ("http_req_sum", {"host": "a"}, 2000, 30.0, 2),
        ("http_req_count", {"host": "a"}, 1000, 2.0, 3),
        ("http_req_count", {"host": "a"}, 2000, 5.0, 4),
        ("http_req_sum", {"host": "b"}, 1000, 7.0, 5),
        ("plain_gauge", {"host": "a"}, 1000, 1.5, 6),
    ]
    df = spark.createDataFrame(
        rows,
        "name string, labels map<string,string>, ts_ms long, value double, seq long",
    )
    from horaedb_spark.metric.ingest import group_metric_families

    return group_metric_families(df)


def test_group_metric_families_suffix_and_metadata(spark):
    from horaedb_spark.metric.ingest import group_metric_families

    df = spark.createDataFrame(
        [("api_latency_sum", 1.0), ("api_latency_count", 2.0), ("up", 1.0)],
        "name string, value double",
    )
    # suffix heuristic
    out = {(r["name"], r["field"]) for r in group_metric_families(df).collect()}
    assert out == {
        ("api_latency", "sum"), ("api_latency", "count"), ("up", "value")
    }
    # explicit metadata family map (decode_metadata's family_name) wins
    fams = {"api_latency_sum": "api_latency", "api_latency_count": "api_latency"}
    out2 = {
        (r["name"], r["field"])
        for r in group_metric_families(df, families=fams).collect()
    }
    assert out2 == out


def test_multi_field_catalog_and_data_table(spark):
    """metrics catalog: one row PER (metric, field) with stable hash ids —
    no hard-coded single-field literal; data table carries field_id and
    dedups per field (two fields of one series at one ts are two rows)."""
    from horaedb_spark.metric import model

    s = _mf_samples(spark)
    cat = {
        (r["metric_name"], r["field_name"], r["field_type"])
        for r in model.build_metrics_table(s).collect()
    }
    assert cat == {
        ("http_req", "sum", "f64"),
        ("http_req", "count", "f64"),
        ("plain_gauge", "value", "f64"),
    }
    data = model.build_data_table(s)
    assert "field_id" in data.columns
    # same series (http_req{host=a}) at ts=1000 has one row per field
    n = data.filter(F.col("ts_ms") == 1000).count()
    assert n == 4  # sum@a, count@a, sum@b, plain_gauge@a
    # field ids are the stable hash of the field name
    fid = {r["field_name"]: r["field_id"]
           for r in model.build_metrics_table(s).collect()}
    got = spark.sql("SELECT xxhash64('sum') AS h").first()["h"]
    assert fid["sum"] == got


def test_engine_field_selection_and_promql_field_matcher(spark):
    eng = MetricEngine(_mf_samples(spark))
    assert {r["field_name"] for r in eng.fields("http_req").collect()} == {
        "sum", "count"
    }
    assert [r["field_name"] for r in eng.fields("plain_gauge").collect()] == [
        "value"
    ]
    sums = eng.select_series("http_req", field="sum", with_labels=False)
    counts = eng.select_series("http_req", field="count", with_labels=False)
    assert sorted((r.ts_ms, r.value) for r in sums.collect()) == [
        (1000, 7.0), (1000, 10.0), (2000, 30.0)
    ]
    assert sorted((r.ts_ms, r.value) for r in counts.collect()) == [
        (1000, 2.0), (2000, 5.0)
    ]
    # default field on a multi-field engine = 'value' rows only
    assert eng.select_series("http_req", with_labels=False).count() == 0
    assert eng.select_series("plain_gauge", with_labels=False).count() == 1
    # PromQL __field__ matcher routes to the same selection
    got = eng.promql(
        'sum by (host) (sum_over_time(http_req{__field__="sum"}[1h]))',
        step_ms=3_600_000,
    )
    vals = {(r["series_key"], r["value"]) for r in got.collect()}
    assert ("host=a", 40.0) in vals and ("host=b", 7.0) in vals
    # a single-field engine rejects a non-default field selection
    plain = MetricEngine(spark.createDataFrame(
        [("m", {"h": "a"}, 1000, 1.0, 1)],
        "name string, labels map<string,string>, ts_ms long, value double, seq long",
    ))
    with pytest.raises(ValueError, match="field dimension"):
        plain.select_series("m", field="sum")


def test_engine_multi_field_tuple_selection(spark):
    """Round-14 fused shape: field=(a, b) selects BOTH fields in ONE pass
    (an OR of literal field_id equalities), the union of the per-field
    selections, with field_id retained for downstream disambiguation.
    Error surfaces: empty tuple, tuple on a field-less engine."""
    eng = MetricEngine(_mf_samples(spark))
    both = eng.select_series("http_req", field=("sum", "count"), with_labels=False)
    assert "field_id" in both.columns
    sums = eng.select_series("http_req", field="sum", with_labels=False)
    counts = eng.select_series("http_req", field="count", with_labels=False)
    key = lambda r: (r["field_id"], r["ts_ms"], r["value"])  # noqa: E731
    assert sorted(key(r) for r in both.collect()) == sorted(
        [key(r) for r in sums.collect()] + [key(r) for r in counts.collect()]
    )
    with pytest.raises(ValueError, match="at least one field"):
        eng.select_series("http_req", field=())
    plain = MetricEngine(spark.createDataFrame(
        [("m", {"h": "a"}, 1000, 1.0, 1)],
        "name string, labels map<string,string>, ts_ms long, value double, seq long",
    ))
    with pytest.raises(ValueError, match="field dimension"):
        plain.select_series("m", field=("sum", "count"))


def test_store_multi_field_round_trip(spark, tmp_path):
    """Durable path: data-table PK includes field_id (RFC:222-229), the
    catalog upserts one row per field, and the packed layout packs per
    (series, field)."""
    from horaedb_spark.metric.store import MetricStore

    store = MetricStore(spark, str(tmp_path / "mf"), 3_600_000)
    store.ingest(_mf_samples(spark))
    eng = store.engine()
    assert eng.metrics.count() == 3  # 2 family fields + 1 plain
    sums = eng.select_series("http_req", field="sum", with_labels=False)
    assert sorted((r.ts_ms, r.value) for r in sums.collect()) == [
        (1000, 7.0), (1000, 10.0), (2000, 30.0)
    ]
    # re-ingest idempotent per field
    store.ingest(_mf_samples(spark))
    assert store.engine().metrics.count() == 3
    # packed path keeps fields apart
    store.compact_to_packed()
    peng = store.packed_engine()
    psums = peng.select_series("http_req", field="sum", with_labels=False)
    assert sorted((r.ts_ms, r.value) for r in psums.collect()) == [
        (1000, 7.0), (1000, 10.0), (2000, 30.0)
    ]
    pc = peng.select_series("http_req", field="count", with_labels=False)
    assert sorted((r.ts_ms, r.value) for r in pc.collect()) == [
        (1000, 2.0), (2000, 5.0)
    ]


def test_multi_field_catalog_joins_do_not_duplicate_rows(spark):
    """The catalog is one row per (metric, FIELD): any data-side join that
    only wants the metric NAME must distinct its projection or a two-field
    metric duplicates every data row (select_all_series regression)."""
    eng = MetricEngine(_mf_samples(spark))
    rows = eng.select_all_series().collect()
    # data rows: sum@a x2, count@a x2, sum@b, plain_gauge = 6 exactly
    assert len(rows) == 6
    names = {r["name"] for r in rows}
    assert names == {"http_req", "plain_gauge"}


def test_materialized_multi_field_engine_matches_declarative(spark):
    """materialized() checkpoints data/_flat with the field dimension
    intact: field selections and the __field__ PromQL path return
    identical rows on the clone."""
    eng = MetricEngine(_mf_samples(spark))
    want = sorted(
        (r.ts_ms, r.value)
        for r in eng.select_series("http_req", field="sum",
                                   with_labels=False).collect()
    )
    mat = MetricEngine(_mf_samples(spark)).materialized(metrics={"http_req"})
    got = sorted(
        (r.ts_ms, r.value)
        for r in mat.select_series("http_req", field="sum",
                                   with_labels=False).collect()
    )
    assert got == want
    both = ("sum", "count")
    assert sorted(
        map(tuple, mat.select_series("http_req", field=both).collect())
    ) == sorted(map(tuple, eng.select_series("http_req", field=both).collect()))
    q = 'sum by (host) (sum_over_time(http_req{__field__="count"}[1h]))'
    a = sorted(map(tuple, eng.promql(q, step_ms=3_600_000).collect()))
    b = sorted(map(tuple, mat.promql(q, step_ms=3_600_000).collect()))
    assert a == b and a


def test_series_label_join_is_size_aware(spark):
    """The series label join broadcasts only under a size estimate: at
    100 TB the series table of a high-cardinality store is data-sized and
    force-broadcasting it would OOM the executors. A session threshold
    of -1 must flip the plan to a shuffle join on tsid with row-equal results;
    the default (estimate well under the session threshold) must keep the
    broadcast."""
    buf = encode_write_request(
        [
            {
                "name": "m",
                "labels": {"job": f"j{i % 3}", "host": f"h{i}"},
                "samples": [(float(i), 1000 + i)],
            }
            for i in range(6)
        ]
    )
    payloads = spark.createDataFrame([(buf, 7)], "payload binary, seq long")

    def plan_of(eng):
        out = eng.select_series("m", with_labels=True)
        rows = sorted(
            (r.ts_ms, r.value, r.series_key) for r in out.collect()
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        return rows, plan.split("== Initial Plan ==")[0]

    small = MetricEngine(decode_payloads(payloads))
    rows_b, plan_b = plan_of(small)
    assert "BroadcastHashJoin" in plan_b, plan_b[:1500]

    # session auto-broadcast off (the at-100-TB condition): the engine
    # stops hinting, AQE cannot re-broadcast the tiny test table at
    # runtime, and the plan must flip to a shuffle join on tsid with
    # row-equal results
    forced = MetricEngine(decode_payloads(payloads))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        rows_s, plan_s = plan_of(forced)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" not in plan_s, plan_s[:1500]
    assert "SortMergeJoin" in plan_s or "ShuffledHashJoin" in plan_s, plan_s[:1500]
    assert rows_s == rows_b and len(rows_b) == 6
