"""HTTP control-surface tests (B3): hello / toggle / compact / manifest
against a live ColumnarTable — mirrors server/src/main.rs:59-80."""

import json
import urllib.request

import pytest

from horaedb_spark.core.timeutil import TimeRange
from horaedb_spark.server import ControlServer, WriteToggle
from horaedb_spark.storage.compaction import Compactor, SchedulerConfig
from horaedb_spark.storage.table import ColumnarTable, WriteRequest
from tests.test_storage import TWO_HOURS, kv_schema


def _get(port: int, path: str) -> dict:
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=10) as r:
        return json.loads(r.read())


def test_control_server_endpoints(spark, tmp_path):
    t = ColumnarTable(spark, str(tmp_path / "srv"), kv_schema(), TWO_HOURS)
    mk = lambda rows: spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    for i in range(3):
        t.write(WriteRequest(mk([(1, 1, i)]), TimeRange(i * 10, i * 10 + 10)))

    toggle = WriteToggle()
    srv = ControlServer(Compactor(t, SchedulerConfig(input_sst_min_num=2)), toggle)
    srv.start()
    try:
        assert _get(srv.port, "/")["hello"] == "horaedb-spark"

        # Grafana's datasource health probe
        info = _get(srv.port, "/api/v1/status/buildinfo")
        assert info["status"] == "success"
        assert info["data"]["application"] == "horaedb-spark"

        # toggle flips the writer flag both ways (main.rs:63-73)
        assert toggle.writing
        assert _get(srv.port, "/toggle") == {"writing": False}
        assert not toggle.writing
        assert _get(srv.port, "/toggle") == {"writing": True}

        before = _get(srv.port, "/manifest")
        assert before["n_ssts"] == 3

        out = _get(srv.port, "/compact")
        assert out["compacted"] and out["new_sst"] is not None
        after = _get(srv.port, "/manifest")
        assert after["n_ssts"] == 1
        assert [tuple(r) for r in t.scan().collect()] == [(1, 1, 2)]
    finally:
        srv.stop()


def test_scan_endpoint_bounded_read(spark, tmp_path):
    t = ColumnarTable(spark, str(tmp_path / "q"), kv_schema(), TWO_HOURS)
    df = spark.createDataFrame(
        [(i, i, i * 10) for i in range(5)], "pk1 long, pk2 long, value long"
    )
    t.write(WriteRequest(df, TimeRange(0, 100)))
    srv = ControlServer(Compactor(t, SchedulerConfig()))
    srv.start()
    try:
        out = _get(srv.port, "/scan?predicate=value%20%3E%3D%2020&limit=2")
        assert out["n"] == 2
        assert [r["value"] for r in out["rows"]] == [20, 30]  # PK-ordered peek
        everything = _get(srv.port, "/scan")
        assert everything["n"] == 5
        # malformed predicate is a client error, not a server crash
        import urllib.error
        try:
            _get(srv.port, "/scan?predicate=no_such_col%20%3E%201")
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.stop()


def test_query_range_endpoint_promql_over_http(spark, tmp_path):
    """The RFC's PromQL-over-HTTP contract: a query string in, the standard
    Prometheus matrix envelope out — powered by the metric/promql parser."""
    import urllib.parse

    from horaedb_spark.queries.metric_queries import _engine
    from tests.conftest import SF_DIR

    eng = _engine(spark, SF_DIR)
    t = ColumnarTable(spark, str(tmp_path / "qr"), kv_schema(), TWO_HOURS)
    srv = ControlServer(Compactor(t, SchedulerConfig()), metric_engine=eng)
    srv.start()
    try:
        q = urllib.parse.quote("sum by (cohort) (rate(click[1d]))")
        out = _get(srv.port, f"/api/v1/query_range?query={q}&step=1d")
        assert out["status"] == "success"
        assert out["data"]["resultType"] == "matrix"
        result = out["data"]["result"]
        assert result and all("cohort" in s["metric"] for s in result)
        n_points = sum(len(s["values"]) for s in result)
        assert n_points > 0
        # start/end window the matrix — response timestamps (unix seconds)
        # round-trip directly as request bounds, like Prometheus
        all_ts = sorted(
            ts for s in result for ts, _v in s["values"]
        )
        mid = all_ts[len(all_ts) // 2]
        bounded = _get(
            srv.port,
            f"/api/v1/query_range?query={q}&step=1d&start={mid}",
        )
        n_bounded = sum(len(s["values"]) for s in bounded["data"]["result"])
        assert 0 < n_bounded < n_points
        # parse errors surface as the Prometheus error envelope
        bad = urllib.parse.quote("rate(click[1d)")
        import urllib.error

        try:
            _get(srv.port, f"/api/v1/query_range?query={bad}&step=1d")
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.stop()


def test_prometheus_metadata_endpoints(spark, tmp_path):
    """Prometheus metadata API: /labels, /label/<n>/values, /series."""
    import urllib.parse

    from horaedb_spark.queries.metric_queries import _engine
    from tests.conftest import SF_DIR

    eng = _engine(spark, SF_DIR)
    t = ColumnarTable(spark, str(tmp_path / "md"), kv_schema(), TWO_HOURS)
    srv = ControlServer(Compactor(t, SchedulerConfig()), metric_engine=eng)
    srv.start()
    try:
        labels = _get(srv.port, "/api/v1/labels")
        assert labels["status"] == "success"
        assert {"__name__", "cohort", "user"} <= set(labels["data"])
        cohorts = _get(srv.port, "/api/v1/label/cohort/values")
        assert set(cohorts["data"]) == {str(i) for i in range(10)}
        names = _get(srv.port, "/api/v1/label/__name__/values")
        assert "click" in names["data"]
        m = urllib.parse.quote('click{cohort="3"}')
        series = _get(srv.port, f"/api/v1/series?match[]={m}")
        assert series["data"] and all(
            s["__name__"] == "click" and s["cohort"] == "3"
            for s in series["data"]
        )
    finally:
        srv.stop()


def test_query_range_start_end_drive_scalar_grid(spark, tmp_path):
    """start/end define the evaluation range for time()/vector()/absent()
    (the Prometheus API contract): the scalar grid must span exactly the
    requested window, not the data range."""
    import urllib.parse

    from horaedb_spark.queries.metric_queries import _engine
    from tests.conftest import SF_DIR

    DAY = 86_400_000
    eng = _engine(spark, SF_DIR)
    t = ColumnarTable(spark, str(tmp_path / "se"), kv_schema(), TWO_HOURS)
    srv = ControlServer(Compactor(t, SchedulerConfig()), metric_engine=eng)
    srv.start()
    try:
        q = urllib.parse.quote('absent(click{cohort="99"})')
        # three aligned steps: start at day 10, end at day 12 (inclusive)
        start_s, end_s = 10 * 86_400, 12 * 86_400
        out = _get(
            srv.port,
            f"/api/v1/query_range?query={q}&step=1d"
            f"&start={start_s}&end={end_s}",
        )
        assert out["status"] == "success"
        result = out["data"]["result"]
        assert len(result) == 1 and result[0]["metric"] == {"cohort": "99"}
        ts = [v[0] for v in result[0]["values"]]
        assert ts == [float(start_s), float(start_s + 86_400), float(end_s)]
        # vector(time()) reports the evaluation timestamps themselves
        tq = urllib.parse.quote("vector(time())")
        tout = _get(
            srv.port,
            f"/api/v1/query_range?query={tq}&step=1d"
            f"&start={start_s}&end={end_s}",
        )
        vals = tout["data"]["result"][0]["values"]
        assert [v[0] for v in vals] == ts
        assert all(float(v[1]) == v[0] for v in vals)
    finally:
        srv.stop()


def test_instant_query_endpoint(spark, tmp_path):
    """/api/v1/query — the Prometheus instant-query half of the read API:
    resultType 'vector', one [ts, value] pair per series, evaluated at the
    aligned step containing `time` (default: latest step with data)."""
    import urllib.parse

    from horaedb_spark.queries.metric_queries import _engine
    from tests.conftest import SF_DIR

    DAY = 86_400_000
    eng = _engine(spark, SF_DIR)
    t = ColumnarTable(spark, str(tmp_path / "iq"), kv_schema(), TWO_HOURS)
    srv = ControlServer(Compactor(t, SchedulerConfig()), metric_engine=eng)
    srv.start()
    try:
        q = urllib.parse.quote("sum by (cohort) (rate(click[1d]))")
        # the default instant is the latest aligned step, which may hold no
        # rate data (a legitimate empty vector, as in Prometheus) — find a
        # step WITH data from the matrix endpoint and pin it
        matrix = _get(srv.port, f"/api/v1/query_range?query={q}&step=1d")
        all_ts = sorted(
            ts
            for s in matrix["data"]["result"]
            for ts, _v in s["values"]
        )
        t_s = int(all_ts[len(all_ts) // 2])
        out = _get(srv.port, f"/api/v1/query?query={q}&step=1d&time={t_s}")
        assert out["status"] == "success"
        assert out["data"]["resultType"] == "vector"
        result = out["data"]["result"]
        assert result and all("cohort" in s["metric"] for s in result)
        assert {s["value"][0] for s in result} == {float(t_s)}
        # the matrix endpoint at the same instant must agree pointwise
        expect = {
            tuple(sorted(s["metric"].items())): v
            for s in matrix["data"]["result"]
            for ts, v in s["values"]
            if ts == float(t_s)
        }
        got = {
            tuple(sorted(s["metric"].items())): s["value"][1]
            for s in result
        }
        assert got == expect
        # the default (no `time`) evaluates at the single latest step
        dflt = _get(srv.port, f"/api/v1/query?query={q}&step=1d")
        assert dflt["status"] == "success"
        assert len({s["value"][0] for s in dflt["data"]["result"]}) <= 1
        # instant scalar grids evaluate at exactly that instant
        vq = urllib.parse.quote("vector(time())")
        vout = _get(
            srv.port, f"/api/v1/query?query={vq}&step=1d&time={t_s}"
        )
        vres = vout["data"]["result"]
        assert len(vres) == 1 and vres[0]["value"] == [
            float(t_s), str(float(t_s))
        ]
        # ADVICE r13: the cache keys on the STEP-ALIGNED instant, so raw
        # `time` spellings that alias to one aligned step ('100' / '100.0'
        # / '100.4' at step 1s) share one entry — the repeats below must be
        # hits (zero new computes), and mid-step offsets answer identically
        srv.query_cache_stats.update(hits=0, misses=0, computes=0)
        base = _get(srv.port, f"/api/v1/query?query={q}&step=1d&time={t_s}")
        computes_after_first = srv.query_cache_stats["computes"]
        for alias in (f"{t_s}.0", f"{float(t_s)}", f"{t_s + 1}.5"):
            again = _get(
                srv.port, f"/api/v1/query?query={q}&step=1d&time={alias}"
            )
            assert again["data"] == base["data"], alias
        assert srv.query_cache_stats["computes"] == computes_after_first
        assert srv.query_cache_stats["hits"] >= 3
    finally:
        srv.stop()


def _post(port: int, path: str, body: bytes, headers=None) -> dict:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=body, method="POST"
    )
    for k, v in (headers or {}).items():
        req.add_header(k, v)
    with urllib.request.urlopen(req, timeout=30) as r:
        return json.loads(r.read())


def test_remote_write_endpoint_full_loop(spark, tmp_path):
    """POST /api/v1/write: a WriteRequest protobuf lands in the sink table
    and the read API serves it back — the full Prometheus loop over one
    process. Re-sent samples overwrite (OVERWRITE PK merge), never
    duplicate."""
    import urllib.error
    import urllib.parse

    from horaedb_spark.metric.ingest import encode_write_request
    from horaedb_spark.metric.rules import rules_table_schema

    DAY = 86_400_000
    sink = ColumnarTable(
        spark, str(tmp_path / "rw"), rules_table_schema(), 365 * DAY
    )
    srv = ControlServer(
        Compactor(sink, SchedulerConfig()), write_table=sink
    )
    srv.start()
    try:
        series = [
            {
                "name": "cpu_seconds",
                "labels": {"host": h, "mode": "user"},
                "samples": [(float(i * 10 + ord(h[-1]) % 5), i * DAY)
                            for i in range(1, 4)],
            }
            for h in ("a1", "b2")
        ]
        payload = encode_write_request(series)
        out = _post(srv.port, "/api/v1/write", payload)
        assert out["written"] == 6 and out["ssts"]
        # the read API serves the written samples
        q = urllib.parse.quote("sum by (host) (cpu_seconds)")
        rng = _get(srv.port, f"/api/v1/query_range?query={q}&step=1d")
        result = rng["data"]["result"]
        assert {s["metric"]["host"] for s in result} == {"a1", "b2"}
        n_points = sum(len(s["values"]) for s in result)
        assert n_points == 6
        # idempotent re-send: same (series, ts) overwrites, counts hold
        out2 = _post(srv.port, "/api/v1/write", payload)
        assert out2["written"] == 6
        rng2 = _get(srv.port, f"/api/v1/query_range?query={q}&step=1d")
        assert sum(len(s["values"]) for s in rng2["data"]["result"]) == 6
        # labels endpoint sees the written label keys
        labels = _get(srv.port, "/api/v1/labels")
        assert set(labels["data"]) >= {"__name__", "host", "mode"}
        # snappy framing is refused with a clear 415
        try:
            _post(
                srv.port, "/api/v1/write", payload,
                {"Content-Encoding": "snappy"},
            )
            raise AssertionError("expected HTTP 415")
        except urllib.error.HTTPError as e:
            assert e.code == 415
        # malformed protobuf is a 400, not a server crash
        try:
            _post(srv.port, "/api/v1/write", b"\x0a\x03\xff\xff")
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.stop()

def test_rules_and_alerts_endpoints(spark, tmp_path):
    """Prometheus rules API: /api/v1/rules lists the attached definitions,
    /api/v1/alerts reports series active at the expression's LATEST step
    with pending/firing state and activeAt = run start — pinned on a
    hand-built store (host=a: 2-step run -> firing; host=b: appears only at
    the last step -> pending)."""
    from horaedb_spark.metric.engine import MetricEngine
    from horaedb_spark.metric.rules import AlertingRule, RecordingRule

    samples = spark.createDataFrame(
        [
            ("m", {"host": "a"}, 1000, 1.0, 1),
            ("m", {"host": "a"}, 2000, 2.0, 2),
            ("m", {"host": "b"}, 2000, 3.0, 3),
        ],
        "name string, labels map<string,string>, ts_ms long, "
        "value double, seq long",
    )
    rules = [
        RecordingRule("m:sum", "sum by (host) (m)", 1000),
        AlertingRule("Up", "m > 0", 1000, for_steps=2),
    ]
    t = ColumnarTable(spark, str(tmp_path / "ra"), kv_schema(), TWO_HOURS)
    srv = ControlServer(
        Compactor(t, SchedulerConfig()),
        metric_engine=MetricEngine(samples),
        rules=rules,
    )
    srv.start()

    def _get_slow(port: int, path: str) -> dict:
        # alert evaluation runs real Spark jobs; first-hit codegen can
        # exceed the 10s default client timeout
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}{path}", timeout=120
        ) as r:
            return json.loads(r.read())

    try:
        out = _get_slow(srv.port, "/api/v1/rules")
        assert out["status"] == "success"
        got = out["data"]["groups"][0]["rules"]
        assert [(r["type"], r["name"]) for r in got] == [
            ("recording", "m:sum"),
            ("alerting", "Up"),
        ]
        assert got[1]["duration"] == 2.0  # for_steps * step, seconds
        assert got[1]["query"] == "m > 0"

        alerts = _get_slow(srv.port, "/api/v1/alerts")
        assert alerts["status"] == "success"
        active = {
            a["labels"]["host"]: a for a in alerts["data"]["alerts"]
        }
        assert set(active) == {"a", "b"}
        assert all(
            a["labels"]["alertname"] == "Up" for a in active.values()
        )
        # host=a has run length 2 at now=2000 -> firing since 1000
        assert active["a"]["state"] == "firing"
        assert active["a"]["activeAt"] == 1.0
        assert float(active["a"]["value"]) == 2.0
        # host=b appeared at the last step only -> pending since 2000
        assert active["b"]["state"] == "pending"
        assert active["b"]["activeAt"] == 2.0
    finally:
        srv.stop()


def test_metadata_and_exemplars_endpoints(spark, tmp_path):
    """POST /api/v1/write retains MetricMetadata and exemplars;
    /api/v1/metadata serves family -> type/help/unit (lowercased like
    Prometheus) and /api/v1/query_exemplars selects by series matchers
    with inclusive start/end bounds."""
    import urllib.parse

    from horaedb_spark.metric.ingest import encode_write_request
    from horaedb_spark.metric.rules import rules_table_schema

    DAY = 86_400_000
    sink = ColumnarTable(
        spark, str(tmp_path / "ex"), rules_table_schema(), 365 * DAY
    )
    srv = ControlServer(Compactor(sink, SchedulerConfig()), write_table=sink)
    srv.start()
    try:
        series = [
            {
                "name": "http_requests",
                "labels": {"host": h},
                "samples": [(float(i), i * DAY) for i in range(1, 4)],
                "exemplars": [
                    {
                        "labels": {"trace_id": f"t-{h}-{i}"},
                        "value": float(i) + 0.5,
                        "ts_ms": i * DAY,
                    }
                    for i in range(1, 4)
                ],
            }
            for h in ("a", "b")
        ]
        metadata = [
            {
                "type": "COUNTER",
                "family_name": "http_requests",
                "help": "Requests served.",
                "unit": "",
            }
        ]
        out = _post(
            srv.port, "/api/v1/write", encode_write_request(series, metadata)
        )
        assert out["written"] == 6
        assert out["metadata"] == 1 and out["exemplars"] == 6

        md = _get(srv.port, "/api/v1/metadata")
        assert md["status"] == "success"
        assert md["data"] == {
            "http_requests": [
                {"type": "counter", "help": "Requests served.", "unit": ""}
            ]
        }
        assert (
            _get(srv.port, "/api/v1/metadata?metric=no_such")["data"] == {}
        )

        # selector + matcher + inclusive time bounds
        q = urllib.parse.quote('http_requests{host="a"}')
        ex = _get(
            srv.port,
            f"/api/v1/query_exemplars?query={q}"
            f"&start={1 * DAY // 1000}&end={2 * DAY // 1000}",
        )
        assert ex["status"] == "success"
        assert len(ex["data"]) == 1
        ent = ex["data"][0]
        assert ent["seriesLabels"] == {
            "__name__": "http_requests",
            "host": "a",
        }
        # end inclusive: exemplars at day 1 and day 2, not day 3
        assert [e["labels"]["trace_id"] for e in ent["exemplars"]] == [
            "t-a-1",
            "t-a-2",
        ]
        assert ent["exemplars"][0]["value"] == "1.5"

        # regex matcher spans both series
        q2 = urllib.parse.quote('http_requests{host=~"a|b"}')
        ex2 = _get(srv.port, f"/api/v1/query_exemplars?query={q2}")
        assert {
            e["seriesLabels"]["host"] for e in ex2["data"]
        } == {"a", "b"}
        assert sum(len(e["exemplars"]) for e in ex2["data"]) == 6

        # a non-selector query is a client error
        import urllib.error

        bad = urllib.parse.quote("rate(http_requests[1d])")
        try:
            _get(srv.port, f"/api/v1/query_exemplars?query={bad}")
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.stop()


def test_lookback_delta_param(spark, tmp_path):
    """Per-request lookback_delta (Prometheus HTTP API): the staleness
    window for bare instant selectors. Default (one step) sees a sample
    10s old at a 10s step; lookback_delta=2s does not."""
    import urllib.parse

    from horaedb_spark.metric.engine import MetricEngine

    samples = spark.createDataFrame(
        [("m", {"host": "a"}, 1000, 1.0, 1),
         ("m", {"host": "a"}, 20000, 2.0, 2),
         ("m", {"host": "a"}, 200000, 3.0, 3)],  # 3min gap after 20s
        "name string, labels map<string,string>, ts_ms long, "
        "value double, seq long",
    )
    t = ColumnarTable(spark, str(tmp_path / "lb"), kv_schema(), TWO_HOURS)
    srv = ControlServer(
        Compactor(t, SchedulerConfig()), metric_engine=MetricEngine(samples)
    )
    srv.start()

    def _get_slow(path: str) -> dict:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}{path}", timeout=120
        ) as r:
            return json.loads(r.read())

    try:
        q = urllib.parse.quote("m")
        # sub-5m grid default = Prometheus's 5m staleness: the ts=1000
        # sample is well inside the window at the time=10s grid point
        base = _get_slow(f"/api/v1/query?query={q}&step=10s&time=10")
        assert len(base["data"]["result"]) == 1
        assert base["data"]["result"][0]["value"][1] == "1.0"
        # THE 5m-default pin (DIVERGENCES #24a): at time=60s the freshest
        # sample (ts=20000, value 2.0) is 40s stale — outside a one-step
        # (10s) window, inside Prometheus's 5m. A Prometheus user must
        # see it.
        stale = _get_slow(f"/api/v1/query?query={q}&step=10s&time=60")
        assert len(stale["data"]["result"]) == 1
        assert stale["data"]["result"][0]["value"][1] == "2.0"
        # coarse grids (step >= 5m) keep the engine's one-step default —
        # pinned at the helper since the tiny fixture spans < one step
        from horaedb_spark.server import _lookback_ms

        assert _lookback_ms(None, 10_000) == 300_000
        assert _lookback_ms(None, 300_000) is None
        assert _lookback_ms(None, 86_400_000) is None
        assert _lookback_ms("2s", 86_400_000) == 2000
        assert _lookback_ms("2", 10_000) == 2000
        # strict 2s staleness: (8000, 10000] is empty
        tight = _get_slow(
            f"/api/v1/query?query={q}&step=10s&time=10&lookback_delta=2s"
        )
        assert tight["data"]["result"] == []
        # numeric seconds are accepted too, like start/end
        tight2 = _get_slow(
            f"/api/v1/query?query={q}&step=10s&time=10&lookback_delta=2"
        )
        assert tight2["data"]["result"] == []
        # query_range takes the same param
        rng = _get_slow(
            f"/api/v1/query_range?query={q}&step=10s&lookback_delta=2s"
        )
        pts = [v for s in rng["data"]["result"] for v in s["values"]]
        # only the exactly-landing samples survive a 2s window
        assert pts == [[20.0, "2.0"], [200.0, "3.0"]]
        # query_range default on the sparse fixture: grid points in the
        # 3-minute data gap carry the last sample forward under the 5m
        # default — the "first query_range against sparse data"
        # Prometheus shape that used to silently return gaps
        rng2 = _get_slow(f"/api/v1/query_range?query={q}&step=10s")
        pts2 = [v for s in rng2["data"]["result"] for v in s["values"]]
        assert [10.0, "1.0"] in pts2 and [20.0, "2.0"] in pts2
        assert [60.0, "2.0"] in pts2  # 40s stale, inside the 5m default
        assert [190.0, "2.0"] in pts2  # 170s stale, still inside
        assert [200.0, "3.0"] in pts2
    finally:
        srv.stop()


def test_federate_endpoint_text_exposition(spark, tmp_path):
    """GET /federate?match[]=selector: each matching series' LATEST sample
    in the Prometheus text exposition format (name{labels} value ts_ms) —
    the scrape surface another Prometheus federates from."""
    import urllib.parse

    from horaedb_spark.metric.engine import MetricEngine

    samples = spark.createDataFrame(
        [("m", {"host": "a"}, 1000, 1.0, 1),
         ("m", {"host": "a"}, 2000, 2.5, 2),
         ("m", {"host": "b"}, 1500, 7.0, 3),
         ("other", {"host": "a"}, 9000, 9.0, 4)],
        "name string, labels map<string,string>, ts_ms long, "
        "value double, seq long",
    )
    t = ColumnarTable(spark, str(tmp_path / "fed"), kv_schema(), TWO_HOURS)
    srv = ControlServer(
        Compactor(t, SchedulerConfig()), metric_engine=MetricEngine(samples)
    )
    srv.start()
    try:
        sel = urllib.parse.quote('m{host=~"a|b"}')
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/federate?match[]={sel}", timeout=120
        ) as r:
            assert r.headers["Content-Type"].startswith("text/plain")
            body = r.read().decode()
        assert body.splitlines() == [
            'm{host="a"} 2.5 2000',   # latest sample per series, own ts
            'm{host="b"} 7.0 1500',
        ]
        # matcher narrows; unknown selector form is a client error
        sel2 = urllib.parse.quote('m{host="b"}')
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/federate?match[]={sel2}", timeout=120
        ) as r:
            assert r.read().decode().splitlines() == ['m{host="b"} 7.0 1500']
        import urllib.error

        bad = urllib.parse.quote("rate(m[1m])")
        try:
            urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/federate?match[]={bad}",
                timeout=120,
            )
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.stop()


def test_tsdb_status_cardinality_stats(spark, tmp_path):
    """GET /api/v1/status/tsdb: series/label-pair counts and the top
    cardinality offenders, all metadata-grain aggregates."""
    from horaedb_spark.metric.engine import MetricEngine

    samples = spark.createDataFrame(
        [("m", {"host": "a"}, 1000, 1.0, 1),
         ("m", {"host": "b"}, 1000, 2.0, 2),
         ("m", {"host": "c"}, 1000, 3.0, 3),
         ("other", {"host": "a"}, 1000, 4.0, 4)],
        "name string, labels map<string,string>, ts_ms long, "
        "value double, seq long",
    )
    t = ColumnarTable(spark, str(tmp_path / "ts"), kv_schema(), TWO_HOURS)
    srv = ControlServer(
        Compactor(t, SchedulerConfig()), metric_engine=MetricEngine(samples)
    )
    srv.start()

    def _get_slow(path: str) -> dict:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}{path}", timeout=120
        ) as r:
            return json.loads(r.read())

    try:
        out = _get_slow("/api/v1/status/tsdb")
        assert out["status"] == "success"
        d = out["data"]
        assert d["headStats"]["numSeries"] == 4
        assert d["headStats"]["numLabelPairs"] == 3  # host in {a,b,c}
        assert d["seriesCountByMetricName"] == [
            {"name": "m", "value": 3},
            {"name": "other", "value": 1},
        ]
        assert d["labelValueCountByLabelName"] == [
            {"name": "host", "value": 3}
        ]
    finally:
        srv.stop()


def test_post_form_query_endpoints(spark, tmp_path):
    """Prometheus clients POST the query endpoints with form-encoded
    bodies when the query string is long (Grafana does); parameters merge
    with any URL query string and delegate to the GET handling."""
    import urllib.parse

    from horaedb_spark.metric.engine import MetricEngine

    samples = spark.createDataFrame(
        [("m", {"host": "a"}, 1000, 1.0, 1),
         ("m", {"host": "a"}, 2000, 2.0, 2)],
        "name string, labels map<string,string>, ts_ms long, "
        "value double, seq long",
    )
    t = ColumnarTable(spark, str(tmp_path / "pf"), kv_schema(), TWO_HOURS)
    srv = ControlServer(
        Compactor(t, SchedulerConfig()), metric_engine=MetricEngine(samples)
    )
    srv.start()
    try:
        body = urllib.parse.urlencode(
            {"query": "sum by (host) (m)", "step": "1s"}
        ).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/api/v1/query_range",
            data=body,
            headers={"Content-Type": "application/x-www-form-urlencoded"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            out = json.loads(r.read())
        assert out["status"] == "success"
        pts = [v for s in out["data"]["result"] for v in s["values"]]
        assert pts == [[1.0, "1.0"], [2.0, "2.0"]]
        # URL query string and body merge (step from URL, query in body)
        req2 = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/api/v1/query?step=1s",
            data=urllib.parse.urlencode({"query": "m", "time": "2"}).encode(),
            method="POST",
        )
        with urllib.request.urlopen(req2, timeout=120) as r:
            out2 = json.loads(r.read())
        assert out2["data"]["result"][0]["value"] == [2.0, "2.0"]
    finally:
        srv.stop()


def test_fields_endpoint_lists_multi_field_catalog(spark, tmp_path):
    """/api/v1/fields?metric= serves the multi-field catalog rows
    (RFC:106-113) and the __field__ matcher works through query_range —
    the HTTP face of the multi-field feature."""
    import urllib.parse

    from horaedb_spark.metric.engine import MetricEngine
    from horaedb_spark.metric.ingest import group_metric_families

    samples = spark.createDataFrame(
        [
            ("http_req_sum", {"host": "a"}, 1_000, 10.0, 1),
            ("http_req_count", {"host": "a"}, 1_000, 2.0, 2),
            ("http_req_sum", {"host": "a"}, 3_601_000, 30.0, 3),
            ("http_req_count", {"host": "a"}, 3_601_000, 5.0, 4),
        ],
        "name string, labels map<string,string>, ts_ms long, value double, seq long",
    )
    eng = MetricEngine(group_metric_families(samples))
    t = ColumnarTable(spark, str(tmp_path / "ff"), kv_schema(), TWO_HOURS)
    srv = ControlServer(Compactor(t, SchedulerConfig()), metric_engine=eng)
    srv.start()
    try:
        out = _get(srv.port, "/api/v1/fields?metric=http_req")
        assert out["status"] == "success"
        assert out["data"] == [
            {"name": "count", "type": "f64"},
            {"name": "sum", "type": "f64"},
        ]
        import urllib.error

        try:
            _get(srv.port, "/api/v1/fields")
            raise AssertionError("missing metric param must 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        q = urllib.parse.quote(
            'sum by (host) (sum_over_time(http_req{__field__="sum"}[1h]))'
        )
        qr = _get(srv.port, f"/api/v1/query_range?query={q}&step=1h")
        vals = sorted(
            float(v) for s in qr["data"]["result"] for _t, v in s["values"]
        )
        assert vals == [10.0, 30.0]
    finally:
        srv.stop()


def test_query_range_serves_from_bucketed_mirror(spark, tmp_path):
    """VERDICT r10 task 4: the PromQL HTTP surface end-to-end over a
    MIRROR-backed store (MetricStore(data_buckets=N)). The mirror is a
    layout decision, so /api/v1/query_range responses must be BYTE-equal
    to the merge-on-read engine's — same matrix envelope, same value
    formatting, same series order (the handler orders by series_key and
    sorts the dict, so equality is well-defined). Also pins that the
    served data plan really is the mirror (no per-query dedup Window)."""
    import urllib.parse

    from pyspark.sql import functions as F

    from horaedb_spark.metric.store import MetricStore

    DAY = 86_400_000
    store = MetricStore(
        spark, str(tmp_path / "ms"), 15 * DAY, data_buckets=4
    )
    base = 1_704_067_200_000  # 2024-01-01
    samples = spark.range(120).select(
        F.when(F.col("id") % 2 == 0, "click").otherwise("view").alias("name"),
        F.create_map(
            F.lit("host"), F.concat(F.lit("h"), (F.col("id") % 3).cast("string"))
        ).alias("labels"),
        (F.lit(base) + (F.col("id") / 2).cast("long") * (DAY // 4)).alias("ts_ms"),
        (F.col("id") % 7).cast("double").alias("value"),
        F.col("id").alias("seq"),
    )
    store.ingest(samples)
    # duplicate ingest at higher seq: merge-on-read AND the mirror refresh
    # must both resolve to the later write, or the two paths diverge
    store.ingest(samples.withColumn("value", F.col("value") + 100).withColumn(
        "seq", F.col("seq") + 1000
    ))

    eng_mirror = store.engine()
    plan = eng_mirror.data._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan[:1500]
    eng_plain = store.engine(from_mirror=False)

    t = ColumnarTable(spark, str(tmp_path / "dummy"), kv_schema(), TWO_HOURS)
    srv_m = ControlServer(Compactor(t, SchedulerConfig()), metric_engine=eng_mirror)
    srv_p = ControlServer(Compactor(t, SchedulerConfig()), metric_engine=eng_plain)
    srv_m.start()
    srv_p.start()
    try:
        for q in (
            "sum by (host) (rate(click[1d]))",
            'view{host="h1"}',
        ):
            path = f"/api/v1/query_range?query={urllib.parse.quote(q)}&step=6h"
            raw_m = urllib.request.urlopen(
                f"http://127.0.0.1:{srv_m.port}{path}", timeout=30
            ).read()
            raw_p = urllib.request.urlopen(
                f"http://127.0.0.1:{srv_p.port}{path}", timeout=30
            ).read()
            assert raw_m == raw_p, (q, raw_m[:300], raw_p[:300])
            body = json.loads(raw_m)
            assert body["status"] == "success"
            assert body["data"]["result"], q
            # the duplicate-ingest values (+100, higher seq) won: both
            # paths resolved dedup identically, not just consistently
            if q.startswith("view"):
                vals = [float(v) for _ts, v in body["data"]["result"][0]["values"]]
                assert all(v >= 100 for v in vals), vals
    finally:
        srv_m.stop()
        srv_p.stop()


def test_scan_endpoint_concurrency_gate(spark, tmp_path):
    """/scan is bounded per request (1000-row cap) AND per server: excess
    concurrent peeks get 429 instead of stacking collect jobs behind the
    thread pool query_range shares."""
    t = ColumnarTable(spark, str(tmp_path / "gate"), kv_schema(), TWO_HOURS)
    mk = lambda rows: spark.createDataFrame(rows, "pk1 long, pk2 long, value long")
    t.write(WriteRequest(mk([(1, 1, 1)]), TimeRange(0, 10)))
    srv = ControlServer(Compactor(t, SchedulerConfig()))
    srv.start()
    try:
        assert _get(srv.port, "/scan?limit=5")["n"] == 1
        # exhaust the gate, then the next request must 429 — and release
        # restores service
        for _ in range(4):
            assert srv._scan_gate.acquire(blocking=False)
        import urllib.error

        try:
            _get(srv.port, "/scan?limit=5")
            raise AssertionError("expected HTTP 429")
        except urllib.error.HTTPError as e:
            assert e.code == 429
        for _ in range(4):
            srv._scan_gate.release()
        assert _get(srv.port, "/scan?limit=5")["n"] == 1
    finally:
        srv.stop()


def test_query_range_cache_repeats_and_invalidates_on_ingest(spark, tmp_path):
    """VERDICT r11 task 4: the query_range response cache. A repeated
    request is served from the LRU (no recompile, no collect) BYTE-equal
    to both its first computation and a cache-disabled server's response;
    an ingest bumps the sink manifest's mutation counter, which is part of
    the cache key, so the next request recomputes and reflects the write
    (invalidation-on-ingest, never by clock)."""
    from horaedb_spark.metric.rules import rules_table_schema

    DAY = 86_400_000
    sink = ColumnarTable(
        spark, str(tmp_path / "qc"), rules_table_schema(), 365 * DAY
    )
    mk = lambda rows: spark.createDataFrame(
        rows, "name string, series_key string, ts_ms long, value double"
    )
    sink.write(
        WriteRequest(
            mk([("click", "host=a", i * DAY, float(i)) for i in (1, 2, 3)]),
            TimeRange(0, 365 * DAY),
        )
    )
    srv = ControlServer(Compactor(sink, SchedulerConfig()), write_table=sink)
    srv_nc = ControlServer(
        Compactor(sink, SchedulerConfig()), write_table=sink, query_cache_size=0
    )
    srv.start()
    srv_nc.start()
    path = "/api/v1/query_range?query=click&step=1d"
    try:
        fetch = lambda s: urllib.request.urlopen(
            f"http://127.0.0.1:{s.port}{path}", timeout=60
        ).read()
        r1 = fetch(srv)
        assert srv.query_cache_stats == {"hits": 0, "misses": 1, "computes": 1}
        r2 = fetch(srv)
        assert srv.query_cache_stats == {"hits": 1, "misses": 1, "computes": 1}
        assert r2 == r1  # hit is byte-equal to the miss that populated it
        assert fetch(srv_nc) == r1  # and to an uncached server's compute
        assert srv_nc.query_cache_stats["hits"] == 0 and srv_nc.query_cache_stats["misses"] == 0

        # OVERWRITE the ts=1d point (same PK, last write wins): the sink
        # manifest mutation counter bumps, so the cached entry's key no
        # longer matches — next request recomputes and serves the new value
        sink.write(
            WriteRequest(
                mk([("click", "host=a", DAY, 101.0)]), TimeRange(0, 365 * DAY)
            )
        )
        r3 = fetch(srv)
        assert srv.query_cache_stats == {"hits": 1, "misses": 2, "computes": 2}
        assert r3 != r1
        vals = {
            float(v)
            for s in json.loads(r3)["data"]["result"]
            for _ts, v in s["values"]
        }
        assert 101.0 in vals and 1.0 not in vals, vals
        # and the new version is itself cacheable
        assert fetch(srv) == r3
        assert srv.query_cache_stats == {"hits": 2, "misses": 2, "computes": 2}

        # INSTANT endpoint shares the cache (keyed on the raw time param,
        # so the default latest-step lookup job is skipped on a hit too)
        ipath = "/api/v1/query?query=click&step=1d"
        gi = lambda s: urllib.request.urlopen(
            f"http://127.0.0.1:{s.port}{ipath}", timeout=60
        ).read()
        i1 = gi(srv)
        assert srv.query_cache_stats == {"hits": 2, "misses": 3, "computes": 3}
        assert gi(srv) == i1
        assert srv.query_cache_stats == {"hits": 3, "misses": 3, "computes": 3}
        assert gi(srv_nc) == i1  # byte-equal to uncached compute
    finally:
        srv.stop()
        srv_nc.stop()


def test_query_cache_concurrent_requests(spark, tmp_path):
    """The response cache is shared across the server's request threads:
    a burst of concurrent repeated queries (the dashboard refresh shape)
    must all succeed with byte-identical bodies — no torn LRU state, no
    partially-cached payloads."""
    import concurrent.futures

    from horaedb_spark.metric.rules import rules_table_schema

    DAY = 86_400_000
    sink = ColumnarTable(
        spark, str(tmp_path / "qcc"), rules_table_schema(), 365 * DAY
    )
    rows = spark.createDataFrame(
        [("click", f"host=h{i % 3}", (i + 1) * DAY, float(i)) for i in range(9)],
        "name string, series_key string, ts_ms long, value double",
    )
    sink.write(WriteRequest(rows, TimeRange(0, 365 * DAY)))
    srv = ControlServer(Compactor(sink, SchedulerConfig()), write_table=sink)
    srv.start()
    try:
        paths = [
            "/api/v1/query_range?query=click&step=1d",
            "/api/v1/query?query=click&step=1d",
        ]

        def fetch(i):
            p = paths[i % 2]
            return p, urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}{p}", timeout=120
            ).read()

        with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
            got = list(ex.map(fetch, range(24)))
        by_path: dict = {}
        for p, body in got:
            by_path.setdefault(p, set()).add(body)
        assert all(len(v) == 1 for v in by_path.values()), {
            p: len(v) for p, v in by_path.items()
        }
        stats = srv.query_cache_stats
        # single-flight: one Spark compute per (path, store version) no
        # matter how the 24 concurrent requests raced the cold cache
        assert stats["computes"] == 2, stats
        assert stats["hits"] + stats["misses"] == 24, stats
    finally:
        srv.stop()


def test_query_cache_invalidates_on_cross_instance_ingest(spark, tmp_path):
    """Review r12: the serving version used to read only the server-side
    table handle's LOCAL mutation counters, so a write from a DIFFERENT
    instance over the same root (the multi-writer deployment the storage
    layer explicitly supports) never invalidated cached responses — stale
    forever, since invalidation is by key. The version now also carries
    the durable-log token (latest snapshot/delta names, memoized ≤1s):
    cross-instance writes surface within a second."""
    import time as _time

    from horaedb_spark.metric.rules import rules_table_schema

    DAY = 86_400_000
    root = str(tmp_path / "xinst")
    a = ColumnarTable(spark, root, rules_table_schema(), 365 * DAY)
    mk = lambda rows: spark.createDataFrame(
        rows, "name string, series_key string, ts_ms long, value double"
    )
    a.write(WriteRequest(mk([("click", "host=a", DAY, 1.0)]),
                         TimeRange(0, 365 * DAY)))
    srv = ControlServer(Compactor(a, SchedulerConfig()), write_table=a)
    srv.start()
    path = "/api/v1/query_range?query=click&step=1d"
    try:
        fetch = lambda: urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}{path}", timeout=60
        ).read()
        r1 = fetch()
        assert fetch() == r1 and srv.query_cache_stats["hits"] == 1

        # a SECOND instance over the same root overwrites the sample; the
        # server handle's local counters never move
        b = ColumnarTable(spark, root, rules_table_schema(), 365 * DAY)
        b.write(WriteRequest(mk([("click", "host=a", DAY, 101.0)]),
                             TimeRange(0, 365 * DAY)))
        _time.sleep(1.1)  # let the durable-token memo age out
        r3 = fetch()
        assert r3 != r1
        vals = {
            float(v)
            for s in json.loads(r3)["data"]["result"]
            for _ts, v in s["values"]
        }
        assert vals == {101.0}, vals
    finally:
        srv.stop()


@pytest.mark.parametrize("method", ["GET", "POST"])
@pytest.mark.parametrize("path", ["/api/v1/query", "/api/v1/query_range"])
def test_query_endpoints_bad_params_and_step_seconds(spark, tmp_path, path, method):
    """Both PromQL endpoints, over GET and over a POST form body, share one
    request path: bad parameters get a 400 JSON error and an execution
    failure (the group_left cardinality guard) a 422 with errorType
    "execution" — never a dropped connection. A bare or float step is
    seconds, as in Prometheus."""
    import urllib.error
    import urllib.parse

    from horaedb_spark.metric.engine import MetricEngine

    samples = spark.createDataFrame(
        [("a", {"host": "x"}, 60_000, 1.0, 1),
         ("a", {"host": "x"}, 120_000, 2.0, 2),
         # two `b` series share host=x: a duplicate match group on the
         # one side of `a / on(host) group_left b`
         ("b", {"host": "x", "cpu": "0"}, 60_000, 4.0, 3),
         ("b", {"host": "x", "cpu": "0"}, 120_000, 4.0, 4),
         ("b", {"host": "x", "cpu": "1"}, 60_000, 8.0, 5),
         ("b", {"host": "x", "cpu": "1"}, 120_000, 8.0, 6)],
        "name string, labels map<string,string>, ts_ms long, "
        "value double, seq long",
    )
    t = ColumnarTable(spark, str(tmp_path / "bp"), kv_schema(), TWO_HOURS)
    # cache off: every request below computes, so equal payloads come from
    # equal parses, not from one cache entry
    srv = ControlServer(
        Compactor(t, SchedulerConfig()),
        metric_engine=MetricEngine(samples),
        query_cache_size=0,
    )
    srv.start()

    def call(**params):
        if path == "/api/v1/query":
            params.setdefault("time", "150")  # mid-step at a 1m step
        form = urllib.parse.urlencode(params)
        url = f"http://127.0.0.1:{srv.port}{path}"
        if method == "GET":
            req = urllib.request.Request(f"{url}?{form}")
        else:
            req = urllib.request.Request(url, data=form.encode(), method="POST")
        try:
            with urllib.request.urlopen(req, timeout=120) as r:
                return r.status, r.read()
        except urllib.error.HTTPError as e:
            return e.code, e.read()

    try:
        for params, status, error_type in [
            ({"query": "a", "step": "0"}, 400, "bad_data"),
            ({"query": "a", "step": "-1s"}, 400, "bad_data"),
            ({"query": "a", "step": "1m", "limit": "-1"}, 400, "bad_data"),
            ({"step": "1m"}, 400, "bad_data"),
            ({"query": "a / on(host) group_left b", "step": "1m"}, 422,
             "execution"),
        ]:
            code, body = call(**params)
            assert code == status, (params, code, body[:300])
            out = json.loads(body)
            assert out["status"] == "error", out
            assert out["errorType"] == error_type, out
        code, by_seconds = call(query="a", step="60")
        assert code == 200
        assert by_seconds == call(query="a", step="1m")[1]
        assert json.loads(by_seconds)["data"]["result"]
        assert call(query="a", step="1.5")[1] == call(query="a", step="1500ms")[1]
    finally:
        srv.stop()
