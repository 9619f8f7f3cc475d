"""PromQL function goldens — hand-computed expectations (SURVEY.md §7.3(b):
'rate/counter-reset semantics are fiddly; define and test against
hand-computed goldens')."""

import pytest
from pyspark.sql import functions as F

from horaedb_spark.functions import promql

# one series "s", buckets of 10_000 ms
ROWS = [
    # (series, ts_ms, value)
    ("s", 1_000, 10.0),
    ("s", 4_000, 16.0),
    ("s", 9_000, 22.0),   # bucket 0: first=10@1s, last=22@9s
    ("s", 11_000, 5.0),
    ("s", 14_000, 2.0),   # bucket 10000: values fall (gauge down / counter reset)
    ("s", 19_000, 8.0),
    ("s", 21_000, 100.0),  # bucket 20000: single sample -> no rate
]


@pytest.fixture(scope="module")
def samples(spark):
    return spark.createDataFrame(ROWS, "series string, ts_ms long, value double")


def _by_bucket(df, col):
    return {r["bucket_ms"]: r[col] for r in df.collect()}


def test_rate_golden(samples):
    out = _by_bucket(promql.rate(samples, ["series"], 10_000), "rate_per_s")
    # bucket 0: (22-10)/((9000-1000)/1000) = 12/8 = 1.5
    assert out[0] == pytest.approx(1.5)
    # bucket 10000: (8-5)/8s = 0.375
    assert out[10_000] == pytest.approx(0.375)
    assert 20_000 not in out  # single sample


def test_delta_golden(samples):
    out = _by_bucket(promql.delta(samples, ["series"], 10_000), "delta")
    assert out[0] == pytest.approx(12.0)
    assert out[10_000] == pytest.approx(3.0)


def test_increase_with_reset_golden(samples):
    out = _by_bucket(promql.increase(samples, ["series"], 10_000), "increase")
    # bucket 0: diffs 6 + 6 = 12 (no resets)
    assert out[0] == pytest.approx(12.0)
    # bucket 10000: 5 -> 2 is a reset (contributes 2), 2 -> 8 adds 6 => 8
    assert out[10_000] == pytest.approx(8.0)


def test_irate_and_idelta_golden(samples):
    ir = _by_bucket(promql.irate(samples, ["series"], 10_000), "irate_per_s")
    # bucket 0: last two samples 16@4s, 22@9s -> 6/5 = 1.2
    assert ir[0] == pytest.approx(1.2)
    idl = _by_bucket(promql.idelta(samples, ["series"], 10_000), "idelta")
    assert idl[0] == pytest.approx(6.0)
    assert idl[10_000] == pytest.approx(6.0)  # 2 -> 8


def test_time_bucket_alignment(spark):
    df = spark.createDataFrame([(0,), (9_999,), (10_000,), (-1,)], "ts_ms long")
    got = [r[0] for r in df.select(promql.time_bucket("ts_ms", 10_000)).collect()]
    # epoch-aligned FLOOR (truncate_by semantics): -1 belongs to bucket -10000
    assert got == [0, 0, 10_000, -10_000]


def test_aggregate_by_golden(samples):
    out = promql.aggregate_by(
        samples, ["series"], 10_000, {"s": "sum", "a": "avg", "m": "max", "n": "count"}
    )
    r = {row["bucket_ms"]: row for row in out.collect()}
    assert r[0]["s"] == pytest.approx(48.0)
    assert r[0]["a"] == pytest.approx(16.0)
    assert r[0]["m"] == pytest.approx(22.0)
    assert r[0]["n"] == 3


def test_dedup_samples_d10(spark):
    df = spark.createDataFrame(
        [("s", 1000, 1.0, 1), ("s", 1000, 2.0, 2), ("s", 2000, 3.0, 1)],
        "series string, ts_ms long, value double, seq long",
    )
    out = promql.dedup_samples(df, ["series"], "seq")
    got = {(r.ts_ms): r.value for r in out.collect()}
    assert got == {1000: 2.0, 2000: 3.0}  # max seq wins on equal ts


def test_histogram_quantile_goldens(spark):
    """Hand-computed PromQL interpolation cases: mid-bucket interpolation,
    +Inf fallback to the largest finite le, and first-bucket lower bound 0."""
    from horaedb_spark.functions.promql import histogram_quantile

    rows = [
        ("m", 1.0, 2),
        ("m", 2.0, 5),
        ("m", 4.0, 8),
        ("m", float("inf"), 10),
    ]
    buckets = spark.createDataFrame(rows, "name string, le double, bucket_count long")
    # q=0.5: rank=5 -> bucket le=2 (count 5), interp 1 + 1*(5-2)/(5-2) = 2.0
    q50 = {r["name"]: r["quantile_value"] for r in histogram_quantile(buckets, ["name"], 0.5).collect()}
    assert q50 == {"m": 2.0}
    # q=0.9: rank=9 -> +Inf bucket -> largest finite le = 4.0
    q90 = {r["name"]: r["quantile_value"] for r in histogram_quantile(buckets, ["name"], 0.9).collect()}
    assert q90 == {"m": 4.0}
    # q=0.1: rank=1 -> first bucket, lower bound 0: 0 + 1*(1-0)/(2-0) = 0.5
    q10 = {r["name"]: r["quantile_value"] for r in histogram_quantile(buckets, ["name"], 0.1).collect()}
    assert q10 == {"m": 0.5}


def test_instant_vector_staleness_golden(spark):
    """A step t serves a series' latest sample with ts in (t - lookback, t].
    Data range [3,18] yields one aligned step (10). With lookback=5, 'a''s
    sample at ts=3 is stale for step 10 (3 <= 10-5) and 'b' has nothing at or
    before 10, so the result is empty; widening lookback to 8 admits ts=3."""
    from horaedb_spark.functions.promql import instant_vector

    rows = [("a", 3, 1.0), ("a", 12, 2.0), ("b", 18, 7.0)]
    df = spark.createDataFrame(rows, "sid string, ts_ms long, value double")
    out = {
        (r["sid"], r["step_ms"]): r["value"]
        for r in instant_vector(df, ["sid"], 10, 5).collect()
    }
    # data range [3,18] -> steps 10. For step 10: 'a' latest sample <=10 is
    # ts=3, but 3 <= 10-5 -> stale, excluded. 'b' has no sample <=10.
    assert out == {}
    # widen lookback to 8: step 10 serves a's ts=3 (3 > 10-8)
    out2 = {
        (r["sid"], r["step_ms"]): r["value"]
        for r in instant_vector(df, ["sid"], 10, 8).collect()
    }
    assert out2 == {("a", 10): 1.0}


def test_fill_linear_golden(spark):
    """Samples (ts=0,v=10) and (ts=20,v=30), step=10: step 0 hits the sample
    (10.0), step 10 interpolates midway (20.0), step 20 has no *following*
    sample so it is outside the interior and emits nothing."""
    from horaedb_spark.functions.promql import fill_linear

    df = spark.createDataFrame(
        [("x", 0, 10.0), ("x", 20, 30.0)], "sid string, ts_ms long, value double"
    )
    out = {
        (r["sid"], r["step_ms"]): r["value"]
        for r in fill_linear(df, ["sid"], 10).collect()
    }
    assert out == {("x", 0): 10.0, ("x", 10): 20.0}


def test_instant_and_fill_randomized_model_check(spark):
    """Model check: 40 random series (fixed seed, some null values), one
    Spark call per operator and evaluation window, expectations computed by
    a direct Python model — catches boundary cases the goldens don't (steps
    at samples, gaps > lookback, single-sample series, null carries, and
    windows that start before the first sample, end past the frame's last
    sample, or hold one step)."""
    import random

    from horaedb_spark.functions.promql import fill_linear, instant_vector

    rng = random.Random(20260813)
    STEP, LOOKBACK = 100, 70
    rows = []
    for s in range(40):
        n = rng.randint(1, 12)
        tss = sorted(rng.sample(range(0, 1500), n))
        for t in tss:
            v = None if rng.random() < 0.15 else round(rng.uniform(-50, 50), 3)
            rows.append((f"s{s}", t, v))
    # inside the lookback of step 1500, which lies past the frame's last
    # sample: the grid's end, not the lookback, must drop it
    rows.append(("edge", 1460, 1.0))
    df = spark.createDataFrame(rows, "sid string, ts_ms long, value double")

    by_series = {}
    for sid, t, v in rows:
        by_series.setdefault(sid, []).append((t, v))

    # python model over the frame's global step grid
    mn = min(t for _, t, _ in rows)
    mx = max(t for _, t, _ in rows)
    grid = range(-(-mn // STEP) * STEP, (mx // STEP) * STEP + 1, STEP)
    assert grid[-1] < 1500  # the edge case above is live

    def non_null(pts):
        return [v for _, v in pts if v is not None]

    def model_instant(lo=None, hi=None):
        """(sid, t) -> (value, sample_ts); a bounded call reads only the
        samples in (lo - lookback, hi] and emits only steps in [lo, hi]."""
        out = {}
        for sid, pts in by_series.items():
            if lo is not None:
                pts = [(t, v) for t, v in pts if lo - LOOKBACK < t <= hi]
            for t in grid:
                if lo is not None and not lo <= t <= hi:
                    continue
                prev = [(ts, v) for ts, v in pts if ts <= t]
                if prev and prev[-1][0] > t - LOOKBACK:
                    carried = non_null(prev)
                    out[(sid, t)] = (carried[-1] if carried else None, prev[-1][0])
        return out

    # unbounded; a window starting before the first sample; one ending past
    # the frame's last sample; one-step windows inside and past the grid; an
    # interior window (its first steps lose pre-window null carries)
    windows = [(None, None), (-300, 400), (1000, 1800), (700, 700),
               (1500, 1500), (300, 900)]
    for lo, hi in windows:
        bounds = {} if lo is None else {"start_ms": lo, "end_ms": hi}
        got = {
            (r["sid"], r["step_ms"]): (r["value"], r["sample_ts"])
            for r in instant_vector(
                df, ["sid"], STEP, LOOKBACK, with_sample_ts=True, **bounds
            ).collect()
        }
        assert got == model_instant(lo, hi), (lo, hi)
    plain = {
        (r["sid"], r["step_ms"]): r["value"]
        for r in instant_vector(df, ["sid"], STEP, LOOKBACK).collect()
    }
    assert plain == {k: v for k, (v, _) in model_instant().items()}

    exp_fill = {}
    for sid, pts in by_series.items():
        for t in grid:
            prev = [(ts, v) for ts, v in pts if ts <= t]
            after = [(ts, v) for ts, v in pts if ts > t]
            if prev and after:
                (pt, _), (nt, _) = prev[-1], after[0]
                pv, nv = non_null(prev), non_null(after)
                exp_fill[(sid, t)] = (
                    pv[-1] + (nv[0] - pv[-1]) * ((t - pt) / (nt - pt))
                    if pv and nv
                    else None
                )
    got_fill = {
        (r["sid"], r["step_ms"]): r["value"]
        for r in fill_linear(df, ["sid"], STEP).collect()
    }
    assert set(got_fill) == set(exp_fill)
    for k, want in exp_fill.items():
        if want is None:
            assert got_fill[k] is None, k
        else:
            assert abs(got_fill[k] - want) < 1e-9, (k, got_fill[k], want)


def test_transition_counts_golden(spark):
    from horaedb_spark.functions.promql import transition_counts

    rows = [
        # series a, bucket 0: 5 -> 3 (reset+change) -> 3 (no change) -> 7 (change)
        ("a", 1, 5.0), ("a", 2, 3.0), ("a", 3, 3.0), ("a", 4, 7.0),
        # series b, bucket 0: single sample -> no output
        ("b", 1, 1.0),
        # series a, bucket 10: 2 -> 1 -> 9
        ("a", 11, 2.0), ("a", 12, 1.0), ("a", 13, 9.0),
    ]
    df = spark.createDataFrame(rows, "sid string, ts_ms long, value double")
    out = {
        (r["sid"], r["bucket_ms"]): (r["resets"], r["changes"])
        for r in transition_counts(df, ["sid"], 10).collect()
    }
    assert out == {("a", 0): (1, 2), ("a", 10): (1, 2)}


def test_quantile_and_stddev_over_time_golden(spark):
    import statistics

    from horaedb_spark.functions.promql import quantile_over_time, stddev_over_time

    vals = [1.25, 2.5, 2.5, 10.0, 4.75]
    rows = [("a", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "sid string, ts_ms long, value double")

    got_q = quantile_over_time(df, ["sid"], 100, 0.5).collect()[0]
    assert got_q["quantile_over_time"] == statistics.median(vals)

    got_s = stddev_over_time(df, ["sid"], 100).collect()[0]
    assert abs(got_s["stdvar_over_time"] - statistics.pvariance(vals)) < 1e-9
    assert abs(got_s["stddev_over_time"] - statistics.pstdev(vals)) < 1e-9

    # single-sample bucket reports 0, like PromQL
    one = spark.createDataFrame([("b", 0, 42.0)], "sid string, ts_ms long, value double")
    assert stddev_over_time(one, ["sid"], 100).collect()[0]["stdvar_over_time"] == 0.0


def test_label_replace_and_join_goldens(spark):
    from pyspark.sql import functions as F

    from horaedb_spark.functions.promql import label_join, label_replace

    df = spark.createDataFrame(
        [({"job": "api-7", "env": "prod"},), ({"job": "worker", "env": "dev"},)],
        "labels map<string,string>",
    )
    # full-match + $1 expansion: only api-7 matches api-(\d+)
    out = label_replace(df, "shard", "s$1", "job", r"api-(\d+)")
    got = sorted((r["labels"].get("shard") for r in out.collect()), key=str)
    assert got == ["s7", None] or got == [None, "s7"]

    # partial match must NOT fire (PromQL anchors the regex)
    out2 = label_replace(df, "shard", "s$1", "job", r"api")
    assert all(r["labels"].get("shard") is None for r in out2.collect())

    # empty replacement removes dst; missing src matches as empty string
    pre = label_join(df, "shard", "", ["env"])
    removed = label_replace(pre, "shard", "", "job", ".*")
    assert all("shard" not in r["labels"] for r in removed.collect())
    missing = label_replace(df, "flag", "none", "absent_label", "")
    assert all(r["labels"]["flag"] == "none" for r in missing.collect())

    # label_join: dst = src values joined, missing sources join as ""
    joined = label_join(df, "combo", "-", ["env", "job", "nope"])
    got_j = sorted(r["labels"]["combo"] for r in joined.collect())
    assert got_j == ["dev-worker-", "prod-api-7-"]


def test_vector_binop_goldens(spark):
    from horaedb_spark.functions.promql import vector_binop

    l = spark.createDataFrame(
        [("a", 0, 10.0), ("b", 0, 2.0), ("c", 0, 5.0)], "sid string, b long, value double"
    )
    r = spark.createDataFrame(
        [("a", 0, 4.0), ("b", 0, 4.0)], "sid string, b long, value double"
    )
    keys = ["sid", "b"]
    # arithmetic: unmatched 'c' drops (one-to-one matching)
    div = {r_["sid"]: r_["value"] for r_ in vector_binop(l, r, "/", keys).collect()}
    assert div == {"a": 2.5, "b": 0.5}
    # comparison filter semantics: keep LEFT value where cond holds
    gt = {r_["sid"]: r_["value"] for r_ in vector_binop(l, r, ">", keys).collect()}
    assert gt == {"a": 10.0}
    # bool mode: 1.0/0.0 per matched pair
    gtb = {r_["sid"]: r_["value"] for r_ in vector_binop(l, r, ">", keys, bool_mode=True).collect()}
    assert gtb == {"a": 1.0, "b": 0.0}
    # pmod keeps the sign of the divisor (PromQL % is float mod)
    m = {r_["sid"]: r_["value"] for r_ in vector_binop(l, r, "%", keys).collect()}
    assert m == {"a": 2.0, "b": 2.0}


def test_sliding_rate_golden(samples):
    """rate over sliding (T-20s, T] windows on a 10s step grid: overlapping
    windows see samples from two adjacent buckets; windows with < 2 samples
    vanish. Hand-computed over the shared ROWS fixture."""
    out = promql.sliding_rate(samples, ["series"], step_ms=10_000, range_ms=20_000)
    got = {r["eval_ms"]: (round(r["rate_per_s"], 6), r["n_samples"])
           for r in out.collect()}
    # T=10000: (0,10000]    -> 1s..9s: (22-10)/8s = 1.5, n=3
    # T=20000: (0,20000]    -> 1s..19s: (8-10)/18s, n=6
    # T=30000: (10000,30000]-> 11s..21s: (100-5)/10s = 9.5, n=4
    # T=40000: (20000,40000]-> only 21s -> dropped
    assert got == {
        10_000: (1.5, 3),
        20_000: (round(-2 / 18.0, 6), 6),
        30_000: (9.5, 4),
    }


def test_sliding_increase_reset_golden(samples):
    """Reset-aware sliding increase: the value drop inside a window
    contributes the post-reset value (PromQL's rule), in exact milli-units."""
    out = promql.sliding_increase(samples, ["series"], step_ms=10_000, range_ms=20_000)
    got = {r["eval_ms"]: (r["increase_milli"], r["n_samples"]) for r in out.collect()}
    # T=10000: 10->16->22: +12000 milli
    # T=20000: 10,16,22,5(reset->+5000),2(reset->+2000),8(+6000) = 25000
    # T=30000: 5,2(reset->2000),8(+6000),100(+92000) = 100000
    # T=40000: single sample -> dropped
    assert got == {
        10_000: (12_000, 3),
        20_000: (25_000, 6),
        30_000: (100_000, 4),
    }


def test_edge_over_time_golden(samples):
    out = promql.edge_over_time(samples, ["series"], step_ms=10_000)
    got = {
        r["bucket_ms"]: (r["last_over_time"], r["first_over_time"], r["present_over_time"])
        for r in out.collect()
    }
    assert got == {
        0: (22.0, 10.0, 1),
        10_000: (8.0, 5.0, 1),
        20_000: (100.0, 100.0, 1),
    }


def test_histogram_fraction_goldens(spark):
    """Hand-computed histogramFraction cases on one cumulative frame:
    counts per bucket (0,1]:2 (1,2]:3 (2,4]:3 (4,inf]:2, total 10."""
    from horaedb_spark.functions.promql import histogram_fraction

    rows = [
        ("m", 1.0, 2),
        ("m", 2.0, 5),
        ("m", 4.0, 8),
        ("m", float("inf"), 10),
    ]
    buckets = spark.createDataFrame(rows, "name string, le double, bucket_count long")

    def frac(lo, hi):
        [r] = histogram_fraction(buckets, ["name"], lo, hi).collect()
        return r["fraction"]

    # whole finite range up to le=4: rank(4)=8 of 10
    assert frac(0.0, 4.0) == 0.8
    # (1, 2]: exact bucket: (5-2)/10
    assert abs(frac(1.0, 2.0) - 0.3) < 1e-12
    # (1.5, 3]: half of (1,2] = 1.5, plus half of (2,4] = 1.5 -> 3/10
    assert abs(frac(1.5, 3.0) - 0.3) < 1e-12
    # finite hi inside the unbounded +Inf bucket clamps to the max finite
    # le's cumulative count (same fallback as histogram_quantile): rank 8
    assert abs(frac(2.0, 100.0) - 0.3) < 1e-12


def test_absent_over_time_golden(spark):
    """step=10, range=20 (k=2): samples in bucket 20 cover evals 30 and 40;
    evals 10, 20 (before any sample) and 50+ (after coverage) are absent."""
    from horaedb_spark.functions.promql import absent_over_time

    df = spark.createDataFrame([(25, 1.0)], "ts_ms long, value double")
    out = sorted(
        r["eval_ms"] for r in absent_over_time(df, 10, 70, 10, 20).collect()
    )
    assert out == [10, 20, 50, 60]


def test_mad_over_time_golden(spark):
    """values [1, 2, 4, 10] in one bucket: median 3, |x-3| = [2,1,1,7],
    MAD = median = 1.5."""
    from horaedb_spark.functions.promql import mad_over_time

    rows = [("a", t, v) for t, v in ((1, 1.0), (2, 2.0), (3, 4.0), (4, 10.0))]
    df = spark.createDataFrame(rows, "sid string, ts_ms long, value double")
    [r] = mad_over_time(df, ["sid"], 100).collect()
    assert r["bucket_ms"] == 0 and r["mad_over_time"] == 1.5
