"""PromQL-style range functions (SURVEY.md §2 D6-D9).

The reference RFC pushes PromQL evaluation into the engine as SQL — e.g.
``SELECT sum(rate('10m', field)) ... GROUP BY le ORDER BY timestamp``
(docs/rfcs/20220702-prometheus-read-extension.md:84-99, which notes "rate is
an UDF in HoraeDB"). Here the function family is implemented as *composable
DataFrame transforms* over a sample stream — all JVM-side built-ins (window
functions + aggregates), no Python UDFs in the hot path.

Sample-frame convention: a DataFrame with series-identity columns (``tsid`` or
any label set), a ``ts_ms`` long (epoch milliseconds — the engine's native
time unit, common/src/time_ext.rs:213) and a ``value`` double.

Step alignment (D8) mirrors ``Timestamp::truncate_by``
(columnar_storage/src/types.rs:82-85): buckets are epoch-aligned floors.

At scale each transform is one shuffle on (series, bucket) with map-side
partial aggregation; skewed hot series are split by AQE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def time_bucket(ts_ms: Column | str, step_ms: int) -> Column:
    """Epoch-aligned bucket start (D8): ``floor(ts / step) * step`` in exact
    integer arithmetic."""
    c = F.col(ts_ms) if isinstance(ts_ms, str) else ts_ms
    # pmod, not %: Spark's % is a signed remainder, which would round
    # negative timestamps toward zero instead of flooring (truncate_by floors)
    return (c - F.pmod(c, F.lit(step_ms))).alias("bucket_ms")


def dedup_samples(df: DataFrame, series_cols: list[str], seq_col: str = "seq") -> DataFrame:
    """D10: duplicate (series, timestamp) resolves to max sequence wins
    (RFC 20240827:232). ``seq_col`` is the ingest sequence (event id,
    batch id, ...)."""
    w = Window.partitionBy(*series_cols, "ts_ms").orderBy(F.desc(seq_col))
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def _bucketed(df: DataFrame, step_ms: int) -> DataFrame:
    return df.withColumn("bucket_ms", time_bucket(F.col("ts_ms"), step_ms))


def rate(df: DataFrame, series_cols: list[str], step_ms: int) -> DataFrame:
    """Per-series per-bucket rate of change in value/second:
    ``(last - first) / (t_last - t_first)``. Buckets with fewer than two
    samples yield no row (a rate needs two points — PromQL behaves the same).

    Implemented with ``max_by``/``min_by`` over (value, ts) — one hash
    aggregate, no window, no UDF."""
    b = _bucketed(df, step_ms)
    agg = b.groupBy(*series_cols, "bucket_ms").agg(
        F.max_by("value", "ts_ms").alias("v_last"),
        F.min_by("value", "ts_ms").alias("v_first"),
        F.max("ts_ms").alias("t_last"),
        F.min("ts_ms").alias("t_first"),
        F.count("*").alias("n_samples"),
    )
    return (
        agg.filter((F.col("n_samples") >= 2) & (F.col("t_last") > F.col("t_first")))
        .withColumn(
            "rate_per_s",
            (F.col("v_last") - F.col("v_first"))
            / ((F.col("t_last") - F.col("t_first")) / F.lit(1000.0)),
        )
        .select(*series_cols, "bucket_ms", "rate_per_s")
    )


def sliding_rate(
    df: DataFrame, series_cols: list[str], step_ms: int, range_ms: int
) -> DataFrame:
    """True range-vector rate: at each step-aligned evaluation time T, the
    rate over the SLIDING window ``(T - range, T]`` — PromQL's
    ``rate(x[range])`` evaluated on a step grid, where range > step makes
    windows overlap (unlike the bucket-aligned `rate`, where range == step).

    Scale shape: each sample explodes to its <= range/step window
    memberships (a small constant fan-out, e.g. 4 for rate(x[4d]) @ 1d
    step), then ONE hash aggregate per (series, T) computes the window
    edges via max_by/min_by. No self-joins, no windows over the stream —
    the fan-out bound is the knob that keeps 100 TB tractable. Windows
    with < 2 samples yield no row (PromQL's behavior)."""
    k = range_ms // step_ms
    if k < 1 or range_ms % step_ms != 0:
        raise ValueError("range_ms must be a positive multiple of step_ms")
    # first step-aligned T with ts in (T - range, T] is ceil(ts/step)*step;
    # the sample then belongs to T, T+step, ..., T+(k-1)*step
    first_t = (
        F.col("ts_ms")
        + F.pmod(F.lit(step_ms) - F.pmod("ts_ms", F.lit(step_ms)), F.lit(step_ms))
    )
    exploded = df.withColumn(
        "eval_ms",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda i: first_t + i * F.lit(step_ms),
            )
        ),
    )
    agg = exploded.groupBy(*series_cols, "eval_ms").agg(
        F.max_by("value", "ts_ms").alias("v_last"),
        F.min_by("value", "ts_ms").alias("v_first"),
        F.max("ts_ms").alias("t_last"),
        F.min("ts_ms").alias("t_first"),
        F.count(F.lit(1)).alias("n_samples"),
    )
    return (
        agg.filter((F.col("n_samples") >= 2) & (F.col("t_last") > F.col("t_first")))
        .withColumn(
            "rate_per_s",
            (F.col("v_last") - F.col("v_first"))
            / ((F.col("t_last") - F.col("t_first")) / F.lit(1000.0)),
        )
        .select(*series_cols, "eval_ms", "rate_per_s", "n_samples")
    )


def sliding_increase(
    df: DataFrame, series_cols: list[str], step_ms: int, range_ms: int
) -> DataFrame:
    """Counter-reset-aware ``increase(x[range])`` on a step grid — the
    sliding companion of `increase`. Values quantize to int milli-units
    (exact arithmetic, DIVERGENCES #16 precedent); within each (series, T)
    window the increase is the sum of clamped adjacent diffs (a negative
    diff contributes the post-reset value, PromQL's rule). Same bounded
    range/step fan-out as `sliding_rate`, then one lag window per
    membership partition."""
    k = range_ms // step_ms
    if k < 1 or range_ms % step_ms != 0:
        raise ValueError("range_ms must be a positive multiple of step_ms")
    first_t = (
        F.col("ts_ms")
        + F.pmod(F.lit(step_ms) - F.pmod("ts_ms", F.lit(step_ms)), F.lit(step_ms))
    )
    exploded = df.withColumn(
        "eval_ms",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda i: first_t + i * F.lit(step_ms),
            )
        ),
    ).withColumn("vq", F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long"))
    w = Window.partitionBy(*series_cols, "eval_ms").orderBy("ts_ms")
    stepped = exploded.withColumn("prev", F.lag("vq").over(w))
    inc = (
        F.when(F.col("prev").isNull(), F.lit(0))
        .when(F.col("vq") >= F.col("prev"), F.col("vq") - F.col("prev"))
        .otherwise(F.col("vq"))
    )
    return (
        stepped.groupBy(*series_cols, "eval_ms")
        .agg(
            F.sum(inc).cast("long").alias("increase_milli"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .filter(F.col("n_samples") >= 2)
    )


def delta(df: DataFrame, series_cols: list[str], step_ms: int) -> DataFrame:
    """Gauge delta per bucket: last - first (no per-second normalization)."""
    b = _bucketed(df, step_ms)
    return (
        b.groupBy(*series_cols, "bucket_ms")
        .agg(
            (F.max_by("value", "ts_ms") - F.min_by("value", "ts_ms")).alias("delta"),
            F.count("*").alias("n_samples"),
        )
        .filter(F.col("n_samples") >= 2)
        .select(*series_cols, "bucket_ms", "delta")
    )


def increase(df: DataFrame, series_cols: list[str], step_ms: int) -> DataFrame:
    """Counter increase per bucket with reset handling: sum over consecutive
    in-bucket diffs, where a negative diff (counter reset) contributes the
    new value itself — PromQL's reset rule.

    One window (lag per series ordered by ts) + one aggregate."""
    b = _bucketed(df, step_ms)
    w = Window.partitionBy(*series_cols, "bucket_ms").orderBy("ts_ms")
    diffed = b.withColumn("prev", F.lag("value").over(w)).withColumn(
        "step_inc",
        F.when(F.col("prev").isNull(), F.lit(None))
        .when(F.col("value") >= F.col("prev"), F.col("value") - F.col("prev"))
        .otherwise(F.col("value")),  # reset: counter restarted at ~0
    )
    return (
        diffed.groupBy(*series_cols, "bucket_ms")
        .agg(
            # decimal-routed sum: order-independent, reproducible across
            # partitionings and engines (see queries/precision.py)
            F.sum(F.col("step_inc").cast("decimal(30,10)"))
            .cast("double")
            .alias("increase"),
            F.count("*").alias("n_samples"),
        )
        .filter(F.col("n_samples") >= 2)
        .select(*series_cols, "bucket_ms", "increase")
    )


def irate(df: DataFrame, series_cols: list[str], step_ms: int) -> DataFrame:
    """Instant rate: diff of the LAST TWO samples in the bucket / their time
    gap (PromQL irate)."""
    b = _bucketed(df, step_ms)
    w = Window.partitionBy(*series_cols, "bucket_ms").orderBy(
        F.desc("ts_ms")
    )
    ranked = b.withColumn("__rn__", F.row_number().over(w)).filter(F.col("__rn__") <= 2)
    agg = ranked.groupBy(*series_cols, "bucket_ms").agg(
        F.max(F.when(F.col("__rn__") == 1, F.col("value"))).alias("v1"),
        F.max(F.when(F.col("__rn__") == 2, F.col("value"))).alias("v2"),
        F.max(F.when(F.col("__rn__") == 1, F.col("ts_ms"))).alias("t1"),
        F.max(F.when(F.col("__rn__") == 2, F.col("ts_ms"))).alias("t2"),
    )
    return (
        agg.filter(F.col("v2").isNotNull() & (F.col("t1") > F.col("t2")))
        .withColumn(
            "irate_per_s",
            (F.col("v1") - F.col("v2")) / ((F.col("t1") - F.col("t2")) / F.lit(1000.0)),
        )
        .select(*series_cols, "bucket_ms", "irate_per_s")
    )


def idelta(df: DataFrame, series_cols: list[str], step_ms: int) -> DataFrame:
    """Instant delta: diff of the last two samples in the bucket."""
    b = _bucketed(df, step_ms)
    w = Window.partitionBy(*series_cols, "bucket_ms").orderBy(F.desc("ts_ms"))
    ranked = b.withColumn("__rn__", F.row_number().over(w)).filter(F.col("__rn__") <= 2)
    agg = ranked.groupBy(*series_cols, "bucket_ms").agg(
        F.max(F.when(F.col("__rn__") == 1, F.col("value"))).alias("v1"),
        F.max(F.when(F.col("__rn__") == 2, F.col("value"))).alias("v2"),
    )
    return (
        agg.filter(F.col("v2").isNotNull())
        .withColumn("idelta", F.col("v1") - F.col("v2"))
        .select(*series_cols, "bucket_ms", "idelta")
    )


def linear_fit(df: DataFrame, series_cols: list[str], step_ms: int) -> DataFrame:
    """Per-series per-bucket simple linear regression over (t, value) — the
    shared kernel behind PromQL ``deriv()`` and ``predict_linear()``.

    Exact-arithmetic design (the DIVERGENCES #16/17 pattern): x is the
    sample's offset from the bucket *end* quantized to whole seconds
    (exact pmod floor), y is the value quantized to milli-units — so n, Σx,
    Σy, Σxy, Σx² are exact int64s small enough to be exactly representable
    as doubles (|x| ≤ 86400 s, |y| < 2^31 milli ⇒ every sum < 2^53). The
    closed-form slope/intercept are then a fixed sequence of IEEE ops on
    identical operands in any engine — bit-stable across partitionings and
    engines, no regr_slope library-implementation drift.

    Returns (series..., bucket_ms, slope_per_s [value/s], intercept
    [value at bucket end]) for buckets with ≥2 distinct-x samples.
    """
    b = _bucketed(df, step_ms)
    x_ms = F.col("ts_ms") - (F.col("bucket_ms") + F.lit(step_ms))
    x = ((x_ms - F.pmod(x_ms, F.lit(1000))) / 1000).cast("long")
    y = F.round(F.col("value") * 1000).cast("long")
    agg = (
        b.withColumn("__x__", x)
        .withColumn("__y__", y)
        .groupBy(*series_cols, "bucket_ms")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__x__").alias("sx"),
            F.sum("__y__").alias("sy"),
            F.sum(F.col("__x__") * F.col("__y__")).alias("sxy"),
            F.sum(F.col("__x__") * F.col("__x__")).alias("sxx"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope_milli = num / den  # milli-units per second
    return (
        agg.filter((F.col("n") >= 2) & (den != 0))
        .withColumn("slope_per_s", slope_milli / 1000.0)
        .withColumn(
            "intercept",
            (F.col("sy") - slope_milli * F.col("sx")) / F.col("n") / 1000.0,
        )
        .select(*series_cols, "bucket_ms", "slope_per_s", "intercept")
    )


def deriv(df: DataFrame, series_cols: list[str], step_ms: int) -> DataFrame:
    """PromQL ``deriv()``: per-second derivative of the gauge by least-squares
    regression over the bucket (not just endpoints — robust to noise)."""
    fit = linear_fit(df, series_cols, step_ms)
    return fit.select(*series_cols, "bucket_ms", F.col("slope_per_s").alias("deriv"))


def predict_linear(
    df: DataFrame, series_cols: list[str], step_ms: int, ahead_s: int
) -> DataFrame:
    """PromQL ``predict_linear()``: extrapolate the regression line
    ``ahead_s`` seconds past the bucket end."""
    fit = linear_fit(df, series_cols, step_ms)
    return fit.select(
        *series_cols,
        "bucket_ms",
        (F.col("intercept") + F.col("slope_per_s") * F.lit(float(ahead_s))).alias(
            "predicted"
        ),
    )


def transition_counts(df: DataFrame, series_cols: list[str], step_ms: int) -> DataFrame:
    """PromQL ``resets()`` and ``changes()`` in one pass: per series per step
    bucket, the number of counter resets (value drops between consecutive
    samples) and the number of value changes. One window (lag per series
    ordered by ts) + one hash aggregate; buckets with fewer than two samples
    emit nothing (both functions need two points)."""
    b = _bucketed(df, step_ms)
    w = Window.partitionBy(*series_cols, "bucket_ms").orderBy("ts_ms")
    diffed = b.withColumn("prev", F.lag("value").over(w))
    return (
        diffed.groupBy(*series_cols, "bucket_ms")
        .agg(
            F.count(F.when(F.col("value") < F.col("prev"), 1)).alias("resets"),
            F.count(F.when(F.col("value") != F.col("prev"), 1)).alias("changes"),
            F.count("*").alias("n_samples"),
        )
        .filter(F.col("n_samples") >= 2)
        .select(*series_cols, "bucket_ms", "resets", "changes")
    )


def quantile_over_time(
    df: DataFrame, series_cols: list[str], step_ms: int, q: float
) -> DataFrame:
    """PromQL ``quantile_over_time(q, ...)``: exact linearly-interpolated
    percentile per series step bucket. Spark's exact ``percentile()`` matches
    DuckDB's ``quantile_cont`` (same R-7 interpolation); one hash aggregate."""
    b = _bucketed(df, step_ms)
    return b.groupBy(*series_cols, "bucket_ms").agg(
        F.percentile("value", F.lit(q)).alias("quantile_over_time")
    )


def stddev_over_time(
    df: DataFrame, series_cols: list[str], step_ms: int, quantum: int = 1000
) -> DataFrame:
    """PromQL ``stddev_over_time`` / ``stdvar_over_time`` (population).

    Values are quantized to 1/quantum units — exact int64 — so Σq and Σq² are
    exact integer sums and the variance
    ``(n·Σq² − (Σq)²) / n² / quantum²`` is order-independent and
    engine-exact regardless of partitioning (divergence: 1e-3 input
    quantization, documented in DIVERGENCES.md). Single-sample buckets report
    0, as PromQL does."""
    b = _bucketed(df, step_ms).withColumn(
        "__q__", F.floor(F.col("value") * quantum + F.lit(0.5)).cast("long")
    )
    agg = b.groupBy(*series_cols, "bucket_ms").agg(
        F.sum("__q__").alias("sq"),
        F.sum(F.col("__q__") * F.col("__q__")).alias("sq2"),
        F.count("__q__").alias("n"),
    )
    var = (
        (F.col("n") * F.col("sq2") - F.col("sq") * F.col("sq")).cast("double")
        / (F.col("n") * F.col("n"))
        / F.lit(float(quantum) * float(quantum))
    )
    return agg.select(
        *series_cols,
        "bucket_ms",
        var.alias("stdvar_over_time"),
        F.sqrt(var).alias("stddev_over_time"),
    )


def label_replace(
    df: DataFrame,
    dst: str,
    replacement: str,
    src: str,
    regex: str,
    labels_col: str = "labels",
) -> DataFrame:
    """PromQL ``label_replace()``: when ``regex`` matches the ENTIRE value of
    label ``src`` (PromQL anchors the pattern), set label ``dst`` to
    ``replacement`` with ``$n`` capture references expanded; an empty result
    removes ``dst``; non-matching series pass through unchanged. A missing
    ``src`` label matches as the empty string, as in PromQL. Pure row-local
    map expressions — no shuffle, no UDF."""
    anchored = f"^(?:{regex})$"
    src_val = F.coalesce(F.element_at(F.col(labels_col), F.lit(src)), F.lit(""))
    new_val = F.regexp_replace(src_val, anchored, replacement)
    without_dst = F.map_filter(F.col(labels_col), lambda k, _v: k != F.lit(dst))
    updated = F.when(new_val == "", without_dst).otherwise(
        F.map_concat(without_dst, F.create_map(F.lit(dst), new_val))
    )
    return df.withColumn(
        labels_col,
        F.when(src_val.rlike(anchored), updated).otherwise(F.col(labels_col)),
    )


def label_join(
    df: DataFrame, dst: str, sep: str, srcs: list[str], labels_col: str = "labels"
) -> DataFrame:
    """PromQL ``label_join()``: set label ``dst`` to the values of the source
    labels joined with ``sep`` (missing labels join as empty strings). Pure
    map expression — no shuffle."""
    joined = F.concat_ws(
        sep,
        *[
            F.coalesce(F.element_at(F.col(labels_col), F.lit(s)), F.lit(""))
            for s in srcs
        ],
    )
    without_dst = F.map_filter(F.col(labels_col), lambda k, _v: k != F.lit(dst))
    return df.withColumn(
        labels_col, F.map_concat(without_dst, F.create_map(F.lit(dst), joined))
    )


def vector_binop(
    left: DataFrame,
    right: DataFrame,
    op: str,
    match_on: list[str],
    l_value: str = "value",
    r_value: str = "value",
    out_col: str = "value",
    bool_mode: bool = False,
    broadcast_right: bool = False,
) -> DataFrame:
    """PromQL binary operation between two instant vectors with one-to-one
    vector matching: rows pair when their matching labels are equal (the
    ``on (labels)`` form — pass the shared label/bucket columns as
    ``match_on``; ``ignoring`` is the same call with the complement).

    Arithmetic ops (``+ - * / %``) emit the computed value; comparison ops
    (``> >= < <= == !=``) follow PromQL filter semantics — keep the left row
    (with its value) where the comparison holds — or emit 1.0/0.0 with
    ``bool_mode=True``. Implemented as an equi-join on the matching columns:
    one shuffle, or zero with ``broadcast_right`` for a small right side
    (e.g. a per-group threshold vector). ``group_left``/``group_right``
    many-to-one matching is out of scope (documented)."""
    lv, rv = F.col("__lv__"), F.col("__rv__")
    l = left.select(*match_on, F.col(l_value).alias("__lv__"))
    r = right.select(*match_on, F.col(r_value).alias("__rv__"))
    if broadcast_right:
        r = F.broadcast(r)
    j = l.join(r, match_on, "inner")
    arith = {
        "+": lv + rv,
        "-": lv - rv,
        "*": lv * rv,
        "/": lv / rv,
        "%": F.pmod(lv, rv),
    }
    comps = {
        ">": lv > rv,
        ">=": lv >= rv,
        "<": lv < rv,
        "<=": lv <= rv,
        "==": lv == rv,
        "!=": lv != rv,
    }
    if op in arith:
        return j.select(*match_on, arith[op].alias(out_col))
    cond = comps[op]
    if bool_mode:
        return j.select(
            *match_on, F.when(cond, F.lit(1.0)).otherwise(F.lit(0.0)).alias(out_col)
        )
    return j.filter(cond).select(*match_on, lv.alias(out_col))


def aggregate_by(
    df: DataFrame,
    by_labels: list[str],
    step_ms: int,
    aggs: dict[str, str] | None = None,
) -> DataFrame:
    """D6: ``sum/min/max/avg/count by (labels)`` over aligned time buckets —
    the RFC's pushdown example (20220702:84-99). ``aggs`` maps output column
    name -> aggregate ('sum'|'avg'|'min'|'max'|'count')."""
    aggs = aggs or {"sum_value": "sum"}
    dec_sum = lambda c: F.sum(c.cast("decimal(30,10)")).cast("double")

    def _stdvar(c):
        # same exact-int scheme as stddev_over_time, across series at an
        # instant (PromQL's stddev/stdvar BY-label aggregators): quantize to
        # 1e-3, integer Σq/Σq², population variance — order-independent.
        q = F.floor(c * 1000 + F.lit(0.5)).cast("long")
        n = F.count(c)
        return (
            (n * F.sum(q * q) - F.sum(q) * F.sum(q)).cast("double")
            / (n * n)
            / F.lit(1e6)
        )

    fns = {
        # sum/avg route through decimal so results are order-independent
        # (reproducible across partitionings/engines; queries/precision.py)
        "sum": dec_sum,
        "avg": lambda c: dec_sum(c) / F.count(c),
        "min": F.min,
        "max": F.max,
        "count": lambda c: F.count(c),
        "stdvar": _stdvar,
        "stddev": lambda c: F.sqrt(_stdvar(c)),
        # PromQL `group` aggregator: 1 for every group that has any sample
        "group": lambda c: F.min(F.lit(1)).cast("long"),
    }

    def resolve(kind: str):
        # 'quantile@p' = PromQL quantile(p, x) by labels — exact
        # interpolated percentile (== DuckDB quantile_cont).
        if kind.startswith("quantile@"):
            p = float(kind.split("@", 1)[1])
            return lambda c: F.percentile(c, F.lit(p))
        return fns[kind]

    b = _bucketed(df, step_ms)
    exprs = [resolve(kind)(F.col("value")).alias(name) for name, kind in aggs.items()]
    return b.groupBy(*by_labels, "bucket_ms").agg(*exprs)


def over_time(df: DataFrame, series_cols: list[str], step_ms: int) -> DataFrame:
    """The ``*_over_time`` range-function family in one pass: avg / min /
    max / sum / count over each per-series step bucket. One hash aggregate
    with map-side partials; sums are decimal-routed (order-independent)."""
    b = _bucketed(df, step_ms)
    dec_sum = F.sum(F.col("value").cast("decimal(30,10)")).cast("double")
    return b.groupBy(*series_cols, "bucket_ms").agg(
        (dec_sum / F.count("value")).alias("avg_over_time"),
        F.min("value").alias("min_over_time"),
        F.max("value").alias("max_over_time"),
        dec_sum.alias("sum_over_time"),
        F.count("value").alias("count_over_time"),
    )


def edge_over_time(df: DataFrame, series_cols: list[str], step_ms: int) -> DataFrame:
    """``last_over_time`` / ``first_over_time`` / ``present_over_time`` in
    one hash aggregate: the bucket-edge samples via max_by/min_by on the
    timestamp (deterministic — the data table is deduped to one row per
    (series, ts)), presence as a constant over the surviving groups (a
    bucket with no samples yields no row, which IS PromQL's absence)."""
    b = _bucketed(df, step_ms)
    return b.groupBy(*series_cols, "bucket_ms").agg(
        F.max_by("value", "ts_ms").alias("last_over_time"),
        F.min_by("value", "ts_ms").alias("first_over_time"),
        F.lit(1).alias("present_over_time"),
        F.max("ts_ms").alias("last_ts_ms"),
    )


def topk_series(
    df: DataFrame,
    series_cols: list[str],
    by_labels: list[str],
    step_ms: int,
    k: int,
    largest: bool = True,
) -> DataFrame:
    """PromQL ``topk(k, sum by (series) (metric))`` — or ``bottomk`` with
    ``largest=False`` — per step bucket within each label group: rank series
    by decimal-exact sum, keep the k largest/smallest (ties broken by series
    identity for determinism)."""
    b = _bucketed(df, step_ms)
    summed = b.groupBy(*by_labels, *series_cols, "bucket_ms").agg(
        F.sum(F.col("value").cast("decimal(30,10)")).cast("double").alias("series_sum")
    )
    order = F.desc("series_sum") if largest else F.asc("series_sum")
    w = Window.partitionBy(*by_labels, "bucket_ms").orderBy(
        order, *[F.asc(c) for c in series_cols]
    )
    return (
        summed.withColumn("topk_rank", F.row_number().over(w))
        .filter(F.col("topk_rank") <= k)
    )


def histogram_buckets(
    df: DataFrame, group_cols: list[str], value_col: str, boundaries: list[float]
) -> DataFrame:
    """Build a Prometheus-style cumulative histogram: one row per (group, le)
    with the cumulative count of values <= le, plus the +Inf bucket (total).
    Shuffle-light: a single aggregate computing every bucket as a conditional
    count — no explode, no per-bucket pass."""
    aggs = [
        F.count(F.when(F.col(value_col) <= b, 1)).alias(f"__b{i}__")
        for i, b in enumerate(boundaries)
    ] + [F.count(value_col).alias("__binf__")]
    wide = df.groupBy(*group_cols).agg(*aggs)
    pairs = [
        F.struct(F.lit(float(b)).alias("le"), F.col(f"__b{i}__").alias("bucket_count"))
        for i, b in enumerate(boundaries)
    ] + [F.struct(F.lit(float("inf")).alias("le"), F.col("__binf__").alias("bucket_count"))]
    return (
        wide.select(*group_cols, F.explode(F.array(*pairs)).alias("b"))
        .select(*group_cols, F.col("b.le").alias("le"), F.col("b.bucket_count").alias("bucket_count"))
    )


def histogram_quantile(
    bucket_df: DataFrame, group_cols: list[str], q: float
) -> DataFrame:
    """PromQL ``histogram_quantile(q, ...)`` over a cumulative bucket frame
    (group_cols, le, bucket_count): pick the lowest bucket whose cumulative
    count reaches q*total, then interpolate linearly inside it.

    Divergence note (documented): boundaries here are positive, so the
    lowest bucket's lower bound is 0 (Prometheus's behavior for le > 0); if
    the quantile lands in the +Inf bucket the largest finite ``le`` is
    returned, as in Prometheus."""
    w = Window.partitionBy(*group_cols).orderBy("le")
    wall = Window.partitionBy(*group_cols)
    en = (
        bucket_df.withColumn("prev_count", F.coalesce(F.lag("bucket_count").over(w), F.lit(0)))
        .withColumn("prev_le", F.coalesce(F.lag("le").over(w), F.lit(0.0)))
        .withColumn("total", F.max("bucket_count").over(wall))
        .withColumn(
            "max_finite_le",
            F.max(F.when(~F.isnan("le") & (F.col("le") != float("inf")), F.col("le"))).over(wall),
        )
        .withColumn("rank_target", F.lit(q) * F.col("total"))
    )
    hit = en.filter(
        (F.col("bucket_count") >= F.col("rank_target")) & (F.col("total") > 0)
    )
    w_first = Window.partitionBy(*group_cols).orderBy("le")
    first_hit = hit.withColumn("__rn__", F.row_number().over(w_first)).filter(
        F.col("__rn__") == 1
    )
    interp = (
        F.col("prev_le")
        + (F.col("le") - F.col("prev_le"))
        * (F.col("rank_target") - F.col("prev_count"))
        / (F.col("bucket_count") - F.col("prev_count"))
    )
    return first_hit.select(
        *group_cols,
        F.when(F.col("le") == float("inf"), F.col("max_finite_le"))
        .when(F.col("bucket_count") == F.col("prev_count"), F.col("le"))
        .otherwise(interp)
        .alias("quantile_value"),
    )


def _step_ceil(c: Column, step_ms: int) -> Column:
    """The first step-aligned instant at or after ``c`` (floor-based, so
    negative timestamps align like positive ones)."""
    return c + F.pmod(-c, F.lit(step_ms).cast("long"))


def _step_floor(c: Column, step_ms: int) -> Column:
    """The last step-aligned instant at or before ``c``."""
    return c - F.pmod(c, F.lit(step_ms).cast("long"))


def _explode_steps(
    df: DataFrame,
    first: Column,
    last: Column,
    step_ms: int,
    keys: list[str],
    cols: list,
) -> DataFrame:
    """One row ``(*keys, step_ms, *cols)`` per aligned step in ``[first,
    last]`` for each row of ``df`` (``first`` aligned, ``last`` any
    instant). Empty ranges are dropped first: ``sequence`` raises on
    ``start > stop``."""
    last = _step_floor(last, step_ms)
    return df.filter(first <= last).select(
        *keys,
        F.explode(
            F.sequence(first, last, F.lit(step_ms).cast("long"))
        ).alias("step_ms"),
        *cols,
    )


def instant_vector(
    df: DataFrame,
    series_cols: list[str],
    step_ms: int,
    lookback_ms: int,
    with_sample_ts: bool = False,
    start_ms: int | None = None,
    end_ms: int | None = None,
) -> DataFrame:
    """PromQL instant-vector step evaluation (D8): at every aligned step t,
    each series reports its latest sample with ``t - lookback < sample_ts
    <= t`` (the staleness rule). Series with no sample in the window emit
    nothing at that step. The grid ends at the frame's last sample.

    ``start_ms``/``end_ms`` are the evaluation window (aligned steps,
    inclusive): only samples in ``(start - lookback, end]`` are read and
    only steps in ``[start, end]`` are emitted. Absent, every step of the
    frame's range is.

    One pass: one window per series ordered by time gives each sample its
    successor ``next_ts``, and the sample explodes into exactly the steps
    it answers, ``ts <= t < min(next_ts, ts + lookback)`` — one exploded row
    per output row whatever ``lookback / step`` is. A null-valued latest
    sample reports the last non-null value before it (the running
    ``last(value, ignorenulls)``) with its own ``sample_ts``; in a bounded
    call that carry sees only the window's samples. The grid's end is one
    broadcast ``max(ts_ms)`` over the frame (from ``start`` on, which gives
    the same answer for every step in the window)."""
    ts = F.col("ts_ms")
    edge = df
    if start_ms is not None:
        df = df.filter(ts > start_ms - lookback_ms)
        edge = edge.filter(ts >= start_ms)
    if end_ms is not None:
        df = df.filter(ts <= end_ms)
    edge = edge.agg(F.max("ts_ms").alias("__edge__")).filter(
        F.col("__edge__").isNotNull()
    )
    w = Window.partitionBy(*series_cols).orderBy("ts_ms")
    carried = df.select(
        *series_cols,
        "ts_ms",
        F.lead("ts_ms").over(w).alias("__next__"),
        F.last("value", ignorenulls=True)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("value"),
    ).crossJoin(F.broadcast(edge))
    first = _step_ceil(ts, step_ms)
    # least() skips nulls: the series' last sample has no successor
    last = F.least(
        ts + F.lit(lookback_ms - 1), F.col("__next__") - 1, F.col("__edge__")
    )
    if start_ms is not None:
        first = F.greatest(first, F.lit(start_ms).cast("long"))
    if end_ms is not None:
        last = F.least(last, F.lit(end_ms).cast("long"))
    extra = [ts.alias("sample_ts")] if with_sample_ts else []
    return _explode_steps(
        carried, first, last, step_ms, series_cols, ["value", *extra]
    )


def fill_linear(df: DataFrame, series_cols: list[str], step_ms: int) -> DataFrame:
    """Linear gap-fill at aligned steps (TimescaleDB ``interpolate`` /
    InfluxDB ``fill(linear)``): each step t between a series' first and last
    sample gets ``prev + (next-prev) * (t-t_prev)/(t_next-t_prev)`` from its
    neighboring samples. Steps outside the sampled interior emit nothing.

    Same one-pass shape as :func:`instant_vector`: one window per series
    pairs each sample with its successor, and the pair explodes into the
    steps ``ts <= t < next_ts`` it brackets. Null values take the last
    non-null value at or before the pair's start and the first non-null
    value after it."""
    w = Window.partitionBy(*series_cols).orderBy("ts_ms")
    pairs = df.select(
        *series_cols,
        F.col("ts_ms").alias("prev_ts"),
        F.lead("ts_ms").over(w).alias("next_ts"),
        F.last("value", ignorenulls=True)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("prev_val"),
        F.first("value", ignorenulls=True)
        .over(w.rowsBetween(1, Window.unboundedFollowing))
        .alias("next_val"),
    )
    interp = F.col("prev_val") + (F.col("next_val") - F.col("prev_val")) * (
        (F.col("step_ms") - F.col("prev_ts")) / (F.col("next_ts") - F.col("prev_ts"))
    )
    return _explode_steps(
        pairs,
        _step_ceil(F.col("prev_ts"), step_ms),
        F.col("next_ts") - 1,
        step_ms,
        series_cols,
        ["prev_ts", "next_ts", "prev_val", "next_val"],
    ).select(*series_cols, "step_ms", interp.alias("value"))


def clamp(
    v: Column | str, mn: float | None = None, mx: float | None = None
) -> Column:
    """PromQL clamp/clamp_min/clamp_max: pure row-local expressions
    (prometheus/promql/functions.go funcClamp*). Pass only ``mn`` for
    clamp_min, only ``mx`` for clamp_max."""
    c = F.col(v) if isinstance(v, str) else v
    if mn is not None:
        c = F.greatest(c, F.lit(float(mn)))
    if mx is not None:
        c = F.least(c, F.lit(float(mx)))
    return c


def count_values(
    df: DataFrame, value_expr: Column, step_ms: int
) -> DataFrame:
    """PromQL count_values(): per step bucket, the number of samples carrying
    each distinct value of ``value_expr`` (the caller quantizes doubles the
    way PromQL stringifies them). One hash aggregate, map-side combined."""
    b = _bucketed(df, step_ms)
    return b.groupBy("bucket_ms", value_expr.alias("value_bucket")).agg(
        F.count(F.lit(1)).alias("n_samples")
    )


def absent(
    df: DataFrame, start_ms: int, end_ms: int, step_ms: int
) -> DataFrame:
    """PromQL absent() evaluated over a range query: emit ``absent = 1`` for
    every step in [start, end) where the selection has NO samples.

    The step spine is ``sequence()``-generated and exploded — a few rows per
    queried range regardless of data volume — then anti-joined against the
    distinct present buckets, so at 100 TB the cost is the selection scan,
    not the spine."""
    spine = df.sparkSession.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start_ms),
                F.lit(end_ms - 1),
                F.lit(step_ms),
            )
        ).alias("bucket_ms")
    )
    present = _bucketed(df, step_ms).select("bucket_ms").distinct()
    return (
        spine.join(present, "bucket_ms", "left_anti")
        .select("bucket_ms", F.lit(1).alias("absent"))
    )


def holt_winters(
    df: DataFrame,
    series_cols: list[str],
    sf: float,
    tf: float,
) -> DataFrame:
    """PromQL holt_winters (double exponential smoothing) per series over the
    selected window — the smoothed value after folding all samples in time
    order (prometheus/promql/functions.go funcHoltWinters / calcTrendValue):

        s1 = v[0]; b = v[1] - v[0]
        for i in 1..n-1:
            if i >= 2: b = tf*(s1 - s0) + (1 - tf)*b
            s0, s1 = s1, sf*v[i] + (1 - sf)*(s1 + b)

    The recursion is order-dependent, so it cannot be a hash aggregate —
    instead each series' samples are gathered with ``array_sort(
    collect_list(struct(ts, value)))`` and folded with ``F.aggregate``: the
    fold runs JVM-side in whole-stage codegen, one pass, deterministic.
    State is O(window samples) per series — the same bound Prometheus
    itself has for range functions. Series with < 2 samples are dropped
    (PromQL returns no point).

    Identical fold order on both engines means the IEEE double sequence is
    bit-identical — the oracle replays the same recursion as a recursive
    CTE."""
    arr = (
        df.groupBy(*series_cols)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("ts_ms"), F.col("value")))
            ).alias("__pts__")
        )
        .withColumn("__vs__", F.transform("__pts__", lambda p: p["value"]))
        .filter(F.size("__vs__") >= 2)
    )
    sf_l, tf_l = F.lit(float(sf)), F.lit(float(tf))
    init = F.struct(
        F.lit(0.0).alias("s0"),
        F.element_at("__vs__", 1).cast("double").alias("s1"),
        (F.element_at("__vs__", 2) - F.element_at("__vs__", 1))
        .cast("double")
        .alias("b"),
        F.lit(0).alias("i"),
    )

    def step(acc: Column, v: Column) -> Column:
        b = F.when(
            acc["i"] >= 1, tf_l * (acc["s1"] - acc["s0"]) + (F.lit(1.0) - tf_l) * acc["b"]
        ).otherwise(acc["b"])
        s1 = sf_l * v + (F.lit(1.0) - sf_l) * (acc["s1"] + b)
        return F.struct(
            acc["s1"].alias("s0"),
            s1.alias("s1"),
            b.alias("b"),
            (acc["i"] + 1).alias("i"),
        )

    folded = F.aggregate(
        F.slice("__vs__", 2, F.size("__vs__") - 1),
        init,
        step,
        lambda acc: acc["s1"],
    )
    return arr.select(*series_cols, folded.alias("smoothed"))


def math_fn(value: Column | str, name: str) -> Column:
    """PromQL scalar math functions (funcAbs/funcCeil/... in
    prometheus/promql/functions.go) as row-local JVM expressions — the whole
    family costs a scan, no exchange. ``sqrt`` is IEEE-correctly-rounded on
    every engine; ``exp``/``ln``/``log2``/``log10`` carry a 1-ulp libm
    tolerance, so oracle-facing callers round with the portable
    floor(x*1e6+0.5)/1e6 form."""
    c = F.col(value) if isinstance(value, str) else value
    fns = {
        "abs": F.abs,
        "ceil": F.ceil,
        "floor": F.floor,
        "sqrt": F.sqrt,
        "exp": F.exp,
        "ln": F.log,
        "log2": F.log2,
        "log10": F.log10,
        "sgn": lambda x: F.signum(x),
        # the Prometheus 2.31 trigonometry batch (funcSin et al.) — all
        # row-local JVM expressions; libm 1-ulp tolerance applies, so
        # oracle-facing callers round with the portable floor form
        "sin": F.sin,
        "cos": F.cos,
        "tan": F.tan,
        "asin": F.asin,
        "acos": F.acos,
        "atan": F.atan,
        "sinh": F.sinh,
        "cosh": F.cosh,
        "tanh": F.tanh,
        "asinh": F.asinh,
        "acosh": F.acosh,
        "atanh": F.atanh,
        "deg": F.degrees,
        "rad": F.radians,
    }
    if name not in fns:
        raise ValueError(f"unsupported math fn: {name}")
    return fns[name](c)


def round_to(value: Column | str, nearest: float = 1.0) -> Column:
    """PromQL round(v, to_nearest): floor(v/to + 0.5) * to — the exact
    formula Prometheus uses, which is also engine-portable (no banker's/
    HALF_UP divergence)."""
    c = F.col(value) if isinstance(value, str) else value
    to = F.lit(float(nearest))
    return F.floor(c / to + F.lit(0.5)) * to


def time_components(ts_ms: Column | str) -> dict[str, Column]:
    """PromQL time functions (minute/hour/day_of_week/day_of_month/
    days_in_month/month/year, prometheus/promql/functions.go funcDaysInMonth
    et al.) over epoch-ms timestamps, UTC as PromQL specifies.

    minute/hour/day_of_week are pure integer arithmetic on epoch-ms (epoch
    day 0 was a Thursday, hence the +4 for Sunday=0); the calendar trio uses
    the engine's UTC date parts (session timezone is pinned UTC)."""
    c = F.col(ts_ms) if isinstance(ts_ms, str) else ts_ms
    day_ms, hour_ms, min_ms = F.lit(86_400_000), F.lit(3_600_000), F.lit(60_000)
    ts = F.timestamp_millis(c)
    return {
        "minute": (F.pmod(c, hour_ms) / min_ms).cast("long"),
        "hour": (F.pmod(c, day_ms) / hour_ms).cast("long"),
        "day_of_week": F.pmod(F.floor(c / day_ms) + 4, F.lit(7)).cast("long"),
        "day_of_month": F.dayofmonth(ts).cast("long"),
        "day_of_year": F.dayofyear(ts).cast("long"),
        "days_in_month": F.dayofmonth(F.last_day(ts)).cast("long"),
        "month": F.month(ts).cast("long"),
        "year": F.year(ts).cast("long"),
    }


def offset_by(df: DataFrame, offset_ms: int, ts_col: str = "bucket_ms") -> DataFrame:
    """PromQL ``offset`` modifier: a vector with ``offset 1d`` evaluated at
    time t reads samples from t - 1d. Realized by shifting the vector's
    timestamps *forward* by the offset so a plain equi-join on the bucket
    column pairs each evaluation time with its offset lookback — no range
    join, no second scan pattern."""
    return df.withColumn(ts_col, F.col(ts_col) + F.lit(offset_ms))


def limitk_series(
    df: DataFrame, series_cols: list[str], by_labels: list[str],
    step_ms: int, k: int,
) -> DataFrame:
    """PromQL 3.x ``limitk(k, ...)``: an arbitrary-but-deterministic sample
    of k series per group/bucket. Prometheus picks by internal hash order;
    here the order is md5 of the series identity - deterministic, engine-
    portable, and rank<=k compiles to a map-side WindowGroupLimit."""
    b = _bucketed(df, step_ms)
    keys = list(dict.fromkeys([*by_labels, *series_cols]))
    summed = b.groupBy(*keys, "bucket_ms").agg(
        F.sum(F.col("value").cast("decimal(30,10)")).cast("double").alias("series_sum")
    )
    digest = F.md5(F.concat_ws("", *[F.col(c) for c in series_cols]))
    w = Window.partitionBy(*by_labels, "bucket_ms").orderBy(digest.asc())
    return (
        summed.withColumn("__rk__", F.row_number().over(w))
        .filter(F.col("__rk__") <= k)
        .drop("__rk__")
    )


def limit_ratio_series(
    df: DataFrame, series_cols: list[str], by_labels: list[str],
    step_ms: int, ratio: float,
) -> DataFrame:
    """PromQL 3.x ``limit_ratio(r, ...)``: keep a deterministic ~r fraction
    of series. Same md5-threshold trick as the corpus samplers: a series is
    kept iff its digest prefix sorts below the ratio threshold - row-local
    after the aggregate, no ranking shuffle at all (unlike limitk)."""
    b = _bucketed(df, step_ms)
    keys = list(dict.fromkeys([*by_labels, *series_cols]))
    summed = b.groupBy(*keys, "bucket_ms").agg(
        F.sum(F.col("value").cast("decimal(30,10)")).cast("double").alias("series_sum")
    )
    threshold = format(int(ratio * 16**8), "08x") if ratio < 1 else "g"
    digest = F.substring(
        F.md5(F.concat_ws("", *[F.col(c) for c in series_cols])), 1, 8
    )
    return summed.filter(digest < F.lit(threshold))


def moving_avg(
    df: DataFrame, series_cols: list[str], step_ms: int, k_buckets: int
) -> DataFrame:
    """Per-series moving average over the last ``k_buckets`` step buckets
    (the smoothed dashboard line): one bucket aggregate, then a bounded
    window over each series' ordered buckets. Sums stay decimal-routed so
    the result is partitioning-independent; the window frame is
    rows-bounded, so state per series is O(k)."""
    b = _bucketed(df, step_ms)
    per_bucket = b.groupBy(*series_cols, "bucket_ms").agg(
        F.sum(F.col("value").cast("decimal(30,10)")).alias("__s__"),
        F.count("value").alias("__n__"),
    )
    w = (
        Window.partitionBy(*series_cols)
        .orderBy("bucket_ms")
        .rowsBetween(-(k_buckets - 1), 0)
    )
    return per_bucket.select(
        *series_cols,
        "bucket_ms",
        (F.sum("__s__").over(w).cast("double") / F.sum("__n__").over(w)).alias(
            "moving_avg"
        ),
    )


def sliding_over_time(
    df: DataFrame, series_cols: list[str], step_ms: int, range_ms: int
) -> DataFrame:
    """``avg/sum/min/max/count_over_time(x[range])`` on a step grid with
    overlapping windows — the sliding companion of `over_time`, same
    bounded range/step fan-out as `sliding_rate`, one hash aggregate,
    decimal-routed sums."""
    k = range_ms // step_ms
    if k < 1 or range_ms % step_ms != 0:
        raise ValueError("range_ms must be a positive multiple of step_ms")
    first_t = (
        F.col("ts_ms")
        + F.pmod(F.lit(step_ms) - F.pmod("ts_ms", F.lit(step_ms)), F.lit(step_ms))
    )
    exploded = df.withColumn(
        "eval_ms",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda i: first_t + i * F.lit(step_ms),
            )
        ),
    )
    dec_sum = F.sum(F.col("value").cast("decimal(30,10)")).cast("double")
    return exploded.groupBy(*series_cols, "eval_ms").agg(
        (dec_sum / F.count("value")).alias("avg_over_time"),
        F.min("value").alias("min_over_time"),
        F.max("value").alias("max_over_time"),
        dec_sum.alias("sum_over_time"),
        F.count("value").alias("count_over_time"),
    )


def histogram_fraction(
    bucket_df: DataFrame, group_cols: list[str], lo: float, hi: float
) -> DataFrame:
    """PromQL ``histogram_fraction(lo, hi, ...)`` over a cumulative bucket
    frame (group_cols, le, bucket_count): the estimated fraction of
    observations in (lo, hi], linearly interpolated inside the buckets the
    endpoints land in (promql/quantile.go ``histogramFraction`` semantics for
    classic histograms, endpoints clamped to [0, max finite le]).

    Plan: the bucket frame is O(groups × buckets); one window pass per group
    computes the interpolated cumulative rank at each endpoint, one aggregate
    folds them — no join back to samples."""
    w = Window.partitionBy(*group_cols).orderBy("le")
    wall = Window.partitionBy(*group_cols)
    en = (
        bucket_df.withColumn(
            "prev_count", F.coalesce(F.lag("bucket_count").over(w), F.lit(0))
        )
        .withColumn("prev_le", F.coalesce(F.lag("le").over(w), F.lit(0.0)))
        .withColumn("total", F.max("bucket_count").over(wall))
    )

    def rank_at(x: float) -> Column:
        # interpolated cumulative count at x inside the bucket containing it
        inside = (F.lit(x) > F.col("prev_le")) & (F.lit(x) <= F.col("le"))
        interp = F.col("prev_count") + (
            (F.col("bucket_count") - F.col("prev_count"))
            * (F.lit(x) - F.col("prev_le"))
            / (F.col("le") - F.col("prev_le"))
        )
        at_inf = F.col("le") == float("inf")
        return F.max(
            F.when(inside & at_inf, F.col("prev_count").cast("double"))
            .when(inside, interp)
            .otherwise(F.lit(None))
        )

    return (
        en.groupBy(*group_cols)
        .agg(
            rank_at(lo).alias("__rlo__"),
            rank_at(hi).alias("__rhi__"),
            F.max("total").alias("__total__"),
        )
        .select(
            *group_cols,
            (
                (
                    F.coalesce(F.col("__rhi__"), F.col("__total__").cast("double"))
                    - F.coalesce(F.col("__rlo__"), F.lit(0.0))
                )
                / F.col("__total__")
            ).alias("fraction"),
        )
    )


def absent_over_time(
    df: DataFrame,
    start_ms: int,
    end_ms: int,
    step_ms: int,
    range_ms: int,
) -> DataFrame:
    """PromQL ``absent_over_time(sel[range])`` on a step grid: 1 for every
    eval step whose lookback window [t-range, t) holds no sample of the
    selection. Presence is aggregated to step buckets first (scan-sized
    work); each present bucket then explodes into the ≤k eval steps whose
    window covers it (bounded fan-out, like `sliding_rate`) and the
    O(steps) spine anti-equi-joins it — no nested-loop range join
    anywhere, and the heavy side never sees the spine."""
    k = range_ms // step_ms
    if k < 1 or range_ms % step_ms != 0:
        raise ValueError("range_ms must be a positive multiple of step_ms")
    # eval at t covers sample buckets [t-range, t); bucket b (step-aligned)
    # is covered by t ∈ {b+step, …, b+k·step}
    covered = (
        df.filter((F.col("ts_ms") >= start_ms - range_ms) & (F.col("ts_ms") < end_ms))
        .select(time_bucket("ts_ms", step_ms).alias("bucket_ms"))
        .distinct()
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.lit(k)),
                    lambda i: F.col("bucket_ms") + i * F.lit(step_ms),
                )
            ).alias("eval_ms")
        )
        .distinct()
    )
    spine = df.sparkSession.range(start_ms, end_ms, step_ms).select(
        F.col("id").alias("eval_ms")
    )
    return spine.join(covered, "eval_ms", "left_anti").select(
        "eval_ms", F.lit(1).alias("absent")
    )


def mad_over_time(
    df: DataFrame, series_cols: list[str], step_ms: int
) -> DataFrame:
    """PromQL (experimental) ``mad_over_time``: median absolute deviation
    around the median, per series step bucket. Exact interpolated medians
    (Spark ``percentile`` == DuckDB ``quantile_cont``); two hash aggregates
    on the same (series, bucket) key — the second groupBy reuses the
    shuffle partitioning of the join output, and the median table joining
    back is co-partitioned, so one shuffle of the samples total."""
    b = _bucketed(df, step_ms)
    med = b.groupBy(*series_cols, "bucket_ms").agg(
        F.percentile("value", F.lit(0.5)).alias("__med__")
    )
    back = b.join(med, [*series_cols, "bucket_ms"])
    return back.groupBy(*series_cols, "bucket_ms").agg(
        F.percentile(F.abs(F.col("value") - F.col("__med__")), F.lit(0.5)).alias(
            "mad_over_time"
        )
    )
