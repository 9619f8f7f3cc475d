"""PromQL STRING front-end under the oracle gate (SURVEY.md §2 D-surface).

``promql_parse_eval`` compiles fifteen RFC-shaped PromQL strings through the
parser (``metric/promql.py``) — matchers, rate, increase, offset, by/without
aggregation, topk, subquery, scalar arithmetic, and the RFC's flagship
``histogram_quantile(0.9, sum by (le) (rate(bucket[10m])))``
(docs/rfcs/20220702-prometheus-read-extension.md:84-99) — and hash-matches
every row against DuckDB replicas of the same semantics. The hand-built
pipeline equivalence (string-compiled == operator-called) is pinned in
``tests/test_promql_parse.py``.

The flagship needs a bucket-counter metric carrying an ``le`` label; it is
synthesized deterministically from the click stream: per cohort, cumulative
counts of events with value <= {10, 50, 100, +Inf} sampled at every event
timestamp — exactly a Prometheus ``_bucket`` counter family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from horaedb_spark.metric.engine import MetricEngine
from horaedb_spark.metric.promql import promql_eval, promql_eval_many
from horaedb_spark.queries.metric_queries import _DEDUP_CTE, _engine
from horaedb_spark.queries.registry import register
from horaedb_spark.queries.tables import events_ms, events_to_samples

DAY_MS = 86_400_000

_BUCKET_ENGINES: dict[str, MetricEngine] = {}

_LES = (10.0, 50.0, 100.0)


def _bucket_engine(spark: SparkSession, sf_dir: str) -> MetricEngine:
    """Synthetic ``click_bucket`` counter family: one series per
    (cohort, le), value = cumulative count of deduped click events with
    value <= le, sampled at each event timestamp."""
    if sf_dir in _BUCKET_ENGINES:
        return _BUCKET_ENGINES[sf_dir]
    ev = events_ms(spark, sf_dir).filter(F.col("event_type") == "click")
    # same D10 dedup as the engine's sample stream (_DEDUP_CTE)
    w = Window.partitionBy("user_id", "ts_ms").orderBy(F.desc("event_id"))
    s = (
        ev.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .withColumn("cohort", (F.col("user_id") % 10).cast("string"))
    )
    per_ts = s.groupBy("cohort", "ts_ms").agg(
        *[
            F.count(F.when(F.col("value") <= b, 1)).alias(f"c{i}")
            for i, b in enumerate(_LES)
        ],
        F.count(F.lit(1)).alias("cinf"),
    )
    cw = (
        Window.partitionBy("cohort")
        .orderBy("ts_ms")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_ts.select(
        "cohort",
        "ts_ms",
        *[F.sum(f"c{i}").over(cw).alias(f"b{i}") for i in range(len(_LES))],
        F.sum("cinf").over(cw).alias("binf"),
    )
    pairs = [
        F.struct(F.lit(f"{b:g}").alias("le"), F.col(f"b{i}").alias("v"))
        for i, b in enumerate(_LES)
    ] + [F.struct(F.lit("+Inf").alias("le"), F.col("binf").alias("v"))]
    samples = cum.select(
        "cohort", "ts_ms", F.explode(F.array(*pairs)).alias("p")
    ).select(
        F.lit("click_bucket").alias("name"),
        F.create_map(
            F.lit("cohort"), F.col("cohort"), F.lit("le"), F.col("p.le")
        ).alias("labels"),
        "ts_ms",
        F.col("p.v").cast("double").alias("value"),
        F.col("ts_ms").alias("seq"),
    )
    # NOT persisted, deliberately: an interleaved A/B at sf0.1 showed no
    # measurable suite win from persisting the samples frame (ReuseExchange
    # already dedups the shared cum-window subtree inside each union job),
    # and a fully persisted engine measured SLOWER (see metric_queries._engine).
    _BUCKET_ENGINES[sf_dir] = MetricEngine(samples)
    return _BUCKET_ENGINES[sf_dir]


_Q1 = 'sum by (cohort) (rate(click{cohort=~"[0-3]"}[1d]))'
_Q2 = "histogram_quantile(0.9, sum by (le) (rate(click_bucket[1d])))"
_Q3 = "topk(3, sum by (user) (increase(purchase[1d])))"
_Q4 = "avg by (cohort) (max_over_time(click[1d] offset 1d))"
_Q5 = "min_over_time((sum by (cohort) (rate(click[1d])))[4d:1d])"
_Q6 = "sum(rate(click[1d])) by (cohort) * 60"
_Q7 = "sum by (cohort) (rate(error[1d])) / sum by (cohort) (rate(click[1d]))"
_Q8 = "sum by (cohort) (rate(click[1d])) > 0.001"
_Q9 = "sum by (user) (rate(click[1d])) unless sum by (user) (rate(purchase[1d]))"
_Q10 = "sum by (cohort) (click)"
_Q11 = 'predict_linear(click{cohort="3"}[1d], 3600)'
_Q12 = ('label_replace(sum by (cohort) (rate(click[1d])), '
        '"env", "prod-$1", "cohort", "([0-4])")')
_Q13 = (
    "sum by (cohort,user) (rate(error[1d])) "
    "/ on(cohort) group_left sum by (cohort) (rate(error[1d]))"
)
# group_left LABEL COPY from the one side (r5 verdict #2): q14 copies a
# fresh label; q15 copies onto an existing many-side label (overwrite).
_Q14 = (
    "sum by (cohort,user) (rate(error[1d])) "
    "* on(cohort) group_left(env) "
    'label_replace(sum by (cohort) (rate(click[1d])), '
    '"env", "prod-$1", "cohort", "(.*)")'
)
_Q15 = (
    'label_replace(sum by (cohort,user) (rate(error[1d])), '
    '"env", "app", "cohort", "(.*)") '
    "+ on(cohort) group_left(env) "
    'label_replace(sum by (cohort) (rate(click[1d])), '
    '"env", "prod-$1", "cohort", "(.*)")'
)
# histogram_fraction through the string front-end (round 7): hi=150 lands
# in the (100, +Inf] bucket (clamps to the max finite le), lo=25
# interpolates inside (10, 50] — both promql/quantile.go paths.
_Q16 = "histogram_fraction(25, 150, sum by (le) (rate(click_bucket[1d])))"

# DuckDB replicas. Shared rate-per-series CTE over the deduped samples;
# floor(x*1e6+0.5)/1e6 is the cross-engine rounding convention.
_ORACLE = (
    _DEDUP_CTE
    + f"""
    , rates AS (
      SELECT name, user_label, cohort,
             ts_ms - ts_ms % {DAY_MS} AS bucket_ms,
             arg_max(value, ts_ms) AS v_last, arg_min(value, ts_ms) AS v_first,
             max(ts_ms) AS t_last, min(ts_ms) AS t_first, count(*) AS n
      FROM samples GROUP BY 1, 2, 3, 4
    ), rate_s AS (
      SELECT name, user_label, cohort, bucket_ms,
             (v_last - v_first) / ((t_last - t_first) / 1000.0) AS r
      FROM rates WHERE n >= 2 AND t_last > t_first
    ),
    q1 AS (
      SELECT 'q1' AS query_id, 'cohort=' || cohort AS series_key,
             bucket_ms AS ts_ms,
             floor(CAST(sum(CAST(r AS DECIMAL(30,10))) AS DOUBLE)
                   * 1000000 + 0.5) / 1000000 AS value
      FROM rate_s
      WHERE name = 'click' AND regexp_matches(cohort, '^(?:[0-3])$')
      GROUP BY 2, 3
    ),
    bs AS (
      SELECT CAST(user_id % 10 AS VARCHAR) AS cohort, ts_ms, value
      FROM (
        SELECT *, epoch_ms(ts) AS ts_ms,
               row_number() OVER (PARTITION BY user_id, epoch_ms(ts)
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click'
      ) WHERE rn = 1
    ), per_ts AS (
      SELECT cohort, ts_ms,
             count(*) FILTER (WHERE value <= 10) AS c0,
             count(*) FILTER (WHERE value <= 50) AS c1,
             count(*) FILTER (WHERE value <= 100) AS c2,
             count(*) AS cinf
      FROM bs GROUP BY 1, 2
    ), cum AS (
      SELECT cohort, ts_ms,
             sum(c0) OVER w AS b0, sum(c1) OVER w AS b1,
             sum(c2) OVER w AS b2, sum(cinf) OVER w AS binf
      FROM per_ts
      WINDOW w AS (PARTITION BY cohort ORDER BY ts_ms
                   ROWS UNBOUNDED PRECEDING)
    ), bsam AS (
      SELECT cohort, 10.0 AS le, ts_ms, CAST(b0 AS DOUBLE) AS value FROM cum
      UNION ALL SELECT cohort, 50.0, ts_ms, CAST(b1 AS DOUBLE) FROM cum
      UNION ALL SELECT cohort, 100.0, ts_ms, CAST(b2 AS DOUBLE) FROM cum
      UNION ALL SELECT cohort, CAST('inf' AS DOUBLE), ts_ms,
                       CAST(binf AS DOUBLE) FROM cum
    ), brate AS (
      SELECT cohort, le, ts_ms - ts_ms % {DAY_MS} AS bucket_ms,
             arg_max(value, ts_ms) AS v_last, arg_min(value, ts_ms) AS v_first,
             max(ts_ms) AS t_last, min(ts_ms) AS t_first, count(*) AS n
      FROM bsam GROUP BY 1, 2, 3
    ), bsum AS (
      -- decimal-routed like the compiler's sum-by (order-independent and
      -- bit-identical across engines); the quantile interpolation divides
      -- by bucket deltas, which amplifies any last-bit sum divergence
      SELECT le, bucket_ms,
             CAST(sum(CAST((v_last - v_first) / ((t_last - t_first) / 1000.0)
                           AS DECIMAL(30,10))) AS DOUBLE) AS bucket_count
      FROM brate WHERE n >= 2 AND t_last > t_first GROUP BY 1, 2
    ), ben AS (
      SELECT le, bucket_ms, bucket_count,
             coalesce(lag(bucket_count) OVER w, 0) AS prev_count,
             coalesce(lag(le) OVER w, 0.0) AS prev_le,
             max(bucket_count) OVER (PARTITION BY bucket_ms) AS total,
             max(CASE WHEN le != CAST('inf' AS DOUBLE) THEN le END)
                 OVER (PARTITION BY bucket_ms) AS max_finite_le
      FROM bsum WINDOW w AS (PARTITION BY bucket_ms ORDER BY le)
    ), bhit AS (
      SELECT *, CAST(0.9 AS DOUBLE) * total AS rank_target,
             row_number() OVER (PARTITION BY bucket_ms ORDER BY le) AS rn
      FROM ben
      WHERE bucket_count >= CAST(0.9 AS DOUBLE) * total AND total > 0
    ),
    q2 AS (
      SELECT 'q2' AS query_id, '' AS series_key, bucket_ms AS ts_ms,
             floor((CASE WHEN le = CAST('inf' AS DOUBLE) THEN max_finite_le
                         WHEN bucket_count = prev_count THEN le
                         ELSE prev_le + (le - prev_le)
                              * (rank_target - prev_count)
                              / (bucket_count - prev_count) END)
                   * 1000000 + 0.5) / 1000000 AS value
      FROM bhit WHERE rn = 1
    ),
    inc AS (
      SELECT user_label, cohort, bucket_ms,
             CAST(sum(CAST(step_inc AS DECIMAL(30,10))) AS DOUBLE)
               AS increase, count(*) AS n
      FROM (
        SELECT user_label, cohort, ts_ms - ts_ms % {DAY_MS} AS bucket_ms,
               CASE WHEN prev IS NULL THEN NULL
                    WHEN value >= prev THEN value - prev
                    ELSE value END AS step_inc
        FROM (
          SELECT *, lag(value) OVER (
                   PARTITION BY user_label, cohort, ts_ms - ts_ms % {DAY_MS}
                   ORDER BY ts_ms) AS prev
          FROM samples WHERE name = 'purchase'
        )
      ) GROUP BY 1, 2, 3
    ), sum3 AS (
      SELECT user_label, bucket_ms,
             CAST(sum(CAST(increase AS DECIMAL(30,10))) AS DOUBLE) AS v
      FROM inc WHERE n >= 2 GROUP BY 1, 2
    ), rank3 AS (
      SELECT *, row_number() OVER (
               PARTITION BY bucket_ms
               ORDER BY v DESC, 'user=' || user_label ASC) AS rn
      FROM sum3
    ),
    q3 AS (
      SELECT 'q3' AS query_id, 'user=' || user_label AS series_key,
             bucket_ms AS ts_ms,
             floor(v * 1000000 + 0.5) / 1000000 AS value
      FROM rank3 WHERE rn <= 3
    ),
    m4 AS (
      SELECT user_label, cohort,
             (ts_ms + {DAY_MS}) - (ts_ms + {DAY_MS}) % {DAY_MS} AS bucket_ms,
             max(value) AS v
      FROM samples WHERE name = 'click' GROUP BY 1, 2, 3
    ),
    q4 AS (
      SELECT 'q4' AS query_id, 'cohort=' || cohort AS series_key,
             bucket_ms AS ts_ms,
             floor((CAST(sum(CAST(v AS DECIMAL(30,10))) AS DOUBLE)
                    / count(v)) * 1000000 + 0.5) / 1000000 AS value
      FROM m4 GROUP BY 2, 3
    ),
    s5 AS (
      SELECT cohort, bucket_ms AS ts_ms,
             CAST(sum(CAST(r AS DECIMAL(30,10))) AS DOUBLE) AS v
      FROM rate_s WHERE name = 'click' GROUP BY 1, 2
    ),
    q5 AS (
      SELECT 'q5' AS query_id, 'cohort=' || cohort AS series_key,
             ts_ms + i * {DAY_MS} AS eval_ms,
             floor(min(v) * 1000000 + 0.5) / 1000000 AS value
      FROM s5 CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i)
      GROUP BY 2, 3
    ),
    q6 AS (
      SELECT 'q6' AS query_id, 'cohort=' || cohort AS series_key,
             ts_ms, floor(v * 60 * 1000000 + 0.5) / 1000000 AS value
      FROM s5
    ),
    e7 AS (
      SELECT cohort, bucket_ms AS ts_ms,
             CAST(sum(CAST(r AS DECIMAL(30,10))) AS DOUBLE) AS v
      FROM rate_s WHERE name = 'error' GROUP BY 1, 2
    ),
    q7 AS (
      SELECT 'q7' AS query_id, 'cohort=' || e7.cohort AS series_key,
             e7.ts_ms,
             floor((e7.v / s5.v) * 1000000 + 0.5) / 1000000 AS value
      FROM e7 JOIN s5 ON s5.cohort = e7.cohort AND s5.ts_ms = e7.ts_ms
    ),
    q8 AS (
      SELECT 'q8' AS query_id, 'cohort=' || cohort AS series_key,
             ts_ms, floor(v * 1000000 + 0.5) / 1000000 AS value
      FROM s5 WHERE v > 0.001
    ),
    u9c AS (
      SELECT user_label, bucket_ms AS ts_ms,
             CAST(sum(CAST(r AS DECIMAL(30,10))) AS DOUBLE) AS v
      FROM rate_s WHERE name = 'click' GROUP BY 1, 2
    ),
    q9 AS (
      SELECT 'q9' AS query_id, 'user=' || user_label AS series_key,
             ts_ms, floor(v * 1000000 + 0.5) / 1000000 AS value
      FROM u9c c
      WHERE NOT EXISTS (
        SELECT 1 FROM rate_s p
        WHERE p.name = 'purchase' AND p.user_label = c.user_label
          AND p.bucket_ms = c.ts_ms
      )
    ),
    clk AS (
      SELECT user_label, cohort, ts_ms, value FROM samples WHERE name = 'click'
    ), b10 AS (
      SELECT ((min(ts_ms) + {DAY_MS} - 1) // {DAY_MS}) * {DAY_MS} AS lo,
             (max(ts_ms) // {DAY_MS}) * {DAY_MS} AS hi
      FROM clk
    ), st10 AS (
      SELECT unnest(generate_series(lo, hi, {DAY_MS})) AS step_ms FROM b10
    ), an10 AS (
      SELECT d.user_label, d.cohort, st.step_ms
      FROM (SELECT DISTINCT user_label, cohort FROM clk) d CROSS JOIN st10 st
    ), iv10 AS (
      SELECT user_label, cohort, step_ms, value FROM (
        SELECT a.user_label, a.cohort, a.step_ms, s.value,
               row_number() OVER (PARTITION BY a.user_label, a.cohort, a.step_ms
                                  ORDER BY s.ts_ms DESC) AS rn
        FROM an10 a JOIN clk s
          ON s.user_label = a.user_label AND s.cohort = a.cohort
         AND s.ts_ms <= a.step_ms AND s.ts_ms > a.step_ms - {DAY_MS}
      ) WHERE rn = 1
    ),
    q10 AS (
      SELECT 'q10' AS query_id, 'cohort=' || cohort AS series_key,
             step_ms AS ts_ms,
             floor(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE)
                   * 1000000 + 0.5) / 1000000 AS value
      FROM iv10 GROUP BY 2, 3
    ),
    quant11 AS (
      SELECT user_label, ts_ms - ts_ms % {DAY_MS} AS bucket_ms,
             (xm - ((xm % 1000) + 1000) % 1000) // 1000 AS x,
             CAST(round(value * 1000) AS BIGINT) AS y
      FROM (
        SELECT *, ts_ms - (ts_ms - ts_ms % {DAY_MS} + {DAY_MS}) AS xm
        FROM samples WHERE name = 'click' AND cohort = '3'
      )
    ), fit11 AS (
      SELECT user_label, bucket_ms, count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM quant11 GROUP BY 1, 2
    ),
    q11 AS (
      SELECT 'q11' AS query_id,
             'cohort=3,user=' || user_label AS series_key,
             bucket_ms AS ts_ms,
             floor(((sy - CAST(n * sxy - sx * sy AS DOUBLE)
                          / CAST(n * sxx - sx * sx AS DOUBLE) * sx) / n / 1000.0
                    + CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE) / 1000.0 * 3600.0)
                   * 1000000 + 0.5) / 1000000 AS value
      FROM fit11 WHERE n >= 2 AND n * sxx - sx * sx <> 0
    ),
    q12 AS (
      SELECT 'q12' AS query_id,
             CASE WHEN regexp_matches(cohort, '^(?:([0-4]))$')
                  THEN 'cohort=' || cohort || ',env=prod-' || cohort
                  ELSE 'cohort=' || cohort END AS series_key,
             ts_ms, floor(v * 1000000 + 0.5) / 1000000 AS value
      FROM s5
    ),
    eu13 AS (
      SELECT cohort, user_label, bucket_ms AS ts_ms,
             CAST(sum(CAST(r AS DECIMAL(30,10))) AS DOUBLE) AS v
      FROM rate_s WHERE name = 'error' GROUP BY 1, 2, 3
    ),
    ec13 AS (
      SELECT cohort, bucket_ms AS ts_ms,
             CAST(sum(CAST(r AS DECIMAL(30,10))) AS DOUBLE) AS v
      FROM rate_s WHERE name = 'error' GROUP BY 1, 2
    ),
    q13 AS (
      SELECT 'q13' AS query_id,
             'cohort=' || u.cohort || ',user=' || u.user_label AS series_key,
             u.ts_ms, floor((u.v / c.v) * 1000000 + 0.5) / 1000000 AS value
      FROM eu13 u JOIN ec13 c ON c.cohort = u.cohort AND c.ts_ms = u.ts_ms
    ),
    q14 AS (
      -- group_left(env): many side (error by cohort,user) keeps its
      -- labels, env copied from the one side (click by cohort,
      -- label_replace'd to env=prod-<cohort>); canonical key sorts labels
      SELECT 'q14' AS query_id,
             'cohort=' || u.cohort || ',env=prod-' || u.cohort
               || ',user=' || u.user_label AS series_key,
             u.ts_ms, floor((u.v * c.v) * 1000000 + 0.5) / 1000000 AS value
      FROM eu13 u JOIN s5 c ON c.cohort = u.cohort AND c.ts_ms = u.ts_ms
    ),
    q15 AS (
      -- copied env OVERWRITES the many side's env=app
      SELECT 'q15' AS query_id,
             'cohort=' || u.cohort || ',env=prod-' || u.cohort
               || ',user=' || u.user_label AS series_key,
             u.ts_ms, floor((u.v + c.v) * 1000000 + 0.5) / 1000000 AS value
      FROM eu13 u JOIN s5 c ON c.cohort = u.cohort AND c.ts_ms = u.ts_ms
    ),
    q16 AS (
      -- histogram_fraction(25, 150, ...): interpolated cumulative rank at
      -- each endpoint inside its bucket (+Inf bucket clamps to the count
      -- at the max finite le), fraction = (r_hi - r_lo) / total — the
      -- exact arithmetic of functions/promql.histogram_fraction over the
      -- same ben CTE the q2 quantile uses
      SELECT 'q16' AS query_id, '' AS series_key, bucket_ms AS ts_ms,
             floor(((coalesce(max(CASE WHEN 150.0 > prev_le AND 150.0 <= le
                       THEN CASE WHEN le = CAST('inf' AS DOUBLE)
                                 THEN CAST(prev_count AS DOUBLE)
                                 ELSE prev_count + (bucket_count - prev_count)
                                      * (150.0 - prev_le) / (le - prev_le)
                            END END),
                     CAST(max(total) AS DOUBLE))
                   - coalesce(max(CASE WHEN 25.0 > prev_le AND 25.0 <= le
                       THEN CASE WHEN le = CAST('inf' AS DOUBLE)
                                 THEN CAST(prev_count AS DOUBLE)
                                 ELSE prev_count + (bucket_count - prev_count)
                                      * (25.0 - prev_le) / (le - prev_le)
                            END END),
                     0.0))
                    / max(total)) * 1000000 + 0.5) / 1000000 AS value
      FROM ben GROUP BY bucket_ms
    )
    SELECT * FROM (
      SELECT * FROM q1 UNION ALL SELECT * FROM q2 UNION ALL
      SELECT * FROM q3 UNION ALL SELECT * FROM q4 UNION ALL
      SELECT query_id, series_key, eval_ms, value FROM q5 UNION ALL
      SELECT * FROM q6 UNION ALL
      SELECT * FROM q7 UNION ALL SELECT * FROM q8 UNION ALL
      SELECT * FROM q9 UNION ALL SELECT * FROM q10 UNION ALL
      SELECT * FROM q11 UNION ALL SELECT * FROM q12 UNION ALL
      SELECT * FROM q13 UNION ALL SELECT * FROM q14 UNION ALL
      SELECT * FROM q15 UNION ALL SELECT * FROM q16
    ) ORDER BY query_id, series_key, ts_ms
    """
)


@register("promql_parse_eval", oracle=_ORACLE)
def promql_parse_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sixteen PromQL strings -> parser -> compiler -> engine, all rows
    hash-gated against DuckDB replicas (see module docstring). The string
    path exercises matchers, range functions (aligned + sliding), offset,
    by-aggregation, topk, a subquery, scalar arithmetic, the RFC flagship
    histogram_quantile-over-rate shape, group_left label copying (fresh
    label q14, overwriting copy q15), and histogram_fraction with both
    interpolated and +Inf-clamped endpoints (q16)."""
    eng = _engine(spark, sf_dir)
    beng = _bucket_engine(spark, sf_dir)
    suite = [
        ("q1", eng, _Q1),
        ("q2", beng, _Q2),
        ("q3", eng, _Q3),
        ("q4", eng, _Q4),
        ("q5", eng, _Q5),
        ("q6", eng, _Q6),
        ("q7", eng, _Q7),
        ("q8", eng, _Q8),
        ("q9", eng, _Q9),
        ("q10", eng, _Q10),
        ("q11", eng, _Q11),
        ("q12", eng, _Q12),
        ("q13", eng, _Q13),
        ("q14", eng, _Q14),
        ("q15", eng, _Q15),
        ("q16", beng, _Q16),
    ]
    # Each string EXECUTES as its own small concurrent job
    # (promql_eval_many): one 16-branch union action
    # makes AQE re-optimize a ~60-exchange plan at every materialized
    # stage (5.3-5.5 s wall at sf0.1 against ~0.3 s of parallel executor
    # work), while 16 pooled localCheckpoint jobs overlap their stage
    # waves — 3.3 s total. The tag+rounding projection rides into the
    # checkpoint so only final rows materialize; the union below scans
    # executor-resident blocks.
    tags = [t for t, _, _ in suite]

    def post(out: DataFrame, i: int) -> DataFrame:
        return out.select(
            F.lit(tags[i]).alias("query_id"),
            "series_key",
            "ts_ms",
            (F.floor(F.col("value") * 1_000_000 + 0.5) / 1_000_000).alias(
                "value"
            ),
        )

    # promql_eval_many also localCheckpoints both engines' derived tables
    # (scan → D10 dedup → series key) ONCE for the batch instead of
    # re-analyzing and re-executing them inside all 16 string plans
    # (round 14, best-of-4 interleaved at sf0.1: 8.8 s → 6.4 s, rows
    # byte-identical, oracle-gated). See MetricEngine.materialized().
    parts = promql_eval_many(
        [(engine, q) for _, engine, q in suite], DAY_MS, post=post
    )
    from functools import reduce

    allq = reduce(DataFrame.unionByName, parts)
    return allq.orderBy("query_id", "series_key", "ts_ms")

_STREAM_CACHE: dict[str, DataFrame] = {}


@register(
    "streaming_promql_eval",
    oracle=_DEDUP_CTE
    + f"""
    , r AS (
      SELECT cohort, ts_ms - ts_ms % {DAY_MS} AS bucket_ms,
             arg_max(value, ts_ms) AS v_last, arg_min(value, ts_ms) AS v_first,
             max(ts_ms) AS t_last, min(ts_ms) AS t_first, count(*) AS n
      FROM samples WHERE name = 'click'
      GROUP BY cohort, user_label, 2
    )
    SELECT 'cohort=' || cohort AS series_key, bucket_ms AS ts_ms,
           floor(CAST(sum(CAST((v_last - v_first)
                               / ((t_last - t_first) / 1000.0)
                               AS DECIMAL(30,10))) AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS value
    FROM r WHERE n >= 2 AND t_last > t_first
    GROUP BY 1, 2 ORDER BY series_key, ts_ms
    """,
)
def streaming_promql_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS PromQL: the event stream (4 time-sliced micro-batches)
    accumulates into the sample store and the SAME PromQL string —
    ``sum by (cohort) (rate(click[1d]))`` — is re-compiled and re-evaluated
    after every batch (the dashboard-refresh loop). The final evaluation
    must equal the one-shot batch evaluation of all data: continuous
    re-evaluation is indistinguishable from a rebuild. Each refresh runs
    the parser -> compiler -> engine path end to end; the incremental-
    maintenance alternative for heavy aggregates is the continuous-rollup
    machinery (streaming_continuous_rollup)."""
    import tempfile

    key = f"stream_promql:{sf_dir}"
    if key in _STREAM_CACHE:
        return _STREAM_CACHE[key]
    ev = events_ms(spark, sf_dir).select(
        "event_id", "ts_ms", "user_id", "event_type", "value"
    )
    src = tempfile.mkdtemp(prefix="promql_stream_src_")
    ev.repartitionByRange(4, "ts_ms").write.mode("overwrite").parquet(src)
    acc = tempfile.mkdtemp(prefix="promql_stream_acc_") + "/samples"
    evals: list[int] = []
    final: list[DataFrame] = []

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df.write.mode("append").parquet(acc)
        samples = events_to_samples(spark.read.parquet(acc))
        out = promql_eval(
            MetricEngine(samples),
            "sum by (cohort) (rate(click[1d]))",
            DAY_MS,
        )
        evals.append(out.count())
        final.clear()
        final.append(out)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="promql_stream_ck_")
        )
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert len(evals) >= 3 and evals[-1] >= evals[0], evals
    _STREAM_CACHE[key] = final[0].select(
        "series_key",
        "ts_ms",
        (F.floor(F.col("value") * 1_000_000 + 0.5) / 1_000_000).alias("value"),
    ).orderBy("series_key", "ts_ms")
    return _STREAM_CACHE[key]


@register(
    "promql_alert_states",
    oracle=_DEDUP_CTE
    + f"""
    , ar AS (
      SELECT name, user_label, cohort,
             ts_ms - ts_ms % {DAY_MS} AS bucket_ms,
             arg_max(value, ts_ms) AS v_last, arg_min(value, ts_ms) AS v_first,
             max(ts_ms) AS t_last, min(ts_ms) AS t_first, count(*) AS n
      FROM samples GROUP BY 1, 2, 3, 4
    ), ars AS (
      SELECT name, cohort, bucket_ms,
             (v_last - v_first) / ((t_last - t_first) / 1000.0) AS r
      FROM ar WHERE n >= 2 AND t_last > t_first
    ), ratio AS (
      SELECT e.cohort, e.bucket_ms, e.v / c.v AS value
      FROM (SELECT cohort, bucket_ms,
                   CAST(sum(CAST(r AS DECIMAL(30,10))) AS DOUBLE) AS v
            FROM ars WHERE name = 'error' GROUP BY 1, 2) e
      JOIN (SELECT cohort, bucket_ms,
                   CAST(sum(CAST(r AS DECIMAL(30,10))) AS DOUBLE) AS v
            FROM ars WHERE name = 'click' GROUP BY 1, 2) c
        ON c.cohort = e.cohort AND c.bucket_ms = e.bucket_ms
    ), hot AS (
      SELECT cohort, bucket_ms, value,
             bucket_ms // {DAY_MS}
               - row_number() OVER (PARTITION BY cohort ORDER BY bucket_ms)
               AS grp
      FROM ratio WHERE value > 0.02
    ), runs AS (
      SELECT cohort, bucket_ms, value,
             row_number() OVER (PARTITION BY cohort, grp ORDER BY bucket_ms)
               AS pos
      FROM hot
    )
    SELECT 'HighErrorRatio' AS alertname, 'cohort=' || cohort AS series_key,
           bucket_ms AS ts_ms,
           floor(value * 1000000 + 0.5) / 1000000 AS value,
           CASE WHEN pos >= 2 THEN 'firing' ELSE 'pending' END AS state,
           bucket_ms - (pos - 1) * {DAY_MS} AS active_since_ms
    FROM runs
    ORDER BY series_key, ts_ms
    """,
)
def promql_alert_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-step alert STATES for the same error-ratio rule: every step the
    expression returns a series is `pending` until the consecutive run
    reaches `for:` steps, then `firing`; active_since_ms is the run start
    (Prometheus ActiveAt — what /api/v1/alerts serves). Superset of
    promql_alerting_rules, which keeps only the firing subset."""
    from horaedb_spark.metric.rules import AlertingRule, evaluate_alert_states

    eng = _engine(spark, sf_dir)
    rule = AlertingRule(
        "HighErrorRatio",
        "sum by (cohort) (rate(error[1d])) "
        "/ sum by (cohort) (rate(click[1d])) > 0.02",
        DAY_MS,
        for_steps=2,
    )
    out = evaluate_alert_states(eng, rule)
    return out.select(
        "alertname",
        "series_key",
        "ts_ms",
        (F.floor(F.col("value") * 1_000_000 + 0.5) / 1_000_000).alias("value"),
        "state",
        "active_since_ms",
    ).orderBy("series_key", "ts_ms")

@register(
    "promql_recording_rules",
    oracle=_DEDUP_CTE
    + f"""
    , rr AS (
      SELECT name, user_label, cohort,
             ts_ms - ts_ms % {DAY_MS} AS bucket_ms,
             arg_max(value, ts_ms) AS v_last, arg_min(value, ts_ms) AS v_first,
             max(ts_ms) AS t_last, min(ts_ms) AS t_first, count(*) AS n
      FROM samples GROUP BY 1, 2, 3, 4
    ), rs AS (
      SELECT name, cohort, bucket_ms,
             (v_last - v_first) / ((t_last - t_first) / 1000.0) AS r
      FROM rr WHERE n >= 2 AND t_last > t_first
    ), click_s AS (
      SELECT cohort, bucket_ms,
             CAST(sum(CAST(r AS DECIMAL(30,10))) AS DOUBLE) AS v
      FROM rs WHERE name = 'click' GROUP BY 1, 2
    ), err_s AS (
      SELECT cohort, bucket_ms,
             CAST(sum(CAST(r AS DECIMAL(30,10))) AS DOUBLE) AS v
      FROM rs WHERE name = 'error' GROUP BY 1, 2
    )
    SELECT name, series_key, ts_ms,
           floor(value * 1000000 + 0.5) / 1000000 AS value
    FROM (
      SELECT 'cohort:click:rate1d' AS name, 'cohort=' || cohort AS series_key,
             bucket_ms AS ts_ms, v AS value
      FROM click_s
      UNION ALL
      SELECT 'cohort:error_click:ratio1d', 'cohort=' || e.cohort,
             e.bucket_ms, e.v / c.v
      FROM err_s e JOIN click_s c
        ON c.cohort = e.cohort AND c.bucket_ms = e.bucket_ms
    ) ORDER BY name, series_key, ts_ms
    """,
)
def promql_recording_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus recording rules over the engine: two rules — a per-cohort
    click rate and the error/click ratio (a vector-vector string) — are
    evaluated through the PromQL parser and PERSISTED as first-class series
    in a (name, series_key, ts_ms)-keyed ColumnarTable via bulk_ingest.
    Recording runs TWICE to prove idempotency (OVERWRITE merge: re-recorded
    points overwrite, never duplicate); the scan of the recorded table must
    equal the direct evaluation of both rules. Recorded names use the
    Prometheus ``level:metric:operation`` convention and the table is
    itself a valid sample store (rules compose via engine_over)."""
    import tempfile

    from horaedb_spark.metric.rules import (
        RecordingRule,
        RuleEvaluator,
        rules_table_schema,
    )
    from horaedb_spark.storage.table import ColumnarTable

    eng = _engine(spark, sf_dir)
    table = ColumnarTable(
        spark,
        tempfile.mkdtemp(prefix="promql_rules_") + "/t",
        rules_table_schema(),
        15 * DAY_MS,
    )
    rules = [
        RecordingRule(
            "cohort:click:rate1d", "sum by (cohort) (rate(click[1d]))", DAY_MS
        ),
        RecordingRule(
            "cohort:error_click:ratio1d",
            "sum by (cohort) (rate(error[1d])) "
            "/ sum by (cohort) (rate(click[1d]))",
            DAY_MS,
        ),
    ]
    ev = RuleEvaluator(eng, table)
    ev.record(rules)
    ev.record(rules)  # idempotent re-evaluation: overwrite, not duplicate
    return (
        table.scan()
        .select(
            "name",
            "series_key",
            "ts_ms",
            (F.floor(F.col("value") * 1_000_000 + 0.5) / 1_000_000).alias(
                "value"
            ),
        )
        .orderBy("name", "series_key", "ts_ms")
    )

@register(
    "promql_alerting_rules",
    oracle=_DEDUP_CTE
    + f"""
    , ar AS (
      SELECT name, user_label, cohort,
             ts_ms - ts_ms % {DAY_MS} AS bucket_ms,
             arg_max(value, ts_ms) AS v_last, arg_min(value, ts_ms) AS v_first,
             max(ts_ms) AS t_last, min(ts_ms) AS t_first, count(*) AS n
      FROM samples GROUP BY 1, 2, 3, 4
    ), ars AS (
      SELECT name, cohort, bucket_ms,
             (v_last - v_first) / ((t_last - t_first) / 1000.0) AS r
      FROM ar WHERE n >= 2 AND t_last > t_first
    ), ratio AS (
      SELECT e.cohort, e.bucket_ms, e.v / c.v AS value
      FROM (SELECT cohort, bucket_ms,
                   CAST(sum(CAST(r AS DECIMAL(30,10))) AS DOUBLE) AS v
            FROM ars WHERE name = 'error' GROUP BY 1, 2) e
      JOIN (SELECT cohort, bucket_ms,
                   CAST(sum(CAST(r AS DECIMAL(30,10))) AS DOUBLE) AS v
            FROM ars WHERE name = 'click' GROUP BY 1, 2) c
        ON c.cohort = e.cohort AND c.bucket_ms = e.bucket_ms
    ), hot AS (
      SELECT cohort, bucket_ms, value,
             bucket_ms // {DAY_MS}
               - row_number() OVER (PARTITION BY cohort ORDER BY bucket_ms)
               AS grp
      FROM ratio WHERE value > 0.02
    ), runs AS (
      SELECT cohort, bucket_ms, value,
             row_number() OVER (PARTITION BY cohort, grp ORDER BY bucket_ms)
               AS pos
      FROM hot
    )
    SELECT 'HighErrorRatio' AS alertname, 'cohort=' || cohort AS series_key,
           bucket_ms AS ts_ms,
           floor(value * 1000000 + 0.5) / 1000000 AS value
    FROM runs WHERE pos >= 2
    ORDER BY series_key, ts_ms
    """,
)
def promql_alerting_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus alerting rules with `for:` duration: the error/click
    ratio rule fires only after TWO consecutive steps above threshold
    (pending -> firing on the step grid, gaps-and-islands run detection —
    one window per series, no self-join). The expression is a full PromQL
    string through the parser, threshold comparison included."""
    from horaedb_spark.metric.rules import AlertingRule, evaluate_alerts

    eng = _engine(spark, sf_dir)
    rule = AlertingRule(
        "HighErrorRatio",
        "sum by (cohort) (rate(error[1d])) "
        "/ sum by (cohort) (rate(click[1d])) > 0.02",
        DAY_MS,
        for_steps=2,
    )
    out = evaluate_alerts(eng, rule)
    return out.select(
        "alertname",
        "series_key",
        "ts_ms",
        (F.floor(F.col("value") * 1_000_000 + 0.5) / 1_000_000).alias("value"),
    ).orderBy("series_key", "ts_ms")



@register(
    "promql_power_div_guard",
    oracle=_DEDUP_CTE
    + f"""
    , clkp AS (
      SELECT user_label, cohort, ts_ms, value
      FROM samples WHERE name = 'click'
    ), bp AS (
      SELECT ((min(ts_ms) + {DAY_MS} - 1) // {DAY_MS}) * {DAY_MS} AS lo,
             (max(ts_ms) // {DAY_MS}) * {DAY_MS} AS hi
      FROM clkp
    ), stp AS (
      SELECT unnest(generate_series(lo, hi, {DAY_MS})) AS step_ms FROM bp
    ), anp AS (
      SELECT d.user_label, d.cohort, st.step_ms
      FROM (SELECT DISTINCT user_label, cohort FROM clkp) d
      CROSS JOIN stp st
    ), ivp AS (
      -- instant vector on the step grid: last sample per series within
      -- (step - 1d, step]
      SELECT user_label, cohort, step_ms, value FROM (
        SELECT a.user_label, a.cohort, a.step_ms, s.value,
               row_number() OVER (PARTITION BY a.user_label, a.cohort,
                                  a.step_ms ORDER BY s.ts_ms DESC) AS rn
        FROM anp a JOIN clkp s
          ON s.user_label = a.user_label AND s.cohort = a.cohort
         AND s.ts_ms <= a.step_ms AND s.ts_ms > a.step_ms - {DAY_MS}
      ) WHERE rn = 1
    ), agg AS (
      SELECT cohort, step_ms,
             CAST(sum(CAST(power(value, 2) AS DECIMAL(30,10))) AS DOUBLE)
               AS p,
             CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS s
      FROM ivp GROUP BY 1, 2
    )
    SELECT 'cohort=' || cohort AS series_key, step_ms AS ts_ms,
           floor((p / s) * 1000000 + 0.5) / 1000000 AS value
    FROM agg WHERE s <> 0
    ORDER BY series_key, ts_ms
    """,
)
def promql_power_div_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``^`` operator through the full string path (round 6: lexer
    token, unary/power precedence ladder, Go math.Pow semantics) composed
    with the ANSI-safe division guard: ``sum by (cohort) (click ^ 2) /
    sum by (cohort) (click)`` — per-cohort second-moment ratio. The oracle
    drops zero divisors (DuckDB division has no IEEE Inf path to compare);
    the engine's +Inf rows are exercised by unit tests instead
    (tests/test_promql_scalar_property.py)."""
    eng = _engine(spark, sf_dir)
    out = promql_eval(
        eng,
        "sum by (cohort) (click ^ 2) / sum by (cohort) (click)",
        DAY_MS,
    )
    return (
        out.filter(~F.col("value").isin(float("inf"), float("-inf")))
        .filter(~F.isnan("value"))
        .select(
            "series_key",
            "ts_ms",
            (F.floor(F.col("value") * 1_000_000 + 0.5) / 1_000_000).alias(
                "value"
            ),
        )
        .orderBy("series_key", "ts_ms")
    )


@register(
    "promql_atan2_at_end",
    oracle=_DEDUP_CTE
    + f"""
    , pool AS (
      SELECT name, user_label, cohort, ts_ms, value
      FROM samples WHERE name IN ('click', 'error')
    ), bnd AS (
      -- the compiler's grid bounds derive from the ENGINE's full data
      -- range (all metrics), ceil/floor to the step
      SELECT ((min(ts_ms) + {DAY_MS} - 1) // {DAY_MS}) * {DAY_MS} AS lo,
             (max(ts_ms) // {DAY_MS}) * {DAY_MS} AS hi
      FROM samples
    ), stg AS (
      SELECT unnest(generate_series(lo, hi, {DAY_MS})) AS step_ms FROM bnd
    ), ang AS (
      SELECT d.name, d.user_label, d.cohort, st.step_ms
      FROM (SELECT DISTINCT name, user_label, cohort FROM pool) d
      CROSS JOIN stg st
    ), iv AS (
      SELECT name, user_label, cohort, step_ms, value FROM (
        SELECT a.name, a.user_label, a.cohort, a.step_ms, s.value,
               row_number() OVER (PARTITION BY a.name, a.user_label,
                                  a.cohort, a.step_ms
                                  ORDER BY s.ts_ms DESC) AS rn
        FROM ang a JOIN pool s
          ON s.name = a.name AND s.user_label = a.user_label
         AND s.cohort = a.cohort
         AND s.ts_ms <= a.step_ms AND s.ts_ms > a.step_ms - {DAY_MS}
      ) WHERE rn = 1
    ), agg AS (
      SELECT name, cohort, step_ms,
             CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS v
      FROM iv GROUP BY 1, 2, 3
    ), lastg AS (SELECT max(step_ms) AS at_ms FROM stg)
    SELECT 'cohort=' || c.cohort AS series_key, c.step_ms AS ts_ms,
           floor(atan2(c.v, e.v) * 1000000 + 0.5) / 1000000 AS value
    FROM agg c JOIN agg e
      ON e.cohort = c.cohort AND e.step_ms = c.step_ms
     AND c.name = 'click' AND e.name = 'error'
    JOIN lastg ON c.step_ms = lastg.at_ms
    ORDER BY series_key, ts_ms
    """,
)
def promql_atan2_at_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6 operator-ladder additions under the hash gate:
    ``atan2`` as a vector-vector keyword operator (MUL precedence, label
    matching like any arithmetic binop) composed with the ``@ end()``
    evaluation pin (resolved from the compiler's grid bounds) —
    ``sum by (cohort) (click @ end()) atan2 sum by (cohort) (error @
    end())``. One row per cohort at the final grid step."""
    eng = _engine(spark, sf_dir)
    out = promql_eval(
        eng,
        "sum by (cohort) (click @ end()) "
        "atan2 sum by (cohort) (error @ end())",
        DAY_MS,
    )
    return out.select(
        "series_key",
        "ts_ms",
        (F.floor(F.col("value") * 1_000_000 + 0.5) / 1_000_000).alias("value"),
    ).orderBy("series_key", "ts_ms")
