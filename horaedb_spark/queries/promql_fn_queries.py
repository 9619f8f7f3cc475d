"""PromQL function-surface widening under the oracle gate (round 6).

``promql_fn_eval`` runs twenty-two PromQL strings through the parser/compiler
(``metric/promql.py``) covering the functions wired this round — changes/
resets, stddev/stdvar/present/mad_over_time, sgn, 3-arg clamp, vector(),
time(), scalar(), timestamp(), date functions, absent(), absent_over_time()
— plus limitk/limit_ratio/count_values aggregations, the trigonometry batch (sin/atan/deg) and pi() — and hash-matches every row against DuckDB replicas. The Prometheus
semantics mirrored here are the reference's RFC query surface
(docs/rfcs/20220702-prometheus-read-extension.md:84-99); the kernels are the
ones already oracle-gated operator-by-operator in
``functions/promql.py`` — this query pins the STRING front-end dispatch.

Scalar results (``time()``, ``scalar(v)``) are step-grid frames joined on
ts_ms only (O(steps) rows, broadcast) — no label matching, exactly
Prometheus's vector-scalar rule.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from horaedb_spark.metric.promql import promql_eval, promql_eval_many
from horaedb_spark.queries.metric_queries import _DEDUP_CTE, _engine
from horaedb_spark.queries.registry import register

DAY_MS = 86_400_000

_QS = [
    ("f1", 'changes(click{cohort="3"}[1d])'),
    ("f2", "resets(purchase[1d])"),
    ("f3", 'stddev_over_time(click{cohort="3"}[1d])'),
    ("f4", 'stdvar_over_time(click{cohort="3"}[1d])'),
    ("f5", "present_over_time(error[1d])"),
    ("f6", 'mad_over_time(click{cohort="3"}[1d])'),
    ("f7", "sgn(sum by (cohort) (rate(error[1d])) - 0.001)"),
    ("f8", "clamp(sum by (cohort) (rate(click[1d])), 0.0005, 0.002)"),
    ("f9", "vector(21) * 2"),
    ("f10", "day_of_week(vector(time()))"),
    ("f11", 'timestamp(click{cohort="3"})'),
    ("f12", 'absent(click{cohort="99"})'),
    ("f13", 'absent_over_time(click{cohort="99"}[2d])'),
    ("f14", "sum by (cohort) (rate(click[1d])) - time()"),
    ("f15", "sum by (cohort) (rate(click[1d])) / scalar(sum(rate(click[1d])))"),
    ("f16", "limitk(2, sum by (cohort) (rate(click[1d])))"),
    ("f17", "limit_ratio(0.5, sum by (cohort) (rate(click[1d])))"),
    ("f18", "limit_ratio(-0.5, sum by (cohort) (rate(click[1d])))"),
    (
        "f19",
        'count_values("rounds", '
        "round(sum by (cohort) (rate(click[1d])) * 86400))",
    ),
    ("f20", "sin(sum by (cohort) (rate(click[1d])))"),
    ("f21", "deg(atan(sum by (cohort) (rate(click[1d]))))"),
    ("f22", "vector(pi())"),
]

# DuckDB replicas. rate_s is the shared per-series rate CTE (same decimal
# routing as the compiler's _DEC_SUM); gb/grid is the evaluation spine the
# compiler derives from the engine's data range (ceil/floor step alignment).
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
    ), gb AS (
      SELECT ((min(ts_ms) + {DAY_MS} - 1) // {DAY_MS}) * {DAY_MS} AS lo,
             (max(ts_ms) // {DAY_MS}) * {DAY_MS} AS hi
      FROM samples
    ), grid AS (
      SELECT unnest(generate_series(lo, hi, {DAY_MS})) AS ts_ms FROM gb
    ),
    lag_click AS (
      SELECT user_label, cohort, ts_ms - ts_ms % {DAY_MS} AS bucket_ms, value,
             lag(value) OVER (
               PARTITION BY user_label, cohort, ts_ms - ts_ms % {DAY_MS}
               ORDER BY ts_ms) AS prev
      FROM samples WHERE name = 'click'
    ), tc_click AS (
      SELECT user_label, cohort, bucket_ms, count(*) AS n,
             count(*) FILTER (WHERE value <> prev) AS changes,
             count(*) FILTER (WHERE value < prev) AS resets
      FROM lag_click GROUP BY 1, 2, 3
    ),
    f1 AS (
      SELECT 'f1' AS query_id,
             'cohort=3,user=' || user_label AS series_key,
             bucket_ms AS ts_ms, CAST(changes AS DOUBLE) AS value
      FROM tc_click WHERE cohort = '3' AND n >= 2
    ),
    lag_pur AS (
      SELECT user_label, cohort, ts_ms - ts_ms % {DAY_MS} AS bucket_ms, value,
             lag(value) OVER (
               PARTITION BY user_label, cohort, ts_ms - ts_ms % {DAY_MS}
               ORDER BY ts_ms) AS prev
      FROM samples WHERE name = 'purchase'
    ),
    f2 AS (
      SELECT 'f2' AS query_id,
             'cohort=' || cohort || ',user=' || user_label AS series_key,
             bucket_ms AS ts_ms,
             CAST(count(*) FILTER (WHERE value < prev) AS DOUBLE) AS value
      FROM lag_pur GROUP BY 2, 3
      HAVING count(*) >= 2
    ),
    qz3 AS (
      -- the kernel's 1e-3 quantization: exact int64 sums, order-independent
      SELECT user_label, ts_ms - ts_ms % {DAY_MS} AS bucket_ms,
             CAST(floor(value * 1000 + 0.5) AS BIGINT) AS q
      FROM samples WHERE name = 'click' AND cohort = '3'
    ), sv3 AS (
      SELECT user_label, bucket_ms, count(*) AS n,
             CAST(sum(q) AS BIGINT) AS sq, CAST(sum(q * q) AS BIGINT) AS sq2
      FROM qz3 GROUP BY 1, 2
    ), var3 AS (
      SELECT user_label, bucket_ms,
             CAST(n * sq2 - sq * sq AS DOUBLE) / (n * n) / 1000000.0 AS var
      FROM sv3
    ),
    f3 AS (
      SELECT 'f3' AS query_id,
             'cohort=3,user=' || user_label AS series_key,
             bucket_ms AS ts_ms,
             floor(sqrt(var) * 1000000 + 0.5) / 1000000 AS value
      FROM var3
    ),
    f4 AS (
      SELECT 'f4' AS query_id,
             'cohort=3,user=' || user_label AS series_key,
             bucket_ms AS ts_ms,
             floor(var * 1000000 + 0.5) / 1000000 AS value
      FROM var3
    ),
    f5 AS (
      SELECT DISTINCT 'f5' AS query_id,
             'cohort=' || cohort || ',user=' || user_label AS series_key,
             ts_ms - ts_ms % {DAY_MS} AS ts_ms, 1.0 AS value
      FROM samples WHERE name = 'error'
    ),
    mb6 AS (
      SELECT user_label, ts_ms - ts_ms % {DAY_MS} AS bucket_ms, value
      FROM samples WHERE name = 'click' AND cohort = '3'
    ), med6 AS (
      SELECT user_label, bucket_ms, quantile_cont(value, 0.5) AS m
      FROM mb6 GROUP BY 1, 2
    ),
    f6 AS (
      SELECT 'f6' AS query_id,
             'cohort=3,user=' || b.user_label AS series_key,
             b.bucket_ms AS ts_ms,
             floor(quantile_cont(abs(b.value - m.m), 0.5) * 1000000 + 0.5)
               / 1000000 AS value
      FROM mb6 b JOIN med6 m
        ON m.user_label = b.user_label AND m.bucket_ms = b.bucket_ms
      GROUP BY 2, 3
    ),
    err_s AS (
      SELECT cohort, bucket_ms,
             CAST(sum(CAST(r AS DECIMAL(30,10))) AS DOUBLE) AS v
      FROM rate_s WHERE name = 'error' GROUP BY 1, 2
    ),
    f7 AS (
      SELECT 'f7' AS query_id, 'cohort=' || cohort AS series_key,
             bucket_ms AS ts_ms, CAST(sign(v - 0.001) AS DOUBLE) AS value
      FROM err_s
    ),
    clk_s AS (
      SELECT cohort, bucket_ms,
             CAST(sum(CAST(r AS DECIMAL(30,10))) AS DOUBLE) AS v
      FROM rate_s WHERE name = 'click' GROUP BY 1, 2
    ),
    f8 AS (
      SELECT 'f8' AS query_id, 'cohort=' || cohort AS series_key,
             bucket_ms AS ts_ms,
             floor(least(greatest(v, 0.0005), 0.002) * 1000000 + 0.5)
               / 1000000 AS value
      FROM clk_s
    ),
    f9 AS (
      SELECT 'f9' AS query_id, '' AS series_key, ts_ms, 42.0 AS value
      FROM grid
    ),
    f10 AS (
      SELECT 'f10' AS query_id, '' AS series_key, ts_ms,
             CAST((ts_ms // {DAY_MS} + 4) % 7 AS DOUBLE) AS value
      FROM grid
    ),
    c11 AS (
      SELECT user_label, ts_ms
      FROM samples WHERE name = 'click' AND cohort = '3'
    ), b11 AS (
      SELECT ((min(ts_ms) + {DAY_MS} - 1) // {DAY_MS}) * {DAY_MS} AS lo,
             (max(ts_ms) // {DAY_MS}) * {DAY_MS} AS hi
      FROM c11
    ), st11 AS (
      SELECT unnest(generate_series(lo, hi, {DAY_MS})) AS step_ms FROM b11
    ), an11 AS (
      SELECT d.user_label, st.step_ms
      FROM (SELECT DISTINCT user_label FROM c11) d CROSS JOIN st11 st
    ),
    f11 AS (
      SELECT 'f11' AS query_id,
             'cohort=3,user=' || a.user_label AS series_key,
             a.step_ms AS ts_ms,
             floor((max(s.ts_ms) / 1000.0) * 1000000 + 0.5) / 1000000 AS value
      FROM an11 a JOIN c11 s
        ON s.user_label = a.user_label
       AND s.ts_ms <= a.step_ms AND s.ts_ms > a.step_ms - {DAY_MS}
      GROUP BY 2, 3
    ),
    f12 AS (
      SELECT 'f12' AS query_id, 'cohort=99' AS series_key, ts_ms, 1.0 AS value
      FROM grid
    ),
    f13 AS (
      SELECT 'f13' AS query_id, 'cohort=99' AS series_key, ts_ms, 1.0 AS value
      FROM grid
    ),
    f14 AS (
      SELECT 'f14' AS query_id, 'cohort=' || c.cohort AS series_key,
             c.bucket_ms AS ts_ms,
             floor((c.v - c.bucket_ms / 1000.0) * 1000000 + 0.5) / 1000000
               AS value
      FROM clk_s c JOIN grid g ON g.ts_ms = c.bucket_ms
    ),
    tot_s AS (
      SELECT bucket_ms,
             CAST(sum(CAST(r AS DECIMAL(30,10))) AS DOUBLE) AS v
      FROM rate_s WHERE name = 'click' GROUP BY 1
    ),
    f15 AS (
      SELECT 'f15' AS query_id, 'cohort=' || c.cohort AS series_key,
             c.bucket_ms AS ts_ms,
             floor((c.v / t.v) * 1000000 + 0.5) / 1000000 AS value
      FROM clk_s c
      JOIN tot_s t ON t.bucket_ms = c.bucket_ms
      JOIN grid g ON g.ts_ms = c.bucket_ms
    ),
    rk16 AS (
      -- limitk's deterministic pick: md5 of the series identity, the
      -- same hex DuckDB and Spark produce
      SELECT cohort, bucket_ms, v,
             row_number() OVER (
               PARTITION BY bucket_ms
               ORDER BY md5('cohort=' || cohort), 'cohort=' || cohort
             ) AS rn
      FROM clk_s
    ),
    f16 AS (
      SELECT 'f16' AS query_id, 'cohort=' || cohort AS series_key,
             bucket_ms AS ts_ms,
             floor(v * 1000000 + 0.5) / 1000000 AS value
      FROM rk16 WHERE rn <= 2
    ),
    f17 AS (
      SELECT 'f17' AS query_id, 'cohort=' || cohort AS series_key,
             bucket_ms AS ts_ms,
             floor(v * 1000000 + 0.5) / 1000000 AS value
      FROM clk_s
      WHERE substring(md5('cohort=' || cohort), 1, 8) < '80000000'
    ),
    f18 AS (
      SELECT 'f18' AS query_id, 'cohort=' || cohort AS series_key,
             bucket_ms AS ts_ms,
             floor(v * 1000000 + 0.5) / 1000000 AS value
      FROM clk_s
      WHERE substring(md5('cohort=' || cohort), 1, 8) >= '80000000'
    ),
    f19 AS (
      SELECT 'f19' AS query_id,
             'rounds=' || CAST(CAST(floor(v * 86400.0 + 0.5) AS BIGINT)
                               AS VARCHAR) AS series_key,
             bucket_ms AS ts_ms,
             CAST(count(*) AS DOUBLE) AS value
      FROM clk_s GROUP BY 2, 3
    ),
    f20 AS (
      SELECT 'f20' AS query_id, 'cohort=' || cohort AS series_key,
             bucket_ms AS ts_ms,
             floor(sin(v) * 1000000 + 0.5) / 1000000 AS value
      FROM clk_s
    ),
    f21 AS (
      SELECT 'f21' AS query_id, 'cohort=' || cohort AS series_key,
             bucket_ms AS ts_ms,
             floor(degrees(atan(v)) * 1000000 + 0.5) / 1000000 AS value
      FROM clk_s
    ),
    f22 AS (
      SELECT 'f22' AS query_id, '' AS series_key, ts_ms,
             floor(pi() * 1000000 + 0.5) / 1000000 AS value
      FROM grid
    )
    SELECT * FROM (
      SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL
      SELECT * FROM f3 UNION ALL SELECT * FROM f4 UNION ALL
      SELECT * FROM f5 UNION ALL SELECT * FROM f6 UNION ALL
      SELECT * FROM f7 UNION ALL SELECT * FROM f8 UNION ALL
      SELECT * FROM f9 UNION ALL SELECT * FROM f10 UNION ALL
      SELECT * FROM f11 UNION ALL SELECT * FROM f12 UNION ALL
      SELECT * FROM f13 UNION ALL SELECT * FROM f14 UNION ALL
      SELECT * FROM f15 UNION ALL SELECT * FROM f16 UNION ALL
      SELECT * FROM f17 UNION ALL SELECT * FROM f18 UNION ALL
      SELECT * FROM f19 UNION ALL SELECT * FROM f20 UNION ALL
      SELECT * FROM f21 UNION ALL SELECT * FROM f22
    ) ORDER BY query_id, series_key, ts_ms
    """
)


@register("promql_fn_eval", oracle=_ORACLE)
def promql_fn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Twenty-two PromQL strings through the parser covering the round-6
    function surface: changes/resets, stddev/stdvar/present/mad_over_time,
    sgn, 3-arg clamp, vector()/time()/scalar() step-grid scalars (joined on
    ts_ms only — Prometheus vector-scalar semantics), timestamp() with raw
    sample timestamps, date functions, and absent()/absent_over_time() with
    equality-matcher output labels. Every row hash-matches DuckDB."""
    eng = _engine(spark, sf_dir)

    # 22 concurrent small jobs (see promql_parse_eval: the single-union
    # action pays AQE's giant-plan replanning per stage; pooled eager
    # localCheckpoints overlap — 3.1 s vs 5.2 s at sf0.1)
    def post(out: DataFrame, i: int) -> DataFrame:
        return out.select(
            F.lit(_QS[i][0]).alias("query_id"),
            "series_key",
            "ts_ms",
            (F.floor(F.col("value") * 1_000_000 + 0.5) / 1_000_000).alias(
                "value"
            ),
        )

    # promql_eval_many localCheckpoints the engine base once for the
    # 22-string batch (see promql_parse_eval / MetricEngine
    # .materialized()) — round 14, best-of-4 interleaved at sf0.1:
    # 12.0 s → 5.5 s, rows byte-identical (oracle-gated)
    parts = promql_eval_many([(eng, q) for _, q in _QS], DAY_MS, post=post)
    allq = reduce(DataFrame.unionByName, parts)
    return allq.orderBy("query_id", "series_key", "ts_ms")
