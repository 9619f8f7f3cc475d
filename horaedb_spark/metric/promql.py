"""PromQL text front-end: parse a query string, compile it to the engine.

The RFC's contract is PromQL evaluation pushed into the engine
(docs/rfcs/20220702-prometheus-read-extension.md:84-99 — the flagship shape
is ``histogram_quantile(0.9, sum by (le) (rate(bucket[10m])))``). Every
evaluator already exists in ``functions/promql.py`` as a DataFrame operator;
this module adds the missing surface a monitoring user actually speaks: a
recursive-descent parser over the PromQL grammar and a compiler from the AST
to ``MetricEngine.select_series`` + the operator calls, so the string and the
hand-built pipeline produce the *same Spark plan shapes* (and, oracle-gated,
the same rows).

Supported surface (everything the operator layer implements):
- selectors with label matchers (``=``, ``!=``, ``=~``, ``!~``), ``offset``;
- bare INSTANT selectors evaluated at the step grid with a staleness
  lookback (default: one step; Prometheus fixes 5m — documented divergence
  for coarse grids over sparse data);
- range functions ``rate/increase/irate/idelta/delta`` and
  ``avg/min/max/sum/count/last/quantile_over_time`` — bucket-aligned when
  ``range == step``, sliding (bounded range/step fan-out) otherwise;
- aggregations ``sum/avg/min/max/count/group/stddev/stdvar/topk/bottomk/
  quantile`` with ``by (...)`` / ``without (...)`` in either position;
- ``histogram_quantile(q, expr)`` over vectors carrying an ``le`` label;
- subqueries ``expr[range:step]`` feeding an outer ``*_over_time``;
- scalar arithmetic (``expr * 60``, ``1 - expr``) and the scalar math
  functions (abs/ceil/floor/sqrt/exp/ln/log2/log10, clamp_min/clamp_max);
- vector-vector binary operators: arithmetic (``+ - * / %``), comparisons
  (filter semantics, ``bool`` modifier), the set operators
  ``and/or/unless``, the ``on (...)`` / ``ignoring (...)`` matching
  modifiers, and ``group_left``/``group_right`` many-to-one matching —
  bare (result keeps the many side's full label set) or with
  ``group_left(l1, ...)`` label COPYING from the one side — with PromQL's
  precedence ladder (``* / %`` > ``+ -`` > comparisons > set ops).
  Cardinality is VALIDATED like Prometheus: a duplicate match group on
  the one side of group_left/group_right, or on either side of an
  on/ignoring one-to-one match, raises at evaluation time (an
  ``assert_true`` guard riding the join's own hash partitioning).

- the ``@ <unix_seconds>`` evaluation pin on selectors and subqueries
  (keeps the aligned step containing the pinned instant).

Evaluation model: every vector expression compiles to a frame with columns
``(series_key string, ts_ms long, value double)`` where ``series_key`` is
the canonical ``k=v,...`` label-set encoding the engine already uses;
aggregations re-key it from the retained labels. The frame contract makes
composition closed — any node's output is any other node's input — exactly
like Prometheus's Vector type.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from horaedb_spark.functions import promql as P
from horaedb_spark.metric.engine import Matcher, MetricEngine

# --------------------------------------------------------------------- AST


@dataclass(frozen=True)
class Selector:
    name: str
    matchers: tuple[Matcher, ...] = ()
    range_ms: int | None = None
    offset_ms: int = 0
    at_ms: int | None = None  # @ <unix_seconds> evaluation pin


@dataclass(frozen=True)
class Subquery:
    expr: object
    range_ms: int
    step_ms: int
    at_ms: int | None = None  # @ <unix_seconds> evaluation pin


@dataclass(frozen=True)
class Call:
    fn: str
    args: tuple = ()


@dataclass(frozen=True)
class Agg:
    op: str
    expr: object
    grouping: tuple[str, ...] = ()
    without: bool = False
    param: float | None = None


@dataclass(frozen=True)
class BinOp:
    op: str
    lhs: object
    rhs: object
    on: tuple[str, ...] | None = None        # on (labels) matching
    ignoring: tuple[str, ...] | None = None  # ignoring (labels) matching
    bool_mode: bool = False                  # comparison `bool` modifier
    group: str | None = None                 # "left" | "right" many-to-one
    group_labels: tuple[str, ...] = ()       # labels copied from the ONE side


@dataclass(frozen=True)
class Number:
    value: float


@dataclass(frozen=True)
class StringLit:
    value: str


# ------------------------------------------------------------------- lexer

_TOKEN_RE = re.compile(
    r"""\s*(?:
      (?P<DURATION>\d+(?:ms|[smhdwy]))
     |(?P<NUMBER>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?|\.\d+)
     |(?P<IDENT>[A-Za-z_][A-Za-z0-9_:]*)
     |(?P<STRING>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
     |(?P<OP>=~|!~|!=|==|>=|<=|>|<|=|\{|\}|\(|\)|\[|\]|,|:|\+|-|\*|/|%|\^|@)
    )""",
    re.X,
)

_UNIT_MS = {
    "ms": 1,
    "s": 1000,
    "m": 60_000,
    "h": 3_600_000,
    "d": 86_400_000,
    "w": 7 * 86_400_000,
    "y": 365 * 86_400_000,
}

AGG_OPS = {
    "sum", "avg", "min", "max", "count", "group", "stddev", "stdvar",
    "topk", "bottomk", "quantile", "limitk", "limit_ratio", "count_values",
}
PARAM_AGGS = {"topk", "bottomk", "quantile", "limitk", "limit_ratio"}
STRING_PARAM_AGGS = {"count_values"}


def _holt_winters(
    df: DataFrame, keys: list[str], step_ms: int, sf: float, tf: float
) -> DataFrame:
    """holt_winters(sel[range], sf, tf): one fold per (series, step
    bucket). Prometheus 3 renamed it double_exponential_smoothing (it never
    was Holt-Winters: no seasonality); both names evaluate here."""
    b = df.withColumn("bucket_ms", F.col("ts_ms") - F.pmod("ts_ms", F.lit(step_ms)))
    return P.holt_winters(b, [*keys, "bucket_ms"], sf, tf)


# Range functions evaluated at range == step only: name -> (kernel, the
# value column of its (series, bucket_ms) output, the names of the literal
# arguments that follow the range). The compiler calls
# kernel(df, keys, step_ms, *literals) and casts the value column to double:
# changes/resets/present_over_time count, and on a double column the
# optimizer drops the cast.
ALIGNED_RANGE_FNS = {
    "irate": (P.irate, "irate_per_s", ()),
    "idelta": (P.idelta, "idelta", ()),
    "delta": (P.delta, "delta", ()),
    "deriv": (P.deriv, "deriv", ()),
    "changes": (P.transition_counts, "changes", ()),
    "resets": (P.transition_counts, "resets", ()),
    "stddev_over_time": (P.stddev_over_time, "stddev_over_time", ()),
    "stdvar_over_time": (P.stddev_over_time, "stdvar_over_time", ()),
    "present_over_time": (P.edge_over_time, "present_over_time", ()),
    "last_over_time": (P.edge_over_time, "last_over_time", ()),
    "mad_over_time": (P.mad_over_time, "mad_over_time", ()),
    "predict_linear": (
        lambda df, keys, step_ms, ahead_s: P.predict_linear(
            df, keys, step_ms, int(ahead_s)
        ),
        "predicted",
        ("ahead_s",),
    ),
    "holt_winters": (_holt_winters, "smoothed", ("sf", "tf")),
    "double_exponential_smoothing": (_holt_winters, "smoothed", ("sf", "tf")),
    "quantile_over_time": (P.quantile_over_time, "quantile_over_time", ("q",)),
}
# rate/increase/*_over_time also slide (range a multiple of the step)
RANGE_FNS = {
    "rate", "increase", "avg_over_time", "min_over_time", "max_over_time",
    "sum_over_time", "count_over_time", *ALIGNED_RANGE_FNS,
}
MATH_FNS = {
    "abs", "ceil", "floor", "sqrt", "exp", "ln", "log2", "log10", "sgn",
    "sin", "cos", "tan", "asin", "acos", "atan", "sinh", "cosh", "tanh",
    "asinh", "acosh", "atanh", "deg", "rad",
}
# PromQL date functions: the sample VALUE is interpreted as epoch seconds
# (prometheus/promql/functions.go funcHour et al.); zero args default to
# vector(time()).
DATE_FNS = {
    "minute", "hour", "day_of_week", "day_of_month", "day_of_year",
    "days_in_month", "month", "year",
}


class PromQLError(ValueError):
    pass


def _duration_ms(text: str) -> int:
    m = re.fullmatch(r"(\d+)(ms|[smhdwy])", text)
    if not m:
        raise PromQLError(f"bad duration {text!r}")
    return int(m.group(1)) * _UNIT_MS[m.group(2)]


class _Lexer:
    def __init__(self, text: str):
        self.tokens: list[tuple[str, str]] = []
        pos = 0
        while pos < len(text):
            m = _TOKEN_RE.match(text, pos)
            if not m or m.end() == pos:
                if text[pos:].strip():
                    raise PromQLError(f"cannot tokenize at: {text[pos:pos+20]!r}")
                break
            pos = m.end()
            kind = m.lastgroup
            val = m.group(kind)
            # Prometheus lexes NaN/Inf (case-insensitive) as NUMBER
            # literals, never metric names (promql/parser lexer); a metric
            # actually named NaN needs {__name__="NaN"}
            if kind == "IDENT" and val.lower() in ("nan", "inf"):
                kind = "NUMBER"
            self.tokens.append((kind, val))
        self.i = 0

    def peek(self, k: int = 0) -> tuple[str, str]:
        j = self.i + k
        return self.tokens[j] if j < len(self.tokens) else ("EOF", "")

    def next(self) -> tuple[str, str]:
        t = self.peek()
        self.i += 1
        return t

    def expect(self, kind: str, value: str | None = None) -> str:
        k, v = self.next()
        if k != kind or (value is not None and v != value):
            raise PromQLError(f"expected {value or kind}, got {v!r}")
        return v


# ------------------------------------------------------------------ parser


def parse_promql(text: str):
    """Parse a PromQL expression string into the AST above."""
    lx = _Lexer(text)
    node = _parse_expr(lx)
    if lx.peek()[0] != "EOF":
        raise PromQLError(f"trailing input at {lx.peek()[1]!r}")
    return node


_COMPARE_OPS = (">", ">=", "<", "<=", "==", "!=")
_SET_OPS = ("and", "or", "unless")


_MANY_TO_ONE_ERR = (
    "promql: multiple matches for labels: grouping labels must ensure "
    "unique matches on the one side of group_left/group_right"
)
_ONE_TO_ONE_ERR = (
    "promql: found duplicate series for the match group; many-to-one "
    "matching must be explicit (group_left/group_right)"
)


def _promql_mod(a, b):
    """Prometheus ``%``: Go math.Mod — truncated (dividend-signed), and
    ``x % 0 = NaN``. Spark's non-ANSI remainder returns NULL on a zero
    divisor (dropping the sample), so the column form wraps the divisor."""
    if not isinstance(a, Column) and not isinstance(b, Column):
        # Go math.Mod: NaN when the dividend is +/-Inf or either side is
        # NaN, or the divisor is 0. Python's math.fmod RAISES on an
        # infinite dividend (found by the scalar property fuzz via
        # (1/0) % 1 — an internal crash on the HTTP query path).
        if b == 0 or math.isinf(a) or math.isnan(a) or math.isnan(b):
            return float("nan")
        return math.fmod(a, b)
    ac = a if isinstance(a, Column) else F.lit(float(a))
    bc = b if isinstance(b, Column) else F.lit(float(b))
    # the column form is already Go-correct for non-zero divisors: Java's
    # % yields NaN for infinite dividends and x for an infinite divisor
    return F.when(bc == 0, F.lit(float("nan"))).otherwise(ac % bc)


def _promql_div(a, b):
    """Prometheus ``/``: IEEE float division — x/0 is +/-Inf by the sign
    of the dividend, 0/0 is NaN. Python raises ZeroDivisionError and
    Spark 4's default ANSI mode throws DIVIDE_BY_ZERO at runtime (killing
    the whole query on ONE zero sample), so both forms guard the zero
    divisor explicitly; CASE WHEN branches evaluate lazily per row, so
    the guarded division never executes on zero."""
    if not isinstance(a, Column) and not isinstance(b, Column):
        if b == 0:
            if a > 0:
                return float("inf")
            if a < 0:
                return float("-inf")
            return float("nan")
        return a / b
    ac = a if isinstance(a, Column) else F.lit(float(a))
    bc = b if isinstance(b, Column) else F.lit(float(b))
    return (
        F.when(
            bc == 0,
            F.when(ac > 0, F.lit(float("inf")))
            .when(ac < 0, F.lit(float("-inf")))
            .otherwise(F.lit(float("nan"))),
        )
        .otherwise(ac / bc)
    )


def _promql_pow(a, b):
    """Prometheus ``^``: Go math.Pow semantics. Spark's ``F.pow`` is
    java.lang.Math.pow — IEEE 754, identical to Go (0^-1 = +Inf,
    (-1)^0.5 = NaN) — so the column form needs no guard; pure-scalar
    folding maps Python's exceptions back to the IEEE results."""
    if isinstance(a, Column) or isinstance(b, Column):
        ac = a if isinstance(a, Column) else F.lit(float(a))
        bc = b if isinstance(b, Column) else F.lit(float(b))
        return F.pow(ac, bc)
    try:
        return math.pow(a, b)
    except OverflowError:  # finite operands, infinite result
        neg = a < 0 and b == int(b) and int(b) % 2 == 1
        return float("-inf") if neg else float("inf")
    except ValueError:
        if a == 0 and b < 0:
            return float("inf")
        return float("nan")  # negative base, non-integer exponent


def _parse_match_mod(lx: _Lexer):
    """Optional ``on (labels)`` / ``ignoring (labels)`` then optional
    ``group_left(labels?)`` / ``group_right(labels?)`` after an operator.
    Returns (on, ignoring, group, group_labels)."""
    k, v = lx.peek()
    on = ig = group = None
    group_labels: tuple[str, ...] = ()
    if k == "IDENT" and v in ("on", "ignoring"):
        kind = lx.next()[1]
        labels = _parse_grouping(lx)
        if kind == "on":
            on = labels
        else:
            ig = labels
        nk, nv = lx.peek()
        if nk == "IDENT" and nv in ("group_left", "group_right"):
            group = lx.next()[1].removeprefix("group_")
            if lx.peek() == ("OP", "("):
                group_labels = _parse_grouping(lx)
    return on, ig, group, group_labels


def _parse_expr(lx: _Lexer):
    # lowest precedence: set operators and/unless/or
    node = _parse_compare(lx)
    while lx.peek()[0] == "IDENT" and lx.peek()[1] in _SET_OPS:
        op = lx.next()[1]
        on, ig, group, _gl = _parse_match_mod(lx)
        if group:
            raise PromQLError(f"{op} does not take group_{group}")
        node = BinOp(op, node, _parse_compare(lx), on, ig)
    return node


def _parse_compare(lx: _Lexer):
    node = _parse_sum(lx)
    while lx.peek()[0] == "OP" and lx.peek()[1] in _COMPARE_OPS:
        op = lx.next()[1]
        bool_mode = False
        if lx.peek() == ("IDENT", "bool"):
            lx.next()
            bool_mode = True
        on, ig, group, gl = _parse_match_mod(lx)
        node = BinOp(op, node, _parse_sum(lx), on, ig, bool_mode, group, gl)
    return node


def _parse_sum(lx: _Lexer):
    node = _parse_term(lx)
    while lx.peek() == ("OP", "+") or lx.peek() == ("OP", "-"):
        op = lx.next()[1]
        on, ig, group, gl = _parse_match_mod(lx)
        node = BinOp(op, node, _parse_term(lx), on, ig, False, group, gl)
    return node


def _parse_term(lx: _Lexer):
    # atan2 is Prometheus's keyword arithmetic operator at MUL precedence
    node = _parse_unary(lx)
    while (
        lx.peek()[0] == "OP" and lx.peek()[1] in ("*", "/", "%")
    ) or lx.peek() == ("IDENT", "atan2"):
        op = lx.next()[1]
        on, ig, group, gl = _parse_match_mod(lx)
        node = BinOp(op, node, _parse_unary(lx), on, ig, False, group, gl)
    return node


def _parse_unary(lx: _Lexer):
    # Prometheus precedence: unary +/- binds tighter than * / % but
    # LOOSER than ^ (so -2^2 == -(2^2) == -4); desugared as 0 - x
    if lx.peek() == ("OP", "-"):
        lx.next()
        return BinOp("-", Number(0.0), _parse_unary(lx))
    if lx.peek() == ("OP", "+"):
        lx.next()
        return _parse_unary(lx)
    return _parse_power(lx)


def _parse_power(lx: _Lexer):
    # ^ is RIGHT-associative (2^3^2 == 2^(3^2)); the rhs re-enters the
    # unary level so 2^-3 parses
    node = _parse_postfix(lx)
    if lx.peek() == ("OP", "^"):
        lx.next()
        on, ig, group, gl = _parse_match_mod(lx)
        node = BinOp("^", node, _parse_unary(lx), on, ig, False, group, gl)
    return node


def _parse_postfix(lx: _Lexer):
    node = _parse_atom(lx)
    # [range] / [range:step] / offset apply to the atom just parsed
    while True:
        k, v = lx.peek()
        if (k, v) == ("OP", "["):
            lx.next()
            rng = _duration_ms(lx.expect("DURATION"))
            if lx.peek() == ("OP", ":"):
                lx.next()
                # [range:] with no step defaults to the evaluation step
                # (Prometheus's default-resolution subquery), resolved at
                # compile time — 0 is the sentinel
                if lx.peek()[0] == "DURATION":
                    step = _duration_ms(lx.next()[1])
                else:
                    step = 0
                lx.expect("OP", "]")
                node = Subquery(node, rng, step)
            else:
                lx.expect("OP", "]")
                if not isinstance(node, Selector) or node.range_ms is not None:
                    raise PromQLError("[range] only applies to a selector")
                node = Selector(node.name, node.matchers, rng, node.offset_ms)
        elif k == "IDENT" and v == "offset":
            lx.next()
            neg = lx.peek() == ("OP", "-")
            if neg:
                lx.next()
            off = _duration_ms(lx.expect("DURATION"))
            if neg:
                # negative offset: evaluation at T reads data at T + off
                # (Prometheus promql-negative-offset, default-on in 2.x+)
                off = -off
            if not isinstance(node, Selector):
                raise PromQLError("offset only applies to a selector")
            node = Selector(node.name, node.matchers, node.range_ms, off, node.at_ms)
        elif (k, v) == ("OP", "@"):
            lx.next()
            nk, nv = lx.peek()
            if nk == "IDENT" and nv in ("start", "end"):
                # @ start() / @ end(): pinned to the evaluation range
                # bounds, resolved at compile time in _apply_at
                lx.next()
                lx.expect("OP", "(")
                lx.expect("OP", ")")
                at_ms = nv
            else:
                tv = float(lx.expect("NUMBER"))
                if not math.isfinite(tv):
                    # NaN/Inf lex as NUMBER (Prometheus rule), but `@ NaN`
                    # is a graceful parse error there, not a crash
                    raise PromQLError("timestamp out of bounds for @ modifier")
                at_ms = int(tv * 1000)
            if isinstance(node, Selector):
                node = Selector(
                    node.name, node.matchers, node.range_ms, node.offset_ms, at_ms
                )
            elif isinstance(node, Subquery):
                node = Subquery(node.expr, node.range_ms, node.step_ms, at_ms)
            else:
                raise PromQLError("@ applies to selectors and subqueries")
        else:
            return node


def _parse_atom(lx: _Lexer):
    k, v = lx.peek()
    if (k, v) == ("OP", "("):
        lx.next()
        node = _parse_expr(lx)
        lx.expect("OP", ")")
        return node
    if (k, v) == ("OP", "-"):
        lx.next()
        return BinOp("-", Number(0.0), _parse_atom(lx))
    if k == "NUMBER":
        lx.next()
        return Number(float(v))
    if k == "STRING":
        lx.next()
        return StringLit(v[1:-1])
    if k == "DURATION":  # a bare number like `5m` outside brackets is odd
        raise PromQLError(f"unexpected duration {v!r}")
    if k == "IDENT":
        if v in AGG_OPS:
            return _parse_agg(lx)
        if lx.peek(1) == ("OP", "("):
            lx.next()
            return _parse_call(lx, v)
        return _parse_selector(lx)
    raise PromQLError(f"unexpected token {v!r}")


def _parse_grouping(lx: _Lexer) -> tuple[str, ...]:
    lx.expect("OP", "(")
    labels = []
    while lx.peek() != ("OP", ")"):
        labels.append(lx.expect("IDENT"))
        if lx.peek() == ("OP", ","):
            lx.next()
    lx.expect("OP", ")")
    return tuple(labels)


def _parse_agg(lx: _Lexer):
    op = lx.expect("IDENT")
    grouping: tuple[str, ...] = ()
    without = False
    if lx.peek()[0] == "IDENT" and lx.peek()[1] in ("by", "without"):
        without = lx.next()[1] == "without"
        grouping = _parse_grouping(lx)
        got_mod = True
    else:
        got_mod = False
    lx.expect("OP", "(")
    param = None
    if op in PARAM_AGGS:
        neg = lx.peek() == ("OP", "-")
        if neg:
            lx.next()
        t = lx.expect("NUMBER")
        param = -float(t) if neg else float(t)
        lx.expect("OP", ",")
    elif op in STRING_PARAM_AGGS:
        t = lx.expect("STRING")
        param = t[1:-1]  # the destination label name
        lx.expect("OP", ",")
    expr = _parse_expr(lx)
    lx.expect("OP", ")")
    if not got_mod and lx.peek()[0] == "IDENT" and lx.peek()[1] in ("by", "without"):
        without = lx.next()[1] == "without"
        grouping = _parse_grouping(lx)
        got_mod = True
    return Agg(op, expr, grouping, without, param)


def _parse_call(lx: _Lexer, fn: str):
    lx.expect("OP", "(")
    args = []
    while lx.peek() != ("OP", ")"):
        k, v = lx.peek()
        if k == "NUMBER" and fn in (
            "histogram_quantile", "quantile_over_time", "clamp_min",
            "clamp_max", "round",
        ) and not args:
            lx.next()
            args.append(Number(float(v)))
        else:
            args.append(_parse_expr(lx))
        if lx.peek() == ("OP", ","):
            lx.next()
    lx.expect("OP", ")")
    return Call(fn, tuple(args))


def _parse_selector(lx: _Lexer):
    name = lx.expect("IDENT")
    matchers: list[Matcher] = []
    if lx.peek() == ("OP", "{"):
        lx.next()
        while lx.peek() != ("OP", "}"):
            key = lx.expect("IDENT")
            op = lx.expect("OP")
            if op not in ("=", "!=", "=~", "!~"):
                raise PromQLError(f"bad matcher op {op!r}")
            raw = lx.expect("STRING")
            matchers.append(Matcher(key, op, raw[1:-1]))
            if lx.peek() == ("OP", ","):
                lx.next()
        lx.expect("OP", "}")
    return Selector(name, tuple(matchers))


# ---------------------------------------------------------------- compiler

_DEC_SUM = lambda c: F.sum(c.cast("decimal(30,10)")).cast("double")  # noqa: E731


def _labels(col: str | Column = "series_key") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.str_to_map(c, F.lit(","), F.lit("="))


def _canonical_key(labels_map: Column) -> Column:
    """map<k,v> -> 'k1=v1,k2=v2' with keys sorted — the engine's series_key
    encoding, re-derivable after any label subset/drop."""
    entries = F.array_sort(F.map_entries(labels_map))
    return F.array_join(
        F.transform(entries, lambda e: F.concat(e["key"], F.lit("="), e["value"])),
        ",",
    )


def _sql_str(s: str) -> str:
    """A Spark-SQL single-quoted string literal (label names are parser-
    restricted to word characters; escaping is belt-and-braces)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _key_cond(keys: tuple[str, ...] | list[str], keep: bool) -> str:
    """SQL lambda body selecting label keys: membership in ``keys`` (or its
    complement). Empty key list -> constant, so on() compiles to the
    match-everything key and without() to the full key."""
    if not keys:
        return "false" if keep else "true"
    lst = ", ".join(_sql_str(k) for k in keys)
    return f"k {'IN' if keep else 'NOT IN'} ({lst})"


def _subset_key(
    keys: tuple[str, ...] | list[str], keep: bool, col: str = "series_key"
) -> Column:
    """Canonical key of a label subset of ``col`` (keep=True: only ``keys``;
    keep=False: all but ``keys``), built as ONE sql expression. Semantics
    identical to ``_canonical_key(map_filter(_labels(col), ...))``; this
    form exists because the Column-API build costs ~65x more driver-JVM
    round trips and these keys are built inside every aggregation/binop
    compile of a PromQL string (measured 26 ms vs 0.4 ms per build)."""
    return F.expr(
        f"array_join(transform(array_sort(map_entries(map_filter("
        f"str_to_map({col}, ',', '='), (k, v) -> {_key_cond(keys, keep)}))), "
        f"e -> concat(e.key, '=', e.value)), ',')"
    )


def _group_copy_key(
    many_col: str, one_col: str, labels: list[str] | tuple[str, ...]
) -> Column:
    """group_left(l1,...)/group_right(l1,...) output key: the MANY side's
    labels with ``labels`` dropped, overlaid with those labels taken from
    the ONE side (copied labels overwrite, absent ones remove). The two
    map_filters are disjoint by construction so map_concat never sees a
    duplicate key. One sql expression for the same reason as _subset_key."""
    drop = _key_cond(labels, False)
    take = _key_cond(labels, True)
    return F.expr(
        f"array_join(transform(array_sort(map_entries(map_concat("
        f"map_filter(str_to_map({many_col}, ',', '='), (k, v) -> {drop}), "
        f"map_filter(str_to_map({one_col}, ',', '='), (k, v) -> {take})))), "
        f"e -> concat(e.key, '=', e.value)), ',')"
    )


class ScalarGrid:
    """A step-varying PromQL SCALAR — ``time()``, ``scalar(v)`` — as a
    (ts_ms, value) frame on the evaluation grid. Scalars don't carry labels,
    so binary ops against a vector join on ts_ms only and keep the vector's
    labels (Prometheus vector-scalar semantics); the grid is O(steps) rows
    and is broadcast into any join with data-sized frames."""

    __slots__ = ("df",)

    def __init__(self, df: DataFrame):
        self.df = df


class PromQLCompiler:
    """Compile parsed PromQL to DataFrames over a MetricEngine."""

    def __init__(
        self,
        engine: MetricEngine,
        step_ms: int,
        lookback_ms: int | None = None,
        start_ms: int | None = None,
        end_ms: int | None = None,
    ):
        # a long-lived store-backed engine resolves to the store's current
        # one (its frozen SST list may have been compacted away)
        self.engine = engine if engine is None else engine.current()
        self.step_ms = step_ms
        # staleness lookback for bare instant selectors. Prometheus fixes
        # this at 5m; a bucketed engine evaluating at arbitrary steps
        # defaults it to one step (documented divergence — a 5m lookback on
        # a 1d grid over sparse data would yield an empty vector).
        self.lookback_ms = lookback_ms if lookback_ms is not None else step_ms
        # Prometheus has one lookback per query: subquery bodies inherit an
        # explicit one, and otherwise default to their own step
        self._sub_lookback_ms = lookback_ms
        # explicit evaluation range for time()/vector()/absent*() — the
        # HTTP query_range start/end. When absent, derived once from the
        # engine's data range (a two-value aggregate, cached).
        self.start_ms = start_ms
        self.end_ms = end_ms
        self._bounds_cache: tuple[int, int] | None = None

    def _bounds(self) -> tuple[int, int]:
        """(first, last) aligned evaluation steps, inclusive."""
        if self._bounds_cache is None:
            mn, mx = self.start_ms, self.end_ms
            if mn is None or mx is None:
                # the raw data range is a property of the ENGINE, not this
                # compiler — cache it there so evaluating many strings
                # (promql_parse_eval-style loops) scans for it once
                raw = getattr(self.engine, "_data_ts_bounds", None)
                if raw is None:
                    row = self.engine.data.agg(
                        F.min("ts_ms"), F.max("ts_ms")
                    ).first()
                    if row[0] is None:
                        raise PromQLError(
                            "empty store: no evaluation range for "
                            "time()/vector()/absent() — pass start/end"
                        )
                    raw = (int(row[0]), int(row[1]))
                    self.engine._data_ts_bounds = raw
                mn = mn if mn is not None else raw[0]
                mx = mx if mx is not None else raw[1]
            s = self.step_ms
            self._bounds_cache = (-(-mn // s) * s, mx // s * s)
        return self._bounds_cache

    def _grid(self) -> DataFrame:
        """The step spine (ts_ms) — O(steps) rows regardless of data size."""
        lo, hi = self._bounds()
        spark = self.engine.data.sparkSession
        return spark.range(lo, hi + 1, self.step_ms).select(
            F.col("id").alias("ts_ms")
        )

    def _time_grid(self) -> ScalarGrid:
        """``time()``: the evaluation timestamp in SECONDS at each step."""
        return ScalarGrid(
            self._grid().select("ts_ms", (F.col("ts_ms") / 1000.0).alias("value"))
        )

    # -- public -----------------------------------------------------------

    def compile(self, query: str) -> DataFrame:
        """Evaluate a PromQL string on the engine's data at this compiler's
        step resolution. Returns (series_key, ts_ms, value)."""
        out = self._eval(parse_promql(query))
        if isinstance(out, ScalarGrid):
            raise PromQLError(
                "query evaluates to a scalar, not a vector — wrap in vector()"
            )
        if not isinstance(out, DataFrame):
            raise PromQLError("query evaluates to a scalar, not a vector")
        return out.select("series_key", "ts_ms", F.col("value").cast("double"))

    # -- evaluation -------------------------------------------------------

    def _eval(self, node):
        """Evaluate with an ENGINE-scoped memo: the AST nodes are frozen
        dataclasses (hashable, deep equality), so an identical subtree
        evaluated under identical compile parameters is the same frame —
        ``rate(click[1d])`` appearing in a dozen dashboard strings is built
        and analyzed once. Memoizing the DataFrame also marks the shared
        logical subtree analyzed, so Catalyst skips re-resolving it inside
        every later parent plan; at execution ReuseExchange already dedups
        the physical work, so this is purely a compile-latency win."""
        try:
            key = (
                node,
                self.step_ms,
                self.lookback_ms,
                self._sub_lookback_ms,
                self.start_ms,
                self.end_ms,
            )
            hash(key)
        except TypeError:
            return self._eval_raw(node)
        if self.engine is None:  # scalar-only evaluation (tests, constants)
            return self._eval_raw(node)
        memo = self.engine.__dict__.setdefault("_eval_memo", {})
        hit = memo.get(key)
        if hit is not None:
            return hit
        out = self._eval_raw(node)
        if isinstance(out, (DataFrame, ScalarGrid)):
            if len(memo) >= 512:  # bound driver memory on long-lived
                # engines (FIFO eviction). Suite strings compile on a
                # thread pool sharing one engine memo: default=None guards
                # a key another thread already evicted, and the try/except
                # guards next(iter(...)) itself — a concurrent insert can
                # raise RuntimeError ("dictionary changed size during
                # iteration") and a concurrent eviction emptying the dict
                # can raise StopIteration. Eviction is best-effort (the
                # bound is approximate under races), so skipping one
                # eviction is safe; a lock would serialize compiles.
                try:
                    memo.pop(next(iter(memo)), None)
                except (RuntimeError, StopIteration):
                    pass
            memo[key] = out
        return out

    def _eval_raw(self, node):
        if isinstance(node, Number):
            return node.value
        if isinstance(node, BinOp):
            return self._binop(node)
        if isinstance(node, Agg):
            return self._agg(node)
        if isinstance(node, Call):
            return self._call(node)
        if isinstance(node, Selector):
            if node.range_ms is not None:
                raise PromQLError(
                    "range selector outside a range function"
                )
            # bare instant selector: PromQL's evaluation model — at each
            # aligned step, each series reports its latest sample within
            # the staleness lookback (functions/promql.instant_vector)
            out = P.instant_vector(
                self._samples(node),
                ["series_key"],
                self.step_ms,
                self.lookback_ms,
                **self._window(node.at_ms),
            )
            return self._apply_at(
                out.select(
                    "series_key", F.col("step_ms").alias("ts_ms"), "value"
                ),
                node.at_ms,
            )
        raise PromQLError(f"cannot evaluate {node!r}")

    def _samples(self, sel: Selector) -> DataFrame:
        """Selector -> raw sample frame (series_key, ts_ms, value); offset
        shifts timestamps FORWARD so evaluation at T reads data at
        T - offset (functions/promql.offset_by rule).

        The reserved ``__field__`` matcher selects one field of a
        multi-field metric (RFC 20240827:106-113) — the PromQL-side spelling
        of the metrics-table field selector, by analogy with ``__name__``.
        It routes to ``select_series(field=...)`` instead of the inverted
        index (fields are a data-table dimension, not a label)."""
        matchers = [m for m in sel.matchers if m.key != "__field__"]
        fsel = [m for m in sel.matchers if m.key == "__field__"]
        field = None
        if fsel:
            if len(fsel) > 1 or fsel[0].op != "=":
                raise PromQLError(
                    "__field__ takes exactly one equality matcher"
                )
            field = fsel[0].value
        try:
            df = self.engine.select_series(
                sel.name, matchers or None, field=field
            )
        except ValueError as e:
            # the string front-end's error boundary is PromQLError — e.g. a
            # __field__ selection against a single-field engine
            raise PromQLError(str(e)) from e
        if sel.offset_ms:
            df = df.withColumn("ts_ms", F.col("ts_ms") + F.lit(sel.offset_ms))
        return df.select("series_key", "ts_ms", "value")

    def _range_input(self, node) -> tuple[DataFrame, int, int | None]:
        """A range-function argument: a range selector or a subquery.
        Returns (sample-shaped frame, range_ms, at_ms pin or None)."""
        if isinstance(node, Selector):
            if node.range_ms is None:
                raise PromQLError("range function needs a [range] selector")
            return self._samples(node), node.range_ms, node.at_ms
        if isinstance(node, Subquery):
            # step 0 = the parser's no-step sentinel ([range:]) — default
            # to this compiler's evaluation step, as Prometheus does
            sub_step = node.step_ms or self.step_ms
            inner = PromQLCompiler(
                self.engine, sub_step, self._sub_lookback_ms
            )._eval(node.expr)
            if not isinstance(inner, DataFrame):
                raise PromQLError("subquery body must be a vector")
            return (
                inner.select("series_key", "ts_ms", "value"),
                node.range_ms,
                node.at_ms,
            )
        raise PromQLError("range function needs a [range] selector/subquery")

    def _apply_at(self, df: DataFrame, at_ms: int | None) -> DataFrame:
        """``@`` evaluation pin: keep only the aligned step containing the
        pinned timestamp (Prometheus evaluates the whole query at that
        instant; on the step grid that is the one matching evaluation)."""
        if at_ms is None:
            return df
        return df.filter(F.col("ts_ms") == self._at_step(at_ms))

    def _at_step(self, at_ms: int | str) -> int:
        """The aligned step an ``@`` pin evaluates at."""
        if at_ms == "start":
            at_ms = self._bounds()[0]
        elif at_ms == "end":
            at_ms = self._bounds()[1]
        return at_ms - at_ms % self.step_ms

    def _window(self, at_ms: int | str | None) -> dict:
        """The instant kernel's evaluation window, as its keyword arguments:
        the pinned step under ``@``, else the compile's ``[start, end]``
        steps when both are given, else none (the frame's whole range)."""
        if at_ms is not None:
            t = self._at_step(at_ms)
            return {"start_ms": t, "end_ms": t}
        if self.start_ms is not None and self.end_ms is not None:
            lo, hi = self._bounds()
            return {"start_ms": lo, "end_ms": hi}
        return {}

    # functions evaluable with ZERO arguments (Prometheus defaults the
    # missing vector to vector(time()) for the date functions)
    _ZERO_ARG_FNS = frozenset({"time", "pi", *DATE_FNS})

    def _call(self, node: Call):
        fn = node.fn
        # arity floor: every other function dereferences args[0] somewhere
        # downstream — an empty call must be a clean parse-level error, not
        # an IndexError (found by the compile fuzz: clamp_min(),
        # last_over_time())
        if not node.args and fn not in self._ZERO_ARG_FNS:
            raise PromQLError(f"{fn}() needs at least one argument")
        if fn in RANGE_FNS:
            at_ms = None
            arg0 = node.args[0] if node.args else None
            if fn == "quantile_over_time" and len(node.args) > 1:
                arg0 = node.args[1]
            if isinstance(arg0, (Selector, Subquery)):
                at_ms = arg0.at_ms
            return self._apply_at(self._range_fn(node), at_ms)
        if fn == "histogram_quantile":
            qarg = node.args[0]
            qv = qarg.value if isinstance(qarg, Number) else self._eval(qarg)
            if isinstance(qv, DataFrame) or not isinstance(qv, (int, float)):
                raise PromQLError("histogram_quantile needs a scalar q")
            return self._histogram_quantile(float(qv), self._eval(node.args[1]))
        if fn == "histogram_fraction":
            if len(node.args) != 3:
                raise PromQLError("histogram_fraction(lo, hi, vector)")
            ends = []
            for a in node.args[:2]:
                v = a.value if isinstance(a, Number) else self._eval(a)
                if isinstance(v, DataFrame) or not isinstance(v, (int, float)):
                    raise PromQLError("histogram_fraction needs scalar lo, hi")
                ends.append(float(v))
            return self._histogram_fraction(
                ends[0], ends[1], self._eval(node.args[2])
            )
        if fn in MATH_FNS:
            df = self._eval(node.args[0])
            return df.withColumn("value", P.math_fn(F.col("value"), fn))
        if fn in ("clamp_min", "clamp_max"):
            df = self._eval(node.args[1 if isinstance(node.args[0], Number) else 0])
            bound = node.args[0].value if isinstance(node.args[0], Number) else node.args[1].value
            lo = bound if fn == "clamp_min" else None
            hi = bound if fn == "clamp_max" else None
            return df.withColumn("value", P.clamp(F.col("value"), lo, hi))
        if fn == "round":
            # PromQL is round(vector, to_nearest) with a SCALAR second
            # arg. Evaluate both args: scalar expressions (e.g. 2*2)
            # fold to floats via _eval; exactly one arg may be a vector.
            if not 1 <= len(node.args) <= 2:
                raise PromQLError("round(v, to_nearest?) takes 1 or 2 args")
            evaled = [self._eval(a) for a in node.args]
            vecs = [e for e in evaled if isinstance(e, DataFrame)]
            scalars = [e for e in evaled if not isinstance(e, DataFrame)]
            if len(vecs) != 1:
                raise PromQLError("round() needs exactly one vector argument")
            nearest = float(scalars[0]) if scalars else 1.0
            return vecs[0].withColumn(
                "value", P.round_to(F.col("value"), nearest)
            )
        if fn in ("label_replace", "label_join"):
            df = self._eval(node.args[0])
            strs = [
                a.value for a in node.args[1:] if isinstance(a, StringLit)
            ]
            if len(strs) != len(node.args) - 1:
                raise PromQLError(f"{fn} needs string literal arguments")
            lbl = df.withColumn("labels", _labels())
            if fn == "label_replace":
                if len(strs) != 4:
                    raise PromQLError(
                        "label_replace(v, dst, replacement, src, regex)"
                    )
                if not re.fullmatch(r"[a-zA-Z_][a-zA-Z0-9_]*", strs[0]):
                    # Prometheus errors on an invalid destination label
                    raise PromQLError(
                        f"invalid destination label name {strs[0]!r}"
                    )
                out = P.label_replace(lbl, strs[0], strs[1], strs[2], strs[3])
            else:
                if len(strs) < 3:
                    raise PromQLError("label_join(v, dst, sep, src...)")
                if not re.fullmatch(r"[a-zA-Z_][a-zA-Z0-9_]*", strs[0]):
                    raise PromQLError(
                        f"invalid destination label name {strs[0]!r}"
                    )
                out = P.label_join(lbl, strs[0], strs[1], list(strs[2:]))
            return out.select(
                _canonical_key(F.col("labels")).alias("series_key"),
                "ts_ms",
                "value",
            )
        if fn in ("sort", "sort_desc"):
            df = self._eval(node.args[0])
            order = F.asc("value") if fn == "sort" else F.desc("value")
            return df.orderBy("ts_ms", order, "series_key")
        if fn in ("sort_by_label", "sort_by_label_desc"):
            # Prometheus 2.49 (experimental): sort the instant vector by
            # the given label values. Presentation-only, like sort().
            df = self._eval(node.args[0])
            if not isinstance(df, DataFrame):
                raise PromQLError(f"{fn}() needs a vector argument")
            lbls = [
                a.value for a in node.args[1:] if isinstance(a, StringLit)
            ]
            if len(lbls) != len(node.args) - 1:
                raise PromQLError(f"{fn} needs string label arguments")
            direction = F.asc if fn == "sort_by_label" else F.desc
            keys = [
                direction(F.element_at(_labels(), F.lit(l))) for l in lbls
            ]
            return df.orderBy("ts_ms", *keys, "series_key")
        if fn == "clamp":
            # clamp(v, min, max): scalar bounds (Number or scalar expr);
            # min > max yields the empty vector (Prometheus funcClamp).
            if len(node.args) != 3:
                raise PromQLError("clamp(v, min, max) takes 3 args")
            evaled = [self._eval(a) for a in node.args]
            if not isinstance(evaled[0], DataFrame) or any(
                isinstance(e, (DataFrame, ScalarGrid)) for e in evaled[1:]
            ):
                raise PromQLError("clamp needs (vector, scalar, scalar)")
            mn, mx = float(evaled[1]), float(evaled[2])
            if mn > mx:
                return evaled[0].filter(F.lit(False))
            return evaled[0].withColumn(
                "value", P.clamp(F.col("value"), mn, mx)
            )
        if fn == "time":
            if node.args:
                raise PromQLError("time() takes no arguments")
            return self._time_grid()
        if fn == "pi":
            if node.args:
                raise PromQLError("pi() takes no arguments")
            return math.pi
        if fn == "vector":
            s = self._eval(node.args[0])
            if isinstance(s, ScalarGrid):
                return s.df.select(
                    F.lit("").alias("series_key"), "ts_ms", "value"
                )
            if isinstance(s, DataFrame):
                raise PromQLError("vector() needs a scalar argument")
            return self._grid().select(
                F.lit("").alias("series_key"),
                "ts_ms",
                F.lit(float(s)).alias("value"),
            )
        if fn == "scalar":
            v = self._eval(node.args[0])
            if isinstance(v, ScalarGrid):
                return v
            if not isinstance(v, DataFrame):
                raise PromQLError("scalar() needs a vector argument")
            # exactly one series at a step -> its value, else NaN
            agg = v.groupBy("ts_ms").agg(
                F.count(F.lit(1)).alias("__n__"), F.max("value").alias("__v__")
            )
            return ScalarGrid(
                self._grid()
                .join(F.broadcast(agg), "ts_ms", "left")
                .select(
                    "ts_ms",
                    F.when(F.col("__n__") == 1, F.col("__v__"))
                    .otherwise(F.lit(float("nan")))
                    .alias("value"),
                )
            )
        if fn == "timestamp":
            arg = node.args[0]
            if isinstance(arg, Selector) and arg.range_ms is None:
                # raw selector: the underlying SAMPLE's timestamp, not the
                # evaluation step's (Prometheus funcTimestamp)
                out = P.instant_vector(
                    self._samples(arg),
                    ["series_key"],
                    self.step_ms,
                    self.lookback_ms,
                    with_sample_ts=True,
                    **self._window(arg.at_ms),
                )
                return self._apply_at(
                    out.select(
                        "series_key",
                        F.col("step_ms").alias("ts_ms"),
                        (F.col("sample_ts") / 1000.0).alias("value"),
                    ),
                    arg.at_ms,
                )
            df = self._eval(arg)
            if not isinstance(df, DataFrame):
                raise PromQLError("timestamp() needs a vector argument")
            # computed vectors carry the evaluation timestamp
            return df.withColumn("value", F.col("ts_ms") / 1000.0)
        if fn in DATE_FNS:
            if not node.args:
                df = self._eval(Call("vector", (Call("time", ()),)))
            else:
                df = self._eval(node.args[0])
            if not isinstance(df, DataFrame):
                raise PromQLError(f"{fn}() needs a vector argument")
            # value is epoch SECONDS; Go truncates toward zero to int64
            comp = P.time_components(
                F.col("value").cast("long") * F.lit(1000)
            )[fn]
            return df.withColumn("value", comp.cast("double"))
        if fn == "absent":
            arg = node.args[0]
            key = (
                self._matcher_key(arg) if isinstance(arg, Selector) else ""
            )
            v = self._eval(arg)
            if not isinstance(v, DataFrame):
                raise PromQLError("absent() needs a vector argument")
            present = v.select("ts_ms").distinct()
            return (
                self._grid()
                .join(present, "ts_ms", "left_anti")
                .select(
                    F.lit(key).alias("series_key"),
                    "ts_ms",
                    F.lit(1.0).alias("value"),
                )
            )
        if fn == "absent_over_time":
            arg = node.args[0]
            if not isinstance(arg, Selector) or arg.range_ms is None:
                raise PromQLError(
                    "absent_over_time needs a [range] selector"
                )
            if arg.range_ms % self.step_ms != 0:
                raise PromQLError(
                    "absent_over_time range must be a multiple of the step"
                )
            key = self._matcher_key(arg)
            lo, hi = self._bounds()
            out = P.absent_over_time(
                self._samples(arg),
                lo,
                hi + self.step_ms,  # kernel spine end is exclusive
                self.step_ms,
                arg.range_ms,
            )
            return self._apply_at(
                out.select(
                    F.lit(key).alias("series_key"),
                    F.col("eval_ms").alias("ts_ms"),
                    F.col("absent").cast("double").alias("value"),
                ),
                arg.at_ms,
            )
        if fn in ("histogram_count", "histogram_sum", "histogram_avg"):
            # Prometheus defines these over native-histogram samples; this
            # engine's sample type is scalar, but the RFC multi-field
            # catalog (20240827:106-113) stores the SAME information as the
            # family's `sum` / `count` fields (ingest.group_metric_families
            # folds `*_sum` / `*_count` series into one metric). The
            # functions therefore route to the field: histogram_count(m) ==
            # m{__field__="count"}, histogram_sum(m) == m{__field__="sum"},
            # histogram_avg(m) == their series-matched ratio. A single-field
            # engine (no field dimension) rejects the selection downstream
            # with the standard non-default-field error.
            sel = node.args[0]
            if not isinstance(sel, Selector) or sel.range_ms is not None:
                raise PromQLError(
                    f"{fn} takes an instant vector selector argument"
                )

            def _field(fname: str) -> Selector:
                kept = tuple(m for m in sel.matchers if m.key != "__field__")
                return replace(
                    sel, matchers=(*kept, Matcher("__field__", "=", fname))
                )

            if fn == "histogram_count":
                return self._eval(_field("count"))
            if fn == "histogram_sum":
                return self._eval(_field("sum"))
            # histogram_avg: FUSED two-field evaluation (round 14). The
            # naive compile — binop("/", sum-selector, count-selector) —
            # derives the engine base and runs the instant-vector kernel
            # once per field (20 input scans in the executed plan; Spark
            # compiles DAG references as trees and ReuseExchange cannot
            # dedup the differently-filtered subtrees). One select of BOTH
            # fields + one instant vector keyed on (series, field) + a
            # two-way conditional aggregate halves the plan. Semantics:
            # the ratio exists where both fields report a sample in the
            # lookback (the isNotNull filter = the join's inner matching),
            # division is the same _promql_div the binop path uses, and
            # the step grid derives from the two-field frame's range
            # (the per-field grids of the unfused form agree on every
            # oracle-gated fixture; both are subsets of the engine range).
            kept = tuple(m for m in sel.matchers if m.key != "__field__")
            try:
                df = self.engine.select_series(
                    sel.name, list(kept) or None, field=("sum", "count")
                )
            except ValueError as e:
                raise PromQLError(str(e)) from e
            if sel.offset_ms:
                df = df.withColumn(
                    "ts_ms", F.col("ts_ms") + F.lit(sel.offset_ms)
                )
            iv = P.instant_vector(
                df.select("series_key", "field_id", "ts_ms", "value"),
                ["series_key", "field_id"],
                self.step_ms,
                self.lookback_ms,
                **self._window(sel.at_ms),
            )
            sum_id = F.xxhash64(F.lit("sum"))
            cnt_id = F.xxhash64(F.lit("count"))
            piv = (
                iv.groupBy("series_key", F.col("step_ms").alias("ts_ms"))
                .agg(
                    F.max(
                        F.when(F.col("field_id") == sum_id, F.col("value"))
                    ).alias("__s__"),
                    F.max(
                        F.when(F.col("field_id") == cnt_id, F.col("value"))
                    ).alias("__c__"),
                )
                .filter(F.col("__s__").isNotNull() & F.col("__c__").isNotNull())
            )
            out = piv.select(
                "series_key",
                "ts_ms",
                _promql_div(F.col("__s__"), F.col("__c__")).alias("value"),
            )
            return self._apply_at(out, sel.at_ms)
        raise PromQLError(f"unsupported function {fn!r}")

    @staticmethod
    def _matcher_key(sel: Selector) -> str:
        """absent()/absent_over_time() output labels: the selector's
        UNIQUE equality matchers (Prometheus createLabelsForAbsentFunction —
        the metric name is not included)."""
        eq: dict[str, str | None] = {}
        for m in sel.matchers:
            if m.op == "=":
                eq[m.key] = None if m.key in eq else m.value
        return ",".join(
            f"{k}={v}" for k, v in sorted(eq.items()) if v is not None
        )

    def _range_fn(self, node: Call):
        fn = node.fn
        args = list(node.args)
        if fn == "quantile_over_time":
            if not args or not isinstance(args[0], Number):
                raise PromQLError("quantile_over_time needs a literal q")
            # the literal q follows the range, like every other literal
            args.append(args.pop(0))
        df, range_ms, at_ms = self._range_input(args[0])
        step = self.step_ms
        sliding = range_ms != step
        if sliding and (range_ms % step != 0 or range_ms < step):
            raise PromQLError(
                f"range {range_ms}ms must be a positive multiple of the "
                f"step {step}ms"
            )
        keys = ["series_key"]
        if fn in ALIGNED_RANGE_FNS:
            if sliding:
                raise PromQLError(f"{fn} supports range == step only")
            kernel, val, literals = ALIGNED_RANGE_FNS[fn]
            lits = args[1 : 1 + len(literals)]
            if len(lits) < len(literals) or not all(
                isinstance(a, Number) for a in lits
            ):
                raise PromQLError(f"{fn} needs literal {', '.join(literals)}")
            out = kernel(df, keys, step, *[a.value for a in lits])
            return out.select(
                *keys,
                F.col("bucket_ms").alias("ts_ms"),
                F.col(val).cast("double").alias("value"),
            )
        if fn == "rate":
            out = (
                P.sliding_rate(df, keys, step, range_ms)
                .withColumnRenamed("eval_ms", "ts_ms")
                if sliding
                else P.rate(df, keys, step).withColumnRenamed("bucket_ms", "ts_ms")
            )
            return out.select(*keys, "ts_ms", F.col("rate_per_s").alias("value"))
        if fn == "increase":
            if sliding:
                out = P.sliding_increase(df, keys, step, range_ms)
                return out.select(
                    *keys,
                    F.col("eval_ms").alias("ts_ms"),
                    (F.col("increase_milli") / 1000.0).alias("value"),
                )
            out = P.increase(df, keys, step)
            return out.select(
                *keys, F.col("bucket_ms").alias("ts_ms"), F.col("increase").alias("value")
            )
        # avg/min/max/sum/count_over_time
        if sliding:
            out = P.sliding_over_time(df, keys, step, range_ms)
            ts = "eval_ms"
        else:
            out = P.over_time(df, keys, step)
            ts = "bucket_ms"
        return out.select(
            *keys, F.col(ts).alias("ts_ms"), F.col(fn).alias("value")
        )

    def _agg(self, node: Agg):
        df = self._eval(node.expr)
        if not isinstance(df, DataFrame):
            raise PromQLError("aggregation needs a vector")
        if node.without and node.grouping:
            kept = _subset_key([*node.grouping], keep=False)
        elif node.without:
            kept = F.col("series_key")  # without () keeps every label
        elif node.grouping:
            kept = _subset_key([*node.grouping], keep=True)
        else:
            kept = F.lit("")  # plain sum(...): one output series
        keyed = df.withColumn("__gkey__", kept)
        if node.op in ("topk", "bottomk"):
            # k=0 is a valid Prometheus query returning the empty vector —
            # `or 1` would silently coerce it to 1. Non-integer k is an
            # error, as in Prometheus ("k must be an integer").
            if node.param is not None and node.param != int(node.param):
                raise PromQLError(
                    f"{node.op}: k must be an integer, got {node.param}"
                )
            k = int(node.param) if node.param is not None else 1
            order = (
                [F.desc("value")] if node.op == "topk" else [F.asc("value")]
            ) + [F.asc("series_key")]
            w = Window.partitionBy("__gkey__", "ts_ms").orderBy(*order)
            return (
                keyed.withColumn("__rn__", F.row_number().over(w))
                .filter(F.col("__rn__") <= k)
                .select("series_key", "ts_ms", "value")
            )
        if node.op == "limitk":
            # PromQL 3.x limitk(k, ...): k arbitrary-but-deterministic
            # series per group/step — md5 of the series identity, the
            # limitk_series kernel's convention; rank<=k compiles to a
            # map-side WindowGroupLimit like topk
            if node.param is not None and node.param != int(node.param):
                raise PromQLError(
                    f"limitk: k must be an integer, got {node.param}"
                )
            k = int(node.param) if node.param is not None else 1
            if k <= 0:
                return keyed.filter(F.lit(False)).select(
                    "series_key", "ts_ms", "value"
                )
            w = Window.partitionBy("__gkey__", "ts_ms").orderBy(
                F.md5("series_key").asc(), F.asc("series_key")
            )
            return (
                keyed.withColumn("__rn__", F.row_number().over(w))
                .filter(F.col("__rn__") <= k)
                .select("series_key", "ts_ms", "value")
            )
        if node.op == "limit_ratio":
            # deterministic ~r sample by md5-prefix threshold (the
            # limit_ratio_series kernel's row-local trick — no ranking
            # shuffle); negative r selects the exact complement, so
            # limit_ratio(r) ∪ limit_ratio(-(1-r)) is the whole vector
            r = float(node.param if node.param is not None else 1.0)
            digest = F.substring(F.md5("series_key"), 1, 8)
            if r >= 1 or r <= -1:
                cond = F.lit(True)
            elif r == 0:
                cond = F.lit(False)
            elif r > 0:
                cond = digest < F.lit(format(int(r * 16**8), "08x"))
            else:
                cond = digest >= F.lit(format(int((1 + r) * 16**8), "08x"))
            return keyed.filter(cond).select("series_key", "ts_ms", "value")
        if node.op == "count_values":
            # count_values("label", v): per group/step, the number of
            # elements carrying each distinct value; the value string
            # becomes a label (overwriting a same-named group label).
            # Integral doubles format without the decimal point —
            # engine-portable, unlike shortest-float formatting.
            lbl = str(node.param)
            if not re.fullmatch(r"[a-zA-Z_][a-zA-Z0-9_]*", lbl):
                raise PromQLError(f"invalid destination label name {lbl!r}")
            fmt = F.when(
                F.col("value") == F.floor("value"),
                F.col("value").cast("long").cast("string"),
            ).otherwise(F.col("value").cast("string"))
            base = F.expr(
                f"map_filter(str_to_map(__gkey__, ',', '='), "
                f"(k, v) -> k != '' AND k != {_sql_str(lbl)})"
            )
            newkey = _canonical_key(
                F.map_concat(base, F.create_map(F.lit(lbl), fmt))
            )
            return keyed.groupBy(
                newkey.alias("series_key"), "ts_ms"
            ).agg(F.count(F.lit(1)).cast("double").alias("value"))
        v = F.col("value")
        if node.op == "sum":
            agg = _DEC_SUM(v)
        elif node.op == "avg":
            agg = _DEC_SUM(v) / F.count(v)
        elif node.op == "min":
            agg = F.min(v)
        elif node.op == "max":
            agg = F.max(v)
        elif node.op == "count":
            agg = F.count(v).cast("double")
        elif node.op == "group":
            agg = F.lit(1.0)
        elif node.op == "quantile":
            # Prometheus: q outside [0,1] yields -Inf/+Inf (NaN for NaN)
            # with a warning; Spark's percentile() rejects it outright
            q = node.param
            if math.isnan(q):
                agg = F.lit(float("nan"))
            elif q < 0:
                agg = F.lit(float("-inf"))
            elif q > 1:
                agg = F.lit(float("inf"))
            else:
                agg = F.percentile(v, F.lit(q))
        elif node.op in ("stddev", "stdvar"):
            # aggregate_by's quantized order-independent scheme
            qz = F.floor(v * 1000 + F.lit(0.5)).cast("long")
            n = F.count(v)
            var = (
                (n * F.sum(qz * qz) - F.sum(qz) * F.sum(qz)).cast("double")
                / (n * n)
                / F.lit(1e6)
            )
            agg = F.sqrt(var) if node.op == "stddev" else var
        else:
            raise PromQLError(f"unsupported aggregation {node.op!r}")
        return (
            keyed.groupBy("__gkey__", "ts_ms")
            .agg(agg.alias("value"))
            .select(F.col("__gkey__").alias("series_key"), "ts_ms", "value")
        )

    def _histogram_quantile(self, q: float, df: DataFrame):
        if not isinstance(df, DataFrame):
            raise PromQLError("histogram_quantile needs a vector")
        if math.isnan(q) or q < 0 or q > 1:
            # Prometheus: q out of [0,1] yields -Inf / +Inf (NaN -> NaN)
            # per histogram group rather than an empty or error result
            oob = (
                float("nan") if math.isnan(q)
                else float("-inf") if q < 0
                else float("inf")
            )
            return (
                df.select(
                    _subset_key(["le"], keep=False).alias("series_key"),
                    "ts_ms",
                )
                .distinct()
                .withColumn("value", F.lit(oob))
            )
        lbls = _labels()
        le_str = F.element_at(lbls, "le")
        le = (
            F.when(le_str.isin("+Inf", "Inf", "inf"), F.lit(float("inf")))
            .otherwise(le_str.cast("double"))
        )
        buckets = df.select(
            _subset_key(["le"], keep=False).alias("series_key"),
            "ts_ms",
            le.alias("le"),
            F.col("value").alias("bucket_count"),
        )
        out = P.histogram_quantile(buckets, ["series_key", "ts_ms"], q)
        return out.select(
            "series_key", "ts_ms", F.col("quantile_value").alias("value")
        )

    def _histogram_fraction(self, lo: float, hi: float, df: DataFrame):
        """``histogram_fraction(lo, hi, v)`` over classic ``le``-labeled
        buckets — same bucket extraction as _histogram_quantile, folded by
        functions/promql.histogram_fraction (promql/quantile.go
        histogramFraction semantics). Degenerate bounds follow upstream's
        HistogramFraction guards instead of propagating arithmetic: a NaN
        endpoint yields NaN per series/step, and lo >= hi (an empty
        interval) yields 0 — never the negative fraction the raw rank
        subtraction would produce. Upstream only defines the function for
        native histograms, so the classic-le form itself is an extension
        (DIVERGENCES #24g)."""
        if not isinstance(df, DataFrame):
            raise PromQLError("histogram_fraction needs a vector")
        if lo != lo or hi != hi or lo >= hi:
            const = float("nan") if (lo != lo or hi != hi) else 0.0
            return df.select(
                _subset_key(["le"], keep=False).alias("series_key"), "ts_ms"
            ).distinct().select(
                "series_key", "ts_ms", F.lit(const).alias("value")
            )
        lbls = _labels()
        le_str = F.element_at(lbls, "le")
        le = (
            F.when(le_str.isin("+Inf", "Inf", "inf"), F.lit(float("inf")))
            .otherwise(le_str.cast("double"))
        )
        buckets = df.select(
            _subset_key(["le"], keep=False).alias("series_key"),
            "ts_ms",
            le.alias("le"),
            F.col("value").alias("bucket_count"),
        )
        out = P.histogram_fraction(buckets, ["series_key", "ts_ms"], lo, hi)
        return out.select(
            "series_key", "ts_ms", F.col("fraction").alias("value")
        )

    def _match_key(self, node: BinOp) -> Column:
        # `on` is None when no modifier was given but () for `on()` —
        # Prometheus's match-everything key (one pair per timestamp);
        # truthiness would silently turn on() into exact-key matching
        if node.on is not None:
            return _subset_key([*node.on], keep=True)
        if node.ignoring:
            return _subset_key([*node.ignoring], keep=False)
        return F.col("series_key")

    def _grid_binop(self, node: BinOp, lhs, rhs, arith, comps):
        """Binary ops with a step-varying scalar (ScalarGrid) operand.
        Scalars never label-match: against a vector the join is on ts_ms
        only (grid broadcast — O(steps) rows) and the vector keeps its
        labels; scalar-scalar comparison requires bool mode, as in
        Prometheus."""
        if node.op in _SET_OPS:
            raise PromQLError(f"{node.op} requires two instant vectors")
        sgl, sgr = isinstance(lhs, ScalarGrid), isinstance(rhs, ScalarGrid)
        vec = lhs if isinstance(lhs, DataFrame) else (
            rhs if isinstance(rhs, DataFrame) else None
        )
        if vec is None:
            # scalar-scalar (SG vs SG, or SG vs literal)
            if node.op in comps and not node.bool_mode:
                raise PromQLError("scalar-scalar comparison needs bool mode")
            if sgl and sgr:
                j = lhs.df.join(
                    rhs.df.withColumnRenamed("value", "__rv__"), "ts_ms"
                )
                a, b = F.col("value"), F.col("__rv__")
            else:
                sg = lhs if sgl else rhs
                lit = F.lit(float(rhs if sgl else lhs))
                j = sg.df
                a, b = (F.col("value"), lit) if sgl else (lit, F.col("value"))
            if node.op in comps:
                out_v = F.when(
                    comps[node.op](a, b), F.lit(1.0)
                ).otherwise(F.lit(0.0))
            else:
                out_v = arith[node.op](a, b)
            return ScalarGrid(j.select("ts_ms", out_v.alias("value")))
        # vector vs scalar grid
        sg = lhs if sgl else rhs
        j = vec.join(
            F.broadcast(sg.df.withColumnRenamed("value", "__sv__")), "ts_ms"
        )
        a = F.col("__sv__") if sgl else F.col("value")
        b = F.col("value") if sgl else F.col("__sv__")
        if node.op in comps:
            cond = comps[node.op](a, b)
            if node.bool_mode:
                out = j.withColumn(
                    "value", F.when(cond, F.lit(1.0)).otherwise(F.lit(0.0))
                )
            else:
                out = j.filter(cond)
        else:
            out = j.withColumn("value", arith[node.op](a, b))
        return out.select("series_key", "ts_ms", "value")

    def _binop(self, node: BinOp):
        lhs, rhs = self._eval(node.lhs), self._eval(node.rhs)
        scalar_l = not isinstance(lhs, DataFrame)
        scalar_r = not isinstance(rhs, DataFrame)
        arith = {
            "+": lambda a, b: a + b,
            "-": lambda a, b: a - b,
            "*": lambda a, b: a * b,
            "/": _promql_div,
            # Prometheus % is Go's math.Mod (truncated: sign of the
            # dividend; x % 0 = NaN). Spark's Column % truncates but its
            # non-ANSI remainder yields NULL on a zero divisor, and
            # Python's % floors (and raises on 0) — so route pure scalars
            # through math.fmod and guard the column form's zero divisor.
            "%": _promql_mod,
            "^": _promql_pow,
            "atan2": lambda a, b: (
                F.atan2(
                    a if isinstance(a, Column) else F.lit(float(a)),
                    b if isinstance(b, Column) else F.lit(float(b)),
                )
                if isinstance(a, Column) or isinstance(b, Column)
                else math.atan2(a, b)
            ),
        }
        comps = {
            ">": lambda a, b: a > b,
            ">=": lambda a, b: a >= b,
            "<": lambda a, b: a < b,
            "<=": lambda a, b: a <= b,
            "==": lambda a, b: a == b,
            "!=": lambda a, b: a != b,
        }
        if isinstance(lhs, ScalarGrid) or isinstance(rhs, ScalarGrid):
            return self._grid_binop(node, lhs, rhs, arith, comps)
        if scalar_l and scalar_r:
            if node.op in comps:
                if node.bool_mode:
                    return 1.0 if comps[node.op](lhs, rhs) else 0.0
                raise PromQLError("scalar-scalar comparison needs bool mode")
            return arith[node.op](lhs, rhs)
        if node.op in _SET_OPS:
            if scalar_l or scalar_r:
                raise PromQLError(f"{node.op} requires two vectors")
            return self._set_op(node, lhs, rhs)
        if scalar_l or scalar_r:
            df = rhs if scalar_l else lhs
            lit = F.lit(lhs if scalar_l else rhs)
            a = lit if scalar_l else F.col("value")
            b = F.col("value") if scalar_l else lit
            if node.op in comps:
                # PromQL scalar comparison FILTERS the vector (keeps the
                # vector element's value); bool mode emits 1.0/0.0 per row
                cond = comps[node.op](a, b)
                if node.bool_mode:
                    return df.withColumn(
                        "value", F.when(cond, F.lit(1.0)).otherwise(F.lit(0.0))
                    )
                return df.filter(cond)
            return df.withColumn("value", arith[node.op](a, b))
        # vector-vector: one-to-one matching on (match key, ts)
        mk = self._match_key(node)
        lf = lhs.select(
            mk.alias("__mk__"), "ts_ms", F.col("value").alias("__lv__"),
            "series_key",
        )
        rf = rhs.select(
            mk.alias("__mk__"), "ts_ms", F.col("value").alias("__rv__"),
            F.col("series_key").alias("__rkey__"),
        )
        # one-to-one keeps the (shared) full label set; on/ignoring narrows
        # to the match key; group_left/right keeps the MANY side's labels,
        # plus any group_left(l1, ...) labels COPIED from the one side
        # (copied labels overwrite — or, when absent on the one side,
        # remove — the many side's; Prometheus label-copy semantics,
        # docs/rfcs/20220702-prometheus-read-extension.md:84-99).
        gl = [str(x) for x in node.group_labels]
        if node.group == "left":
            many_name, one_name = "series_key", "__rkey__"
        elif node.group == "right":
            many_name, one_name = "__rkey__", "series_key"
        if node.group and gl:
            out_key = _group_copy_key(many_name, one_name, gl)
        elif node.group:
            out_key = F.col(many_name)
        elif node.on is None and node.ignoring is None:
            out_key = F.col("series_key")
        else:
            out_key = F.col("__mk__")
        # Cardinality validation (Prometheus errors at query time; here the
        # check rides the plan as assert_true over a per-(match key, ts)
        # window count — same hash partitioning the join needs, so AQE
        # reuses the exchange). group_*: the ONE side must be unique per
        # match group. on/ignoring one-to-one: both sides must be. The
        # bare full-label one-to-one join is exempt: the engine's dedup
        # contract guarantees one value per (series_key, ts_ms).
        # Scope note: Catalyst may defer the guard projection past the
        # join, so duplicates in match groups that never pair with the
        # other side can go unflagged — every silently-produced
        # many-to-one PAIR is still caught (the correctness trap), which
        # is the property the tests pin.
        w = Window.partitionBy("__mk__", "ts_ms")
        cnt = F.count(F.lit(1)).over(w)

        def _checked(frame: DataFrame, value_col: str, msg: str) -> DataFrame:
            guard = F.assert_true(cnt <= 1, F.lit(msg))
            return frame.withColumn(
                value_col, F.when(guard.isNull(), F.col(value_col))
            )

        if node.group == "left":
            rf = _checked(rf, "__rv__", _MANY_TO_ONE_ERR)
        elif node.group == "right":
            lf = _checked(lf, "__lv__", _MANY_TO_ONE_ERR)
        elif node.on is not None or node.ignoring is not None:
            lf = _checked(lf, "__lv__", _ONE_TO_ONE_ERR)
            rf = _checked(rf, "__rv__", _ONE_TO_ONE_ERR)
        joined = lf.join(rf, ["__mk__", "ts_ms"])
        if node.op in comps:
            cond = comps[node.op](F.col("__lv__"), F.col("__rv__"))
            if node.bool_mode:
                return joined.select(
                    out_key.alias("series_key"),
                    "ts_ms",
                    F.when(cond, F.lit(1.0)).otherwise(F.lit(0.0)).alias("value"),
                )
            return joined.filter(cond).select(
                out_key.alias("series_key"), "ts_ms", F.col("__lv__").alias("value")
            )
        return joined.select(
            out_key.alias("series_key"),
            "ts_ms",
            arith[node.op](F.col("__lv__"), F.col("__rv__")).alias("value"),
        )

    def _set_op(self, node: BinOp, lhs: DataFrame, rhs: DataFrame):
        """``and`` = left rows whose match key exists on the right;
        ``unless`` = left rows whose match key does NOT; ``or`` = left rows
        plus right rows whose match key is absent from the left. Output
        rows keep their ORIGINAL labels (PromQL set-op semantics)."""
        mk = self._match_key(node)
        lf = lhs.select(mk.alias("__mk__"), "ts_ms", "series_key", "value")
        rf = rhs.select(mk.alias("__mk__"), "ts_ms", "series_key", "value")
        if node.op == "and":
            out = lf.join(
                rf.select("__mk__", "ts_ms").distinct(), ["__mk__", "ts_ms"],
                "left_semi",
            )
        elif node.op == "unless":
            out = lf.join(
                rf.select("__mk__", "ts_ms").distinct(), ["__mk__", "ts_ms"],
                "left_anti",
            )
        else:  # or
            extra = rf.join(
                lf.select("__mk__", "ts_ms").distinct(), ["__mk__", "ts_ms"],
                "left_anti",
            )
            out = lf.unionByName(extra)
        return out.select("series_key", "ts_ms", "value")


def promql_eval(engine: MetricEngine, query: str, step_ms: int) -> DataFrame:
    """One-call convenience: parse + compile + evaluate. Returns
    (series_key, ts_ms, value)."""
    return PromQLCompiler(engine, step_ms).compile(query)


def referenced_metrics(query: str) -> set[str] | None:
    """The metric names a PromQL string reads, or ``None`` when they cannot
    be determined (parse error — let evaluation surface it). The compiler's
    only data access is ``engine.select_series(selector.name, ...)``, so
    walking the frozen-dataclass AST for ``Selector`` nodes is exhaustive
    by construction; strings with no selector (``vector(time())``) return
    the empty set (they touch the grid, never the data)."""
    import dataclasses

    try:
        root = parse_promql(query)
    except Exception:
        return None
    names: set[str] = set()

    def walk(node) -> None:
        if isinstance(node, Selector):
            names.add(node.name)
        if dataclasses.is_dataclass(node):
            for f in dataclasses.fields(node):
                walk(getattr(node, f.name))
        elif isinstance(node, (tuple, list)):
            for item in node:
                walk(item)

    walk(root)
    return names


# threads of promql_eval_many's pool: one small job per string in flight
_SUITE_WORKERS = 16


def promql_eval_many(
    jobs: list[tuple[MetricEngine, str]], step_ms: int, post=None
) -> list[DataFrame]:
    """Evaluate MANY PromQL strings against their engines (dashboard /
    rule-group shape), returning frames in input order.

    Each string EXECUTES as its own small job on a pool of
    ``_SUITE_WORKERS`` threads (eager ``localCheckpoint``: results stay
    distributed as executor blocks, released on GC). Evaluating a
    16-branch suite as ONE union action makes AQE re-optimize a giant plan
    at every materialized stage (~60 exchanges; measured wall 5.3-5.5 s at
    sf0.1 against only ~0.3 s of perfectly-parallel executor work), while
    16 concurrent small jobs overlap their stage waves and each replan
    sees a small plan: 3.3 s total, build included. ``post(df, i)`` (e.g.
    a tag+rounding projection) is applied before the checkpoint so only
    final rows materialize. Memo races under the pool cost at most a
    duplicate subtree compile, never a wrong result.

    The batch also shares each engine's derived base: an engine used by
    two or more strings whose strings reference a non-empty set of metric
    names is replaced by its ``MetricEngine.materialized(metrics)`` clone,
    whose data/series/index tables are eager localCheckpoints bounded to
    those metrics. The scan → dedup → series-key subtree is then analyzed
    and executed once instead of per string, and per-string plans become
    filters over executor-resident blocks. Left alone: engines used once,
    engines that already are ``materialized()`` clones (their checkpointed
    base + ``_flat`` pre-join IS the shared base), engines whose strings
    read no metric (``vector(1)``, ``time()``: nothing to share), and
    engines with an unparseable string (the batch raises on it anyway).
    Results are unchanged: checkpointing only materializes the same rows,
    and the evaluation grid is pinned to the parent's data bounds. The
    clone's blocks are released on GC with the returned frames.
    localCheckpoint policy: see the SCALING.md boundary paragraph — this
    is the serving-suite side (blast radius = one suite re-run), not a
    library-operator default."""
    from concurrent.futures import ThreadPoolExecutor

    strings: dict[int, tuple[MetricEngine, list[str]]] = {}
    for eng, q in jobs:
        strings.setdefault(id(eng), (eng, []))[1].append(q)
    shared: dict[int, tuple[MetricEngine, set[str]]] = {}
    for k, (eng, qs) in strings.items():
        if len(qs) < 2 or eng._flat is not None:
            continue
        # the union of the metric names its strings read bounds the base
        names = [referenced_metrics(q) for q in qs]
        if None not in names and (metrics := set().union(*names)):
            shared[k] = (eng, metrics)
    if shared:
        with ThreadPoolExecutor(min(len(shared), _SUITE_WORKERS)) as pool:
            futs = {
                k: pool.submit(eng.materialized, metrics)
                for k, (eng, metrics) in shared.items()
            }
            clones = {k: f.result() for k, f in futs.items()}
        jobs = [(clones.get(id(e), e), q) for e, q in jobs]

    def one(i: int, eng: MetricEngine, q: str) -> DataFrame:
        out = promql_eval(eng, q, step_ms)
        if post is not None:
            out = post(out, i)
        return out.localCheckpoint(eager=True)

    with ThreadPoolExecutor(min(_SUITE_WORKERS, max(1, len(jobs)))) as pool:
        futs = [pool.submit(one, i, e, q) for i, (e, q) in enumerate(jobs)]
        return [f.result() for f in futs]
