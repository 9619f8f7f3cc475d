"""Differential testing of every registered query against DuckDB — the
in-repo replica of the driver's t2 correctness gate (SURVEY.md §5)."""

import pytest

from horaedb_spark.queries.oracle import compare_query, duckdb_connection
from horaedb_spark.queries.registry import QUERIES, queries_map

queries_map()  # trigger registration


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connection(sf_dir)
    yield c
    c.close()


ORACLE_QUERIES = sorted(n for n, q in QUERIES.items() if q.oracle is not None)


def test_every_query_has_an_oracle():
    """Regression guard: every registered query carries a DuckDB oracle —
    the weaker rows-only driver check must never silently re-appear. A
    genuinely non-SQL-expressible query would need a deliberate allowlist
    here, not a None oracle."""
    assert sorted(n for n, q in QUERIES.items() if q.oracle is None) == []


def _confirmed_independent():
    """Re-derive the confirmed set with SEPARATE logic from
    registry.driver_confirmed (plain dict walk, explicit latest-wins), so
    a parsing bug there cannot pass the ordering test trivially."""
    import json
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    latest: dict[str, dict] = {}
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        for name, row in json.loads(path.read_text()).items():
            latest[name] = row
    out = set()
    for name, row in latest.items():
        if row.get("err") is not None:
            continue
        # hash_match must be literally True: null marks a comparison the
        # driver skipped (every registered query has an oracle, so a skip
        # means unverified, not oracle-less).
        if row.get("hash_match") is True:
            out.add(name)
    return out


def test_driver_order_puts_unconfirmed_first():
    """VERDICT r10 task 7, made structural: the driver's time-capped sample
    walks queries() in map order, so every registry name whose LATEST
    committed CORRECTNESS row is not green must precede every name whose
    latest row is. The confirmation set is re-derived here with independent
    parsing logic, so a bug in registry.driver_confirmed cannot hide."""
    from horaedb_spark.queries.registry import _ordered, driver_confirmed

    confirmed = driver_confirmed()
    assert confirmed == _confirmed_independent()
    order = list(_ordered())
    assert set(order) == set(QUERIES)
    seen_confirmed = False
    for name in order:
        if name in confirmed:
            seen_confirmed = True
        else:
            assert not seen_confirmed, (
                f"unconfirmed query {name!r} ordered after a driver-confirmed one"
            )


def test_driver_confirmed_latest_row_wins(tmp_path):
    """A query green in an old round but errored/mismatched in the newest
    one has REGRESSED and must drop out of the confirmed set (the old
    rotation's "promote any regression" rule, now structural)."""
    import json

    from horaedb_spark.queries.registry import driver_confirmed

    g = {"rows_match": True, "schema_match": True, "hash_match": True,
         "spark_rows": 1, "oracle_rows": 1, "err": None}
    bad_hash = dict(g, hash_match=False)
    errored = dict(g, err="boom")
    # hash_match: null = driver skipped the oracle comparison. Since every
    # registered query HAS an oracle, a skipped comparison must not confirm
    # the query (ADVICE r11): "d" stays in the re-verification sample.
    rows_only = {"rows_match": True, "schema_match": True, "hash_match": None,
                 "spark_rows": 1, "oracle_rows": 1, "err": None}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"a": g, "b": g, "c": g, "d": rows_only})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"a": bad_hash, "b": errored, "e": g})
    )
    assert driver_confirmed(root=tmp_path) == {"c", "e"}


# Driver-confirmed queries' replicas run in the slow tier (pytest.ini): the
# driver independently re-runs the same query-vs-DuckDB comparison and
# commits the result to CORRECTNESS_r*.json, so the default-tier run keeps
# only the replicas that provide signal the driver has NOT yet provided
# (new or regressed queries — driver_confirmed is latest-row-green).
from horaedb_spark.queries.registry import driver_confirmed

_CONFIRMED = driver_confirmed()


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow) if n in _CONFIRMED else n
        for n in ORACLE_QUERIES
    ],
)
def test_query_matches_oracle(spark, sf_dir, con, name):
    q = QUERIES[name]
    result = compare_query(q.fn(spark, sf_dir), q.oracle, con, name)
    assert result.ok, result.detail
