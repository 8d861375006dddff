"""Spark vs DuckDB oracle for every oracle-backed query (driver replica)."""

from __future__ import annotations

import pytest

from chewdata_spark.queries import all_oracles, all_queries

from tests.oracle import compare, duckdb_connection, type_mismatches

QUERIES = all_queries()
ORACLES = all_oracles()
# name -> type_mismatches() of its Spark and DuckDB outputs, recorded by
# test_oracle_match so the type sweep need not build every query again
TYPE_MISMATCHES: dict[str, list[str]] = {}


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connection(sf_dir)
    yield c
    c.close()


def test_every_oracle_has_a_query():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracles without queries: {missing}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_match(name, spark, sf_dir, con):
    df = QUERIES[name](spark, sf_dir)
    TYPE_MISMATCHES[name] = type_mismatches(df, con.sql(ORACLES[name]))
    ok, msg = compare(df, con, ORACLES[name])
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    n = df.count()
    assert n >= 0


def test_oracle_output_types_match_spark(spark, sf_dir, con):
    """The driver's value hasher is TYPE-sensitive: DuckDB's HUGEINT
    (SUM over integers) hashes differently from Spark's BIGINT even on
    identical values — round 4's only red row.  compare() enforces the
    type map on every oracle run; this test sweeps ALL oracles'
    DuckDB output types against the Spark schemas explicitly so a
    drift names itself.  It reads what test_oracle_match recorded and
    builds only the queries that did not run there (run alone, -k)."""
    bad = {}
    for name in sorted(ORACLES):
        if name not in TYPE_MISMATCHES:
            df = QUERIES[name](spark, sf_dir)
            TYPE_MISMATCHES[name] = type_mismatches(df, con.sql(ORACLES[name]))
        mm = TYPE_MISMATCHES[name]
        if mm:
            bad[name] = mm
    assert not bad, f"Spark/DuckDB output-type drift: {bad}"


def test_duck_type_guard_rejects_hugeint():
    from tests.oracle import duck_type_ok

    assert duck_type_ok("bigint", "BIGINT")
    assert not duck_type_ok("bigint", "HUGEINT")  # the q12 class
    assert not duck_type_ok("double", "DECIMAL(18,4)")
    assert duck_type_ok("array<int>", "INTEGER[]")
    assert duck_type_ok("timestamp", "TIMESTAMP_NS")


def test_query_index_doc_is_current():
    # docs/QUERIES.md must match the live registry — regenerate with
    # `python scripts/gen_query_index.py` after adding a query
    import pathlib

    from chewdata_spark.queries import query_index_markdown

    committed = pathlib.Path("docs/QUERIES.md").read_text()
    assert committed == query_index_markdown()
