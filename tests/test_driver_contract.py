"""Replicates the driver's verify: every queries() entry runs and (where
an oracle exists) matches DuckDB on row count, schema names, and an
order-insensitive value comparison — at sf0.001 for speed (the driver
runs sf0.01)."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod
from oculus_crawl_spark.sources.tables import TESTDATA_TABLES

from .conftest import SF0001


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF0001}/{t}.parquet')"
        )
    return con


def _normalize(rows, colnames):
    out = []
    for row in rows:
        vals = []
        for c in sorted(colnames):
            v = row[c] if isinstance(row, dict) else row[colnames.index(c)]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


ALL = sorted(entry_mod.queries().keys())


def test_fulltext_entries_are_oracle_checked():
    """__spark_entry__ registers every fulltext entry as oracle-checked;
    an entry without oracle SQL would silently degrade to rows-only."""
    from oculus_crawl_spark.operators import fulltext_queries

    assert fulltext_queries.oracle_sql().keys() == fulltext_queries.queries().keys()


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF0001)
    spark_cols = sdf.columns
    spark_rows = [r.asDict() for r in sdf.collect()]

    oracle = entry_mod.oracle_sql().get(name)
    if oracle is None:
        assert len(spark_rows) >= 0  # rows-only check
        return
    res = ddb.execute(oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (name, spark_cols, duck_cols)
    assert len(spark_rows) == len(duck_rows), (
        name,
        len(spark_rows),
        len(duck_rows),
    )
    got = _normalize(spark_rows, spark_cols)
    exp = _normalize(duck_rows, duck_cols)
    mismatches = [(g, e) for g, e in zip(got, exp) if g != e]
    assert not mismatches, (name, mismatches[:5])
