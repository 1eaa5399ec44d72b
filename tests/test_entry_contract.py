"""The driver contract (__spark_entry__) itself: smoke entry(), the
never-verified-first ordering, and a DuckDB parse check of EVERY oracle
(a syntax error in oracle SQL would otherwise surface only as a driver
CORRECTNESS err row next round)."""

from __future__ import annotations

import pathlib
import sys

import duckdb
import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod  # noqa: E402

from flink_realtime_data_eng_spark import registry  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def test_entry_smoke_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns  # stable schema


def test_queries_and_oracles_are_consistent():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every registered query carries a DuckDB oracle (sketch queries emit
    # their invariant, so even those hash-check — no rows-only rows left)
    rows_only = set(qs) - set(oracles)
    assert rows_only == set()


def test_ordering_puts_never_verified_first():
    qs = list(entry_mod.queries())
    best = entry_mod._last_verified_round()
    ranks = [best.get(n, -1) for n in qs]
    # ranks must be non-decreasing: never-verified (-1) before old rounds
    # before the most recently verified
    assert ranks == sorted(ranks)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", sorted(registry.ORACLES))
def test_every_oracle_parses_in_duckdb(duck, name):
    # EXPLAIN binds and plans without executing — catches syntax errors,
    # missing columns, and bad casts in milliseconds per query.
    duck.execute("EXPLAIN " + registry.ORACLES[name])
