"""Mirror of the driver's correctness gate: run every queries() entry at
small scale and compare row-count + column names + order-insensitive values
against the DuckDB oracle_sql() twin."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod
from roddy_spark.plans import contract

import os

SF_DIR = os.environ.get("RODDY_CONTRACT_SF_DIR", "/root/testdata/sf0.001")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    return v


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


ORACLED = contract.ORACLED_QUERIES
ROWS_ONLY = tuple(q for q in contract.QUERIES if q not in ORACLED)


def test_oracled_queries_precede_rows_only():
    """Every SQL twin names a query, and a check that runs a prefix of
    QUERIES meets the oracled entries first."""
    assert set(ORACLED) == set(contract.ORACLES)
    assert tuple(contract.QUERIES)[:len(ORACLED)] == ORACLED


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = ddb.execute(entrymod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), (
        f"{name}: column mismatch {scols} vs {dcols}")
    assert len(srows) == len(drows), (
        f"{name}: row count {len(srows)} vs {len(drows)}")
    sset, dset = _rowset(scols, srows), _rowset(dcols, drows)
    mism = [i for i, (a, b) in enumerate(zip(sset, dset)) if a != b]
    assert not mism, (
        f"{name}: {len(mism)} value mismatches, first: "
        f"{sset[mism[0]]} vs {dset[mism[0]]}")


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    rows = df.collect()
    assert rows, f"{name} returned no rows"
    assert df.columns


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_nb_quality_keeps_the_sign_of_zero(spark):
    """nb_quality against its DuckDB twin at sf0.01 (the sibling of the
    contract data directory), with zeros compared by sign: doc 395 there
    has a small negative mean log-odds that rounds to -0.0. ``==`` and
    ``test_query_matches_oracle`` take -0.0 for 0.0; a hash of the rows
    does not."""
    sf = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")

    def signed(v):
        if isinstance(v, float):
            return round(v, 6), math.copysign(1.0, v)
        return v

    def rowset(cols, rows):
        idx = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted(tuple(signed(r[i]) for i in idx) for r in rows)

    sdf = entrymod.queries()["nb_quality"](spark, sf)
    got = rowset(sdf.columns, sdf.collect())
    res = con.execute(entrymod.oracle_sql()["nb_quality"])
    want = rowset([d[0] for d in res.description], res.fetchall())
    assert (0.0, -1.0) in {v for row in want for v in row}, "no -0.0 score"
    mism = [(a, b) for a, b in zip(got, want) if a != b]
    assert len(got) == len(want) and not mism, mism[:3]
