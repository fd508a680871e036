"""Replicates the driver's correctness gate locally at sf0.001: for every
catalog query with an oracle, run the Spark plan AND the DuckDB SQL on the
same parquet and compare row count, column names, and order-insensitive
values (floats to 9 sig figs — stricter than the driver's hash since our
queries round on both sides)."""

from __future__ import annotations

import datetime as dt
import math
import os

import pytest

from fest_vibes_ai_etl_spark.plans import catalog

from conftest import SF_DIR


def _canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    return v


def _rows(colnames, rows):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr)


ORACLE_QUERIES = sorted(catalog.oracle_sql())


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, duck, name):
    spec = catalog.REGISTRY[name]
    sdf = spec.fn(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(spec.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s, d = _rows(spark_cols, spark_rows), _rows(duck_cols, duck_rows)
    mismatches = [(a, b) for a, b in zip(s, d) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} value mismatches; first: {mismatches[0]}"


def test_bloom_semi_join_revenue_nonempty_at_sf001(spark):
    """sf0.001 has no lineitem of a negative-balance supplier, so the
    parametrized parity above compares two empty results for this query;
    sf0.01 has thousands, and the semi join must match the oracle there."""
    import duckdb

    sf_dir = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    spec = catalog.REGISTRY["bloom_semi_join_revenue"]
    sdf = spec.fn(spark, sf_dir)
    spark_rows = _rows(sdf.columns, [tuple(r) for r in sdf.collect()])

    con = duckdb.connect()
    try:
        for t in ("lineitem", "supplier"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        res = con.execute(spec.oracle)
        duck_rows = _rows([d[0] for d in res.description], res.fetchall())
    finally:
        con.close()

    assert spark_rows and sum(r[1] for r in spark_rows) > 0
    assert spark_rows == duck_rows


def test_rows_only_queries_run(spark):
    """Queries without an oracle still must run and return a stable schema."""
    for name, spec in catalog.REGISTRY.items():
        if spec.oracle:
            continue
        df = spec.fn(spark, SF_DIR)
        assert df.columns, name
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
