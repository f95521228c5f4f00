"""Mirror of the driver's correctness gate: run every queries() entry and
compare against its oracle_sql() via DuckDB on the same parquet tables
(order-insensitive, column-name-sorted — like CORRECTNESS_r{N}.json).

Runs at sf0.001 for speed; the driver runs sf0.01. Float columns are
compared exactly (the oracle pairs are engineered for bit-identical
doubles: identical IEEE expression trees or explicit rounding).
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("ENTRY_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = ("events", "documents", "embeddings")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    # normalize array cells to tuples so sorting/eq works
    for c in pdf.columns:
        if pdf[c].map(lambda v: isinstance(v, (list, tuple))).any():
            pdf[c] = pdf[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _assert_frames_equal(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str):
    a, b = _canon(spark_pdf), _canon(duck_pdf)
    assert list(a.columns) == list(b.columns), (
        f"{name}: column mismatch {list(a.columns)} vs {list(b.columns)}")
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                assert x == y, f"{name}.{col}[{i}]: {x!r} != {y!r}"
            else:
                assert x == y, f"{name}.{col}[{i}]: {x!r} != {y!r}"


ORACLE_NAMES = sorted(entry_mod.oracle_sql())


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]
    spark_pdf = q(spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(sql).df()
    _assert_frames_equal(spark_pdf, duck_pdf, name)


def test_rows_only_queries_run(spark):
    """Every non-oracle entry must at least run and return a stable schema."""
    oracles = set(entry_mod.oracle_sql())
    for name, q in entry_mod.queries().items():
        if name in oracles:
            continue
        df = q(spark, SF_DIR)
        n = df.count()
        assert n >= 0 and len(df.columns) > 0, name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_registered_queries_emit_scalar_columns_only(spark):
    """The driver's canonicalizer sorts-then-hashes cell values and
    cannot order array/map/struct cells (the round-1 `err` class). Every
    registered query must emit scalar columns — schema check only, no
    execution."""
    from pyspark.sql.types import ArrayType, MapType, StructType
    for name, q in entry_mod.queries().items():
        df = q(spark, SF_DIR)
        for f in df.schema.fields:
            assert not isinstance(f.dataType, (ArrayType, MapType, StructType)), (
                f"{name}.{f.name} has non-scalar type {f.dataType}")


def test_every_oracle_has_a_query():
    missing = set(entry_mod.oracle_sql()) - set(entry_mod.queries())
    assert not missing, missing


def test_registry_is_fifty_unique_rows_of_one_table():
    """queries() and oracle_sql() are the first 50 rows of one table:
    the same 50 names in the same order, and no name bound twice
    anywhere in the table (a dict built from it would silently keep
    only one of the bindings). Needs no Spark session."""
    from dbpedia_spotlight_spark import queries as Q
    names = [name for name, _, _ in Q.PAIRS]
    assert len(names) == len(set(names)), sorted(
        n for n in set(names) if names.count(n) > 1)
    assert len(entry_mod.queries()) == 50
    assert list(entry_mod.queries()) == list(entry_mod.oracle_sql())
