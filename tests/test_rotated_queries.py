"""The 50-slot registry rotation must not rot the rotated-out query/
oracle pairs: they stay in `queries.PAIRS` after the registered rows as
working (Spark, DuckDB-SQL) pairs, and this module keeps checking them
exactly like the registry mirror (`test_entry_contract`), at sf0.001.
"""

from __future__ import annotations

import os

import pytest

from dbpedia_spotlight_spark import queries as Q
from tests.test_entry_contract import _assert_frames_equal, duck  # noqa: F401

SF_DIR = os.environ.get("ENTRY_TEST_SF_DIR", "/root/testdata/sf0.001")

ROTATED = Q.PAIRS[Q.REGISTERED:]


@pytest.mark.parametrize("name,q,sql", ROTATED, ids=[r[0] for r in ROTATED])
def test_rotated_pair_still_matches_oracle(spark, duck, name, q, sql):
    spark_pdf = q(spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(sql()).df()
    _assert_frames_equal(spark_pdf, duck_pdf, name)
