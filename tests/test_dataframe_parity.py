"""DataFrame-API vs validated-SQL parity (SURVEY §5.2 strategy 1).

Every DataFrame program in ``pserv_spark.queries`` must be
order-insensitively equal to the corpus SQL form it replaces — this
pins down "DataFrame-API vs SQL semantic drift" (SURVEY §7 watch list)
before the driver's oracle gate ever sees the DataFrame plan.
"""

from __future__ import annotations

import pytest

from pserv_spark import corpus
from pserv_spark.catalog import load_tables
from pserv_spark.queries import DATAFRAME_QUERIES
from pserv_spark.testing import compare_frames


@pytest.mark.parametrize("name", sorted(DATAFRAME_QUERIES))
def test_dataframe_matches_sql(spark, sf_oracle, name):
    df_impl = DATAFRAME_QUERIES[name](spark, sf_oracle)
    load_tables(spark, sf_oracle)
    sql_impl = spark.sql(corpus.SPARK_SQL[name])
    res = compare_frames(name, df_impl, sql_impl)
    assert res.ok, f"{name}: {res.detail} {res.mismatches[:3]}"


def test_all_dataframe_impls_are_corpus_ids():
    unknown = set(DATAFRAME_QUERIES) - set(corpus.QUERY_NAMES)
    assert not unknown, f"DataFrame impls without corpus SQL: {unknown}"
