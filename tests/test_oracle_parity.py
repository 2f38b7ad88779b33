"""Every registered query with an oracle must match DuckDB exactly.

This is a local replica of the driver's t2 gate, run at sf0.001 for
speed (the driver runs sf0.01).
"""

from __future__ import annotations

import pytest

from astarte_data_updater_plant_spark.plans.registry import QUERIES, queries_map

from .oracle_utils import compare

queries_map()  # force registration
ORACLE_QUERIES = [name for name, spec in sorted(QUERIES.items()) if spec.oracle]


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, sf_dir, name):
    spec = QUERIES[name]
    df = spec.fn(spark, sf_dir)
    ok, msg = compare(df, spec.oracle, sf_dir)
    assert ok, f"{name}: {msg}"


def test_all_queries_return_rows(spark, sf_dir):
    for name, spec in sorted(QUERIES.items()):
        n = spec.fn(spark, sf_dir).count()
        assert n >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()).issubset(set(e.queries()))


def test_dtype_skews_reports_one_sided_columns(sf_dir):
    """A column present on only one side must surface as a skew:
    parity_full.py calls dtype_skews before compare()'s column-name
    gate, so a name mismatch must not read as zero-skew (ADVICE r7)."""
    from pyspark.sql import types as T

    from .oracle_utils import dtype_skews

    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("c", T.StringType()),
        ]
    )
    skews = dtype_skews(
        schema, "SELECT CAST(1 AS BIGINT) AS a, CAST(2 AS BIGINT) AS b", sf_dir
    )
    assert any(s.startswith("b: oracle-only") for s in skews)
    assert any(s.startswith("c: spark-only") for s in skews)
    assert not any(s.startswith("a:") for s in skews)
