"""Differential tests: every registered query against its DuckDB oracle
on the sf0.01 fixtures — the same comparison the driver performs
(row-count + schema + order-insensitive values), run exactly so any
driver-side hash mismatch shows up here first with a readable diff.

Spark-only queries (no oracle) get a determinism check instead: two
independent runs must produce identical results.
"""

from __future__ import annotations

import pytest

from efiche_data_pipeline_spark.plans.registry import ORACLES, QUERIES

from .conftest import SF_DIR, assert_frames_match, normalize

ORACLE_CHECKED = sorted(ORACLES)
SPARK_ONLY = sorted(set(QUERIES) - set(ORACLES))


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_query_matches_oracle(spark, oracle, name):
    spark_pdf = QUERIES[name](spark, SF_DIR).toPandas()
    oracle_pdf = oracle.execute(ORACLES[name]).fetchdf()
    assert_frames_match(spark_pdf, oracle_pdf, name)


@pytest.mark.parametrize("name", SPARK_ONLY)
def test_spark_only_query_deterministic(spark, name):
    first = normalize(QUERIES[name](spark, SF_DIR).toPandas())
    second = normalize(QUERIES[name](spark, SF_DIR).toPandas())
    assert first.equals(second), f"{name}: non-deterministic output"
    assert len(first.columns) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(QUERIES) == set(e.queries())


def test_money_avg_rounds_half_way_up(spark):
    """3571.60 / 80 = 44.645 exactly; as a double it is 44.64499…, so
    rounding the double quotient gives 44.64. The Spark helper, its
    Spark-SQL form and the DuckDB oracle must all give the half-up
    44.65."""
    import duckdb
    import pandas as pd

    from efiche_data_pipeline_spark.functions.numeric import (
        money_avg,
        oracle_money_avg,
    )
    from efiche_data_pipeline_spark.plans.sql_api import _ma

    rows = [(44.60,)] * 40 + [(44.69,)] * 40
    df = spark.createDataFrame(rows, "v double")
    assert df.agg(money_avg("v").alias("a")).first()["a"] == 44.65
    df.createOrReplaceTempView("money_avg_half_way")
    got = spark.sql(f"SELECT {_ma('v')} AS a FROM money_avg_half_way").first()["a"]
    assert got == 44.65
    pdf = pd.DataFrame(rows, columns=["v"])  # noqa: F841 — read by DuckDB
    got = duckdb.sql(f"SELECT {oracle_money_avg('v')} FROM pdf").fetchone()[0]
    assert got == 44.65
