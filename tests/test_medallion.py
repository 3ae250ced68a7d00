"""Reference-fidelity tests for the medallion silver transform.

Asserts the conform step reproduces the reference's silver semantics
(``dags/silver/dag_silver_financial_sample.py:65-110``) while FIXING its
cataloged bugs (SURVEY.md §1.2): correct ``gross_sales``/``cogs`` names,
``manufacturing_price`` cast to double, literal (non-regex) currency
scrub order 'R$' then ','.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import types as T

from projetos_etl_spark.medallion import (
    RENAME_MAP,
    gold_profit_mart,
    run_pipeline,
    silver_conform,
)
from projetos_etl_spark.registry.medallion import _synth_financial_raw
from projetos_etl_spark.sources.io import load_table, spread
from tests.conftest import SF_DIR

RAW_HEADERS = [
    "Segment",
    "Country ",
    " Product",
    "Discount Band",
    " Units Sold ",
    "Manufacturing Price",
    "Sale Price",
    "Gross Sales",
    "Discounts",
    "Sales",
    "COGS",
    "Profit",
    "Date",
    "Month Number",
    "Month Name",
    "Year",
]

ROW = (
    "Government",
    "Canada",
    "Carretera",
    "None",
    1618.5,
    "$3.00",
    "R$20.00",
    "R$32,370.00",
    "R$0.00",
    "R$32,370.00",
    "R$16,185.00",
    "R$16,185.00",
    "2014-01-01",
    1,
    "January",
    2014,
)


@pytest.fixture(scope="module")
def silver(spark):
    raw = spark.createDataFrame([ROW], RAW_HEADERS)
    return silver_conform(raw)


def test_headers_stripped_and_renamed(silver):
    # Exactly the reference's snake_case map with both typos fixed:
    # gross_sales (not gross_sale, silver:93) and cogs (not gocs, silver:96).
    assert set(silver.columns) == set(RENAME_MAP.values()) | {"ingestion_date"}


def test_currency_columns_are_double(silver):
    schema = {f.name: f.dataType for f in silver.schema.fields}
    for col in (
        "manufacturing_price",  # the reference forgot this cast (silver:76)
        "sale_price",
        "gross_sales",
        "discounts",
        "sales",
        "cogs",
        "profit",
    ):
        assert schema[col] == T.DoubleType(), col


def test_scrub_values_literal_semantics(silver):
    row = silver.collect()[0]
    assert row.manufacturing_price == 3.0
    assert row.sale_price == 20.0
    assert row.gross_sales == 32370.0  # 'R$32,370.00' -> strip R$ then ','
    assert row.cogs == 16185.0
    assert row.units_sold == 1618.5


def test_ingestion_timestamp_kept_as_timestamp(silver):
    # The reference stuffs a timestamp into a DATE column (silver:73 vs
    # silver:190); we keep TimestampType precision.
    schema = {f.name: f.dataType for f in silver.schema.fields}
    assert schema["ingestion_date"] == T.TimestampType()


def test_empty_guard_raises(spark, tmp_path):
    raw = spark.createDataFrame([ROW], RAW_HEADERS)
    with pytest.raises(ValueError, match="empty"):
        run_pipeline(spark, raw.limit(0), str(tmp_path))
    # The guard fires between the layers: bronze is written, silver not.
    assert sorted(os.listdir(tmp_path)) == ["bronze"]


def test_layer_reads_have_the_inferred_schema(spark, tmp_path):
    # The layers are re-read with the schema just written rather than
    # inferred (no inference job); it must be the schema inference
    # returns: every column nullable (the synthesized raw has non-null
    # columns), the partition column last and typed int.
    raw = _synth_financial_raw(spread(load_table(spark, SF_DIR, "lineitem")))
    base = str(tmp_path)
    silver = run_pipeline(spark, raw, base, partition_cols=["year"])
    assert not all(f.nullable for f in raw.schema.fields)
    bronze = spark.read.schema(raw.schema).parquet(f"{base}/bronze")
    assert bronze.schema == spark.read.parquet(f"{base}/bronze").schema
    inferred = spark.read.parquet(f"{base}/silver").schema
    assert silver.schema == inferred
    assert inferred.fields[-1] == T.StructField("year", T.IntegerType(), True)


def test_pipeline_runs_only_the_layer_writes(spark, tmp_path):
    # A local input with no shuffle in its plan: every job of the call
    # is a layer write. The empty guard rides on the bronze write as an
    # observed count, and both re-reads skip inference.
    raw = spark.createDataFrame([ROW, ROW], RAW_HEADERS)
    sc = spark.sparkContext
    group = "test_pipeline_runs_only_the_layer_writes"
    sc.setJobGroup(group, group)
    try:
        silver = run_pipeline(spark, raw, str(tmp_path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # 1: bronze write. 2: silver pre-shuffle onto (year, salt), submitted
    # by AQE as its own job. 3: silver write over that shuffle.
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3
    assert silver.count() == 2


def test_fresh_session_has_call_site_capture_off(tmp_path):
    # PySpark caches the flag at its first read in a process, so only a
    # fresh process shows what get_spark pins.
    code = (
        "from projetos_etl_spark.session import get_spark\n"
        "from pyspark.errors.utils import is_debugging_enabled\n"
        "spark = get_spark(cpus=1)\n"
        "from pyspark.sql import functions as F\n"
        "F.col('x')\n"
        "print(is_debugging_enabled())\n"
        "spark.stop()\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")]))
    env = {**os.environ, "PYTHONPATH": path, "SPARK_DRIVER_MEMORY": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    )
    assert out.stdout.strip().splitlines()[-1] == "False"


def test_gold_rollup_has_grand_total(spark):
    raw = spark.createDataFrame([ROW, ROW], RAW_HEADERS)
    silver = silver_conform(raw)
    mart = gold_profit_mart(silver)
    rows = {(r.segment, r.year): r for r in mart.collect()}
    assert rows[("ALL", -1)].n_rows == 2
    assert rows[("ALL", -1)].total_profit == 32370.0
    assert rows[("Government", 2014)].total_sales == 64740.0
