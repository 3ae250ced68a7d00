"""Medallion pipeline (bronze -> silver -> gold), reference-faithful.

Re-expresses the reference's Airflow DAGs as pure DataFrame functions:

- bronze ingest: ``dags/bronze/dag_bronze_financial_sample.py:40-185``
  (HTTP fetch -> MinIO -> per-row Postgres INSERT) becomes "get a
  DataFrame in, write parquet" — distributed, batched, no row loops.
- silver conform: ``dags/silver/dag_silver_financial_sample.py:65-135``
  (strip headers, ingestion timestamp, currency scrub, casts, rename,
  empty guard), with the reference's cataloged bugs FIXED on purpose
  (SURVEY.md §1.2):
    * ``gross_sale``/``gocs`` rename typos (``silver:93``, ``silver:96``)
      -> correct ``gross_sales``/``cogs``;
    * ``Manufacturing Price`` scrubbed but never cast back to float
      (``silver:76``) -> cast to double like the other measures;
    * XCom JSON round-trips (``silver:46-49,65-68``) -> eliminated by
      lazy lineage.
- gold marts: the layer the reference declares (``README.md:23-24``)
  but never builds (``dags/gold/dag_gold_financial_sample.py:1-31`` is
  an unloadable stub) — profit rollups over the silver table.

Scale notes: the silver transform is pure column expressions (whole-stage
codegen, no UDFs, no shuffle); layer writes go through ``partitionBy`` so
downstream gold scans prune partitions. Only xlsx ingest is driver-bound
(bounded single-file input by nature, ``bronze:217``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from projetos_etl_spark.sources.io import sink_parquet, sink_partitioned

#: Reference rename map (``silver:85-104``) with the two typos fixed:
#: ``Gross Sales -> gross_sales`` (ref: ``gross_sale``) and
#: ``COGS -> cogs`` (ref: ``gocs``).
RENAME_MAP = {
    "Segment": "segment",
    "Country": "country",
    "Product": "product",
    "Discount Band": "discount_band",
    "Units Sold": "units_sold",
    "Manufacturing Price": "manufacturing_price",
    "Sale Price": "sale_price",
    "Gross Sales": "gross_sales",
    "Discounts": "discounts",
    "Sales": "sales",
    "COGS": "cogs",
    "Profit": "profit",
    "Date": "date",
    "Month Number": "month_number",
    "Month Name": "month_name",
    "Year": "year",
}

#: Columns scrubbed of 'R$' then ',' and cast to double (``silver:77-82``).
CURRENCY_COLS_BRL = ["Sale Price", "Gross Sales", "Discounts", "Sales", "COGS", "Profit"]
#: Column scrubbed of '$' (``silver:76``); the reference forgets the cast
#: back to float — we cast (bug fix, SURVEY.md §1.2).
CURRENCY_COLS_USD = ["Manufacturing Price"]


def strip_headers(df: DataFrame) -> DataFrame:
    """Strip whitespace from every column name (ref op #5, ``bronze:156``,
    ``silver:71``)."""
    return df.toDF(*[c.strip() for c in df.columns])


def clean_currency_col(col: F.Column, symbol: str = "R$") -> F.Column:
    """Literal (non-regex) currency scrub + cast, matching pandas 2.x
    ``str.replace(..., regex=False)`` semantics exactly (``silver:76-82``):
    remove the currency symbol, then thousands commas, then cast.

    ``F.replace`` is Spark's literal string replace — no regex escaping
    concerns for ``$`` (SURVEY.md §4.3 "currency-clean semantics").
    """
    cleaned = F.replace(col.cast("string"), F.lit(symbol), F.lit(""))
    cleaned = F.replace(cleaned, F.lit(","), F.lit(""))
    return cleaned.cast("double")


def silver_conform(raw: DataFrame, with_ingestion_ts: bool = True) -> DataFrame:
    """The silver transform (``silver:65-110``), bugs fixed.

    Steps, in reference order: strip headers -> ingestion timestamp
    (``silver:73``; kept as TimestampType, not truncated to DATE like the
    reference's DDL ``silver:190``) -> currency scrub + cast (all seven
    measure columns become double — including ``Manufacturing Price``) ->
    snake_case rename.
    """
    df = strip_headers(raw)
    for c in CURRENCY_COLS_USD:
        if c in df.columns:
            df = df.withColumn(c, clean_currency_col(F.col(c), "$"))
    for c in CURRENCY_COLS_BRL:
        if c in df.columns:
            df = df.withColumn(c, clean_currency_col(F.col(c), "R$"))
    df = df.withColumnsRenamed({k: v for k, v in RENAME_MAP.items() if k in df.columns})
    if with_ingestion_ts:
        df = df.withColumn("ingestion_date", F.current_timestamp())
    return df


def bronze_ingest_excel(spark: SparkSession, path: str) -> DataFrame:
    """Excel bronze ingest (ref op #4, ``bronze:154``): driver-side xlsx
    parse -> DataFrame via the engine's hermetic stdlib reader
    (``sources/xlsx.py`` — zipfile + xml.etree; no openpyxl needed). xlsx
    is a single small non-splittable file by nature, so driver-bound
    parse is the right call; everything downstream is distributed."""
    from projetos_etl_spark.sources.xlsx import scan_xlsx

    return strip_headers(scan_xlsx(spark, path))


def source_http(spark: SparkSession, url: str, out_path: str, fmt: str = "parquet") -> DataFrame:
    """HTTP source fetch (ref op #1, ``bronze:40-94``): driver-side GET to
    a local spool file, then a distributed scan of the spooled copy.
    stdlib urllib (supports http(s):// and file:// for hermetic tests)."""
    import shutil
    import urllib.request

    with urllib.request.urlopen(url, timeout=60) as resp, open(out_path, "wb") as out:
        shutil.copyfileobj(resp, out)
    return spark.read.format(fmt).load(out_path)


def run_pipeline(
    spark: SparkSession,
    raw: DataFrame,
    base_dir: str,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """bronze -> silver with real layer writes (the whole reference
    pipeline minus Airflow): raw parquet to ``{base_dir}/bronze``, the
    conformed table partitioned by ``partition_cols`` (default: year) to
    ``{base_dir}/silver``. Returns the silver DataFrame re-read from its
    layer path — the handoff a gold mart consumes (partition-pruned).

    Only the layer writes run jobs; nothing is probed on the side:

    - the empty-input guard (ref op #14, ``silver:133-135``) is an
      ``Observation`` row count riding on the bronze write. An empty
      ``raw`` raises ``ValueError`` after bronze is written and before
      anything is written to silver;
    - both layers are re-read with the schema that was just written
      (parquet reads every column back nullable, and the partition
      column lands last, as inference would place it), so no read
      starts a schema-inference job;
    - ``raw`` is written as planned. Widening a narrow scan is the
      caller's job, on the scan before any wide projection (see
      ``sources.io.spread``): here it would re-plan the whole raw query
      to read its partition count."""
    rows = Observation()
    sink_parquet(raw.observe(rows, F.count(F.lit(1)).alias("n")), f"{base_dir}/bronze")
    if rows.get["n"] == 0:
        raise ValueError("DataFrame is empty — nothing to write to the silver layer")
    bronze = spark.read.schema(raw.schema).parquet(f"{base_dir}/bronze")
    silver = silver_conform(bronze, with_ingestion_ts=False)
    # file_groups=4: ~4 writers/files per partition value instead of one
    # file per (task x value) — see sink_partitioned; halves the layer
    # write by removing the small-file explosion while keeping the write
    # parallel within each partition directory.
    sink_partitioned(
        silver, f"{base_dir}/silver", partition_cols or ["year"], file_groups=4
    )
    return spark.read.schema(silver.schema).parquet(f"{base_dir}/silver")


def gold_profit_mart(silver: DataFrame) -> DataFrame:
    """Gold profit mart with ROLLUP subtotals (segment, year) — the mart
    the reference's README promises to Power BI (``README.md:23-24``) but
    whose DAG is an unloadable stub (``gold:26`` typo). Subtotal rows are
    labeled ('ALL' / -1) via ``F.grouping`` — the grouping FLAG, not the
    grouped value — so a genuinely-NULL segment/year group (or a segment
    literally named 'ALL') stays distinguishable from the subtotal."""
    # Currency measures are 2dp: accumulate EXACT integer cents (round to
    # cents per row, sum as long) and divide once at the end. Float
    # accumulation would drift with partition order once per-group sums
    # pass ~1e10 (observed at sf0.1), making the 2dp result
    # non-deterministic across engines and partitionings.
    def cents(col: str):
        return F.sum(F.round(F.col(col) * 100).cast("long"))

    return (
        silver.rollup("segment", "year")
        .agg(
            (cents("sales") / 100.0).alias("total_sales"),
            (cents("profit") / 100.0).alias("total_profit"),
            F.count(F.lit(1)).alias("n_rows"),
            F.grouping("segment").alias("__g_segment"),
            F.grouping("year").alias("__g_year"),
        )
        .select(
            F.when(F.col("__g_segment") == 1, F.lit("ALL"))
            .otherwise(F.col("segment"))
            .alias("segment"),
            F.when(F.col("__g_year") == 1, F.lit(-1))
            .otherwise(F.col("year").cast("int"))
            .alias("year"),
            "total_sales",
            "total_profit",
            "n_rows",
        )
    )
