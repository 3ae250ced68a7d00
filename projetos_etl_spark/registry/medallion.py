"""Medallion family: the reference's bronze->silver->gold pipeline run
end-to-end over fixture data (SURVEY.md §7 Phase 2).

The reference processes one xlsx with currency-string measure columns
("R$1,234.56" — ``silver:76-82``). The fixtures have no such file, so each
entry *synthesizes* the raw layer deterministically from ``lineitem``:
measures are derived in exact integer cents (floor products of the fixture
doubles), rendered as "R$<th>,<unit>.<cc>" strings, then pushed through the
real silver transform (scrub -> cast -> rename, ``medallion.silver_conform``).
The DuckDB oracle computes the same cents arithmetic numerically — so the
compare proves the string-scrub path reproduces the exact doubles.

Integer-cents discipline: every derived measure is a BIGINT cents value
(< 2^53), so both engines perform identical IEEE ops and the final
``cents/100`` doubles are bit-equal between the scrub path and the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from projetos_etl_spark.medallion import gold_profit_mart, run_pipeline, silver_conform
from projetos_etl_spark.operators.scd2 import scd2_apply
from projetos_etl_spark.scratch import scratch_dir
from projetos_etl_spark.registry._core import (
    DATE_FMT_DUCK,
    DATE_FMT_SPARK,
    TS_FMT_DUCK,
    TS_FMT_SPARK,
    Registry,
)
from projetos_etl_spark.sources.io import load_table, spread

REG = Registry()


def _brl(cents: Column) -> Column:
    """Render integer cents as the reference's currency-string shape,
    'R$<thousands>,<units>.<cents>' (e.g. 123456789 -> 'R$1234,567.89'),
    exercising both literal scrubs ('R$' and ',') of ``silver:77-82``.

    Negative cents render as 'R$-<magnitude>': the digit ladder runs on
    ``abs(cents)`` with an explicit sign prefix. The floor-based ladder
    on a raw negative value mangles the string (floor rounds toward
    -inf, so -123 rendered as dollars=-2 / rem=77 -> 'R$-1,998.77'),
    which the silver conform would then re-parse as -1998.77 — a 1000x
    corruption of every negative money reading (caught by the r10
    hostile-relational probe, SCALE.md). The literal scrub + cast path
    handles the '-' untouched."""
    mag = F.abs(cents)
    dollars = F.floor(mag / 100)
    rem = mag - dollars * 100
    th = F.floor(dollars / 1000)
    un = dollars - th * 1000
    return F.concat(
        F.lit("R$"),
        F.when(cents < 0, F.lit("-")).otherwise(F.lit("")),
        th.cast("string"),
        F.lit(","),
        F.lpad(un.cast("string"), 3, "0"),
        F.lit("."),
        F.lpad(rem.cast("string"), 2, "0"),
    )


def _synth_financial_raw(li: DataFrame) -> DataFrame:
    """Deterministic 'Financial Sample'-shaped raw layer from lineitem,
    headers matching the xlsx (``bronze:112-127``) including whitespace
    that the conform step must strip (``silver:71``)."""
    sale_cents = F.floor(F.col("l_extendedprice") * 100)
    qty = F.col("l_quantity").cast("long")
    gross_cents = sale_cents * qty
    disc_cents = F.floor(F.col("l_discount") * 10000)
    sales_cents = gross_cents - disc_cents
    cogs_cents = F.floor(gross_cents.cast("double") * 0.6)
    profit_cents = sales_cents - cogs_cents
    band = (
        F.when(disc_cents >= 500, "High")
        .when(disc_cents >= 200, "Medium")
        .when(disc_cents > 0, "Low")
        .otherwise("None")
    )
    mfg = (F.col("l_partkey") % 500 + 1).cast("string")
    return li.select(
        F.col("l_returnflag").alias("Segment"),
        F.col("l_linestatus").alias("Country"),
        F.concat(F.lit("P-"), F.col("l_partkey").cast("string")).alias("Product"),
        band.alias("Discount Band"),
        F.col("l_quantity").alias("  Units Sold "),
        F.concat(F.lit("$"), mfg).alias("Manufacturing Price"),
        _brl(sale_cents).alias("Sale Price"),
        _brl(gross_cents).alias("Gross Sales"),
        _brl(disc_cents).alias("Discounts"),
        _brl(sales_cents).alias("Sales"),
        _brl(cogs_cents).alias("COGS"),
        _brl(profit_cents).alias("Profit"),
        F.col("l_shipdate").alias("Date"),
        F.month("l_shipdate").alias("Month Number"),
        F.date_format("l_shipdate", "MMMM").alias("Month Name"),
        F.year("l_shipdate").alias("Year"),
    )


#: Shared oracle CTE: the same cents arithmetic, numerically.
_ORACLE_CENTS = """
    WITH m AS (
        SELECT l_returnflag, l_linestatus, l_partkey, l_quantity, l_shipdate,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS sale_cents,
               CAST(l_quantity AS BIGINT)                   AS qty,
               CAST(floor(l_discount * 10000) AS BIGINT)    AS disc_cents
        FROM lineitem
    ), mm AS (
        SELECT *,
               sale_cents * qty AS gross_cents,
               CAST(floor((sale_cents * qty) * 0.6) AS BIGINT) AS cogs_cents
        FROM m
    )
"""


@REG.add(
    "medallion_silver_conform",
    oracle=_ORACLE_CENTS
    + f"""
    SELECT l_returnflag                              AS segment,
           l_linestatus                              AS country,
           concat('P-', CAST(l_partkey AS VARCHAR))  AS product,
           CASE WHEN disc_cents >= 500 THEN 'High'
                WHEN disc_cents >= 200 THEN 'Medium'
                WHEN disc_cents > 0    THEN 'Low'
                ELSE 'None' END                      AS discount_band,
           l_quantity                                AS units_sold,
           CAST(l_partkey % 500 + 1 AS DOUBLE)       AS manufacturing_price,
           sale_cents / 100.0                        AS sale_price,
           gross_cents / 100.0                       AS gross_sales,
           disc_cents / 100.0                        AS discounts,
           (gross_cents - disc_cents) / 100.0        AS sales,
           cogs_cents / 100.0                        AS cogs,
           (gross_cents - disc_cents - cogs_cents) / 100.0 AS profit,
           strftime(l_shipdate, '{DATE_FMT_DUCK}')   AS date,
           CAST(month(l_shipdate) AS INTEGER)        AS month_number,
           monthname(l_shipdate)                     AS month_name,
           CAST(year(l_shipdate) AS INTEGER)         AS year
    FROM mm
    """,
)
def medallion_silver_conform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silver conform (ref ops #5, #10-#13 — ``silver:65-110``) over the
    synthesized raw layer. Bug fixes asserted by the oracle itself:
    ``manufacturing_price`` arrives as a parsed double (the reference left
    it a string, ``silver:76``) and the output names are ``gross_sales``/
    ``cogs`` (not the reference's ``gross_sale``/``gocs`` typos).

    Pure narrow transform — zero shuffle at any scale."""
    raw = _synth_financial_raw(load_table(spark, sf_dir, "lineitem"))
    silver = silver_conform(raw, with_ingestion_ts=False)
    return silver.withColumn("date", F.date_format("date", DATE_FMT_SPARK))


@REG.add(
    "medallion_gold_profit_mart",
    oracle=_ORACLE_CENTS
    + """
    , s AS (
        SELECT l_returnflag AS segment,
               CAST(year(l_shipdate) AS INTEGER)                       AS year,
               CAST(gross_cents - disc_cents AS BIGINT)                AS sales_cents,
               CAST(gross_cents - disc_cents - cogs_cents AS BIGINT)   AS profit_cents
        FROM mm
    )
    SELECT CASE WHEN GROUPING(segment) = 1 THEN 'ALL' ELSE segment END AS segment,
           CASE WHEN GROUPING(year) = 1 THEN -1 ELSE year END          AS year,
           sum(sales_cents) / 100.0   AS total_sales,
           sum(profit_cents) / 100.0  AS total_profit,
           count(*)                   AS n_rows
    FROM s
    GROUP BY ROLLUP(segment, year)
    """,
)
def medallion_gold_profit_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL pipeline with real layer writes: synth raw -> bronze
    parquet -> silver conform -> partitioned silver write (by year) ->
    re-read -> gold ROLLUP mart (``medallion.run_pipeline`` +
    ``gold_profit_mart``). This is the end-to-end shape the reference's
    three DAGs sketch but never complete (gold stub ``gold:1-31``).

    At scale the silver layer is partitioned on the rollup's date axis,
    so the gold scan reads only the partitions it aggregates."""
    # spread() the NARROW fact scan before the synth projection (the
    # pipeline writes its input as planned): widening parallelism here
    # shuffles 8 numeric columns; after the projection it would shuffle
    # 16 formatted-string columns (~3x the bytes) for the same effect.
    # No-op on an already-wide scan.
    raw = _synth_financial_raw(spread(load_table(spark, sf_dir, "lineitem")))
    base = scratch_dir("medallion_")
    silver = run_pipeline(spark, raw, base, partition_cols=["year"])
    return gold_profit_mart(silver)


SCD2_BATCH_TS = "2020-06-01 00:00:00"


@REG.add(
    "scd2_dimension_upsert",
    oracle=f"""
    WITH cur AS (
        SELECT c_custkey, c_mktsegment, c_nationkey,
               TIMESTAMP '1990-01-01 00:00:00' AS vf
        FROM customer
    ), chg AS (SELECT * FROM cur
               WHERE c_custkey % 3 = 0
                 AND c_mktsegment IS DISTINCT FROM 'MACHINERY')
    SELECT c_custkey, c_mktsegment, c_nationkey,
           strftime(vf, '{TS_FMT_DUCK}') AS valid_from,
           CAST(NULL AS VARCHAR)         AS valid_to
    FROM cur WHERE NOT (c_custkey % 3 = 0
                        AND c_mktsegment IS DISTINCT FROM 'MACHINERY')
    UNION ALL
    SELECT c_custkey, c_mktsegment, c_nationkey,
           strftime(vf, '{TS_FMT_DUCK}'),
           strftime(TIMESTAMP '{SCD2_BATCH_TS}', '{TS_FMT_DUCK}')
    FROM chg
    UNION ALL
    SELECT c_custkey, 'MACHINERY', c_nationkey,
           strftime(TIMESTAMP '{SCD2_BATCH_TS}', '{TS_FMT_DUCK}'), NULL
    FROM chg
    UNION ALL
    SELECT c_custkey + 100000, 'NEW', 0,
           strftime(TIMESTAMP '{SCD2_BATCH_TS}', '{TS_FMT_DUCK}'), NULL
    FROM cur WHERE c_custkey % 1000 = 0
    """,
)
def scd2_dimension_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 upsert (``operators/scd2.py``) on a customer dimension
    snapshot: every third customer switches segment to MACHINERY (a no-op
    where it already is — change detection must see that), and a few
    brand-new keys arrive. The oracle enumerates the exact expected
    unchanged/closed/reopened/new row sets.

    The oracle's change predicate is ``IS DISTINCT FROM`` (family
    eight): the operator's ``eqNullSafe`` change detection correctly
    treats a NULL-segment row updated to MACHINERY as a CHANGE, but the
    plain ``<>`` spelling is NULL for that row, which silently drops it
    from BOTH oracle branches — the row vanishes from the expected
    snapshot entirely."""
    cust = load_table(spark, sf_dir, "customer")
    dim = cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        F.lit("1990-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    updates = cust.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", F.lit("MACHINERY").alias("c_mktsegment"), "c_nationkey"
    ).unionByName(
        cust.filter(F.col("c_custkey") % 1000 == 0).select(
            (F.col("c_custkey") + 100000).alias("c_custkey"),
            F.lit("NEW").alias("c_mktsegment"),
            F.lit(0).cast("long").alias("c_nationkey"),
        )
    )
    out = scd2_apply(
        dim,
        updates,
        key="c_custkey",
        attrs=["c_mktsegment", "c_nationkey"],
        batch_ts=SCD2_BATCH_TS,
    )
    return out.select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        F.date_format("valid_from", TS_FMT_SPARK).alias("valid_from"),
        F.date_format("valid_to", TS_FMT_SPARK).alias("valid_to"),
    )


@REG.add(
    "cdc_apply_changes",
    oracle="""
    WITH chg AS (
        SELECT o_orderkey AS k, 'U' AS op, o_custkey, o_orderstatus,
               round(o_totalprice, 2) + 10.0 AS price, 1 AS seq
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey, 'U', o_custkey, o_orderstatus,
               round(o_totalprice, 2) + 25.0, 2
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey, 'D', o_custkey, o_orderstatus, 0.0, 1
        FROM orders WHERE o_orderkey % 10 = 1
        UNION ALL
        SELECT o_orderkey + 10000000, 'I', o_custkey, 'N', 100.0, 1
        FROM orders WHERE o_orderkey % 10 = 2
    ),
    latest AS (
        SELECT * FROM (
            SELECT chg.*, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
            FROM chg)
        WHERE rn = 1
    )
    SELECT o_orderkey, o_custkey, o_orderstatus,
           round(o_totalprice, 2) AS totalprice
    FROM orders
    WHERE o_orderkey NOT IN (SELECT k FROM latest)
    UNION ALL
    SELECT k, o_custkey, o_orderstatus, price
    FROM latest WHERE op <> 'D'
    """,
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style CDC apply (``operators/cdc.py``): a synthetic change
    stream against the orders snapshot — two successive updates for every
    %10==0 key (latest must win), deletes for %10==1, fresh inserts for
    %10==2. The oracle enumerates the same change set in SQL and merges
    it with window + anti-join, so both the latest-change-wins ordering
    and the I/U/D semantics are value-checked."""
    from projetos_etl_spark.operators.cdc import apply_cdc

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("totalprice"),
    )

    def chg(filter_mod, op, price_col, seq):
        return (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 10 == filter_mod)
            .select(
                (
                    F.col("o_orderkey") + (10000000 if op == "I" else 0)
                ).alias("o_orderkey"),
                "o_custkey",
                (F.lit("N") if op == "I" else F.col("o_orderstatus")).alias(
                    "o_orderstatus"
                ),
                price_col.alias("totalprice"),
                F.lit(op).alias("op"),
                F.lit(seq).alias("seq"),
            )
        )

    # updated prices are exact additions to the ALREADY-rounded value:
    # round(x * 1.05, 2) lands on half-cent boundaries where Spark
    # (BigDecimal HALF_UP) and DuckDB (float rounding) disagree.
    changes = (
        chg(0, "U", F.round("o_totalprice", 2) + 10.0, 1)
        .unionByName(chg(0, "U", F.round("o_totalprice", 2) + 25.0, 2))
        .unionByName(chg(1, "D", F.lit(0.0), 1))
        .unionByName(chg(2, "I", F.lit(100.0), 1))
    )
    return apply_cdc(orders, changes, key="o_orderkey")
