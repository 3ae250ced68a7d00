"""End-to-end medallion run over the reference's financial schema, as a
user would migrate it — bronze ingest, silver conform with the
reference's cataloged bugs fixed, partitioned layer writes, gold ROLLUP
mart — with the layer layout and pruning printed so the write discipline
is visible, not just asserted.

This is the adoption path for the reference pipeline itself (the three
Airflow DAGs re-expressed as one Spark lineage; the gold layer the
reference declared but never built). Run it:

    python examples/medallion_pipeline.py [sf_dir]

(defaults to /root/testdata/sf0.001; the raw financial table is
synthesized from lineitem exactly as the registry entries do.)
"""

from __future__ import annotations

import glob
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from projetos_etl_spark.medallion import gold_profit_mart, run_pipeline
from projetos_etl_spark.plans import partition_filters
from projetos_etl_spark.registry.medallion import _synth_financial_raw
from projetos_etl_spark.session import get_spark
from projetos_etl_spark.sources.io import load_table, spread


def main(sf_dir: str) -> None:
    spark = get_spark(app_name="medallion-example")

    # Raw layer: the reference's 16-column financial sample shape,
    # synthesized deterministically from lineitem (same generator the
    # correctness entries use). The narrow scan is widened before the
    # projection; run_pipeline writes its input as planned.
    raw = _synth_financial_raw(spread(load_table(spark, sf_dir, "lineitem")))
    base = tempfile.mkdtemp(prefix="medallion_example_")

    # bronze write -> silver conform -> partitioned silver write -> re-read.
    silver = run_pipeline(spark, raw, base, partition_cols=["year"])
    print(f"layers under {base}")
    for part in sorted(glob.glob(f"{base}/silver/year=*")):
        n_files = len(glob.glob(f"{part}/*.parquet"))
        print(f"  {os.path.basename(part)}: {n_files} files")

    # Partition pruning in action: a single-year gold scan reads ONE
    # directory (PartitionFilters in the plan).
    one_year = silver.filter(F.col("year") == 1996)
    pruned = any("1996" in f for f in partition_filters(one_year))
    print(f"single-year scan partition-pruned: {pruned}")

    # Gold mart: ROLLUP subtotals with exact-cents accumulation.
    mart = gold_profit_mart(silver)
    rows = mart.orderBy("segment", "year").collect()
    grand = [r for r in rows if r.segment == "ALL"][0]
    print(f"gold mart rows: {len(rows)} (segments x years + subtotals)")
    print(
        f"grand total: sales={grand.total_sales:,.2f} "
        f"profit={grand.total_profit:,.2f} n_rows={grand.n_rows}"
    )
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
