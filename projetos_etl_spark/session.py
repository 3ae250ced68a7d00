"""SparkSession factory.

The reference builds network clients at module import time
(``dags/bronze/dag_bronze_financial_sample.py:27-34``) — an anti-pattern we
replace with a lazy, configured factory. All configs target the engine's
design point (SURVEY.md §2B "scale posture"): AQE on (runtime join strategy,
skew splitting, partition coalescing), Arrow on (fast pandas boundary for
the bounded excel ingest and pandas UDFs), UTC session time zone (stable
timestamp semantics vs. external oracles/warehouses).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "projetos-etl-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or ``*``.
    ``shuffle_partitions`` defaults to the core count — the stock 200 is
    wrong for local mode; on a real cluster this is sized to ~2-3x total
    cores / target partition size instead.

    DataFrame call-site capture (``spark.python.sql.dataFrameDebugging``)
    is OFF. With it on, PySpark wraps every ``F.*`` function and
    ``Column`` method so each call records its Python file:line in the
    JVM: an active-session lookup, a conf read, a stack walk and an
    origin set/clear, about 13 py4j round trips for one ``F.col``. With
    it off, one warm ``medallion_gold_profit_mart`` call at sf0.001 made
    1320 round trips instead of 3089, ``graph_label_propagation`` 940
    instead of 1962. PySpark reads the flag once per process and caches
    it (``False`` if no session exists yet), so pinning it here also
    makes every ``get_spark`` process behave the same whatever it
    imported first. The cost: an error's
    DataFrame query context (``"cast" was called from ...``) names a
    JVM frame instead of the Python file:line that built the failing
    expression; the error message and the function name are unchanged.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make ``projetos_etl_spark`` importable on executors.

    Python workers don't inherit the driver's ``sys.path``, so any UDF
    that references a module-level symbol (pickled by reference) needs
    the package shipped. This zips the package once per SparkContext and
    ``addPyFile``s it — the same mechanism used to deploy this engine's
    code to a real 1000-executor cluster (``spark-submit --py-files``).
    """
    sc = spark.sparkContext
    if getattr(sc, "_pes_package_shipped", False):
        return
    from projetos_etl_spark.scratch import scratch_dir
    import zipfile

    import projetos_etl_spark

    pkg_dir = os.path.dirname(os.path.abspath(projetos_etl_spark.__file__))
    zip_path = os.path.join(
        scratch_dir("pyfiles_"), "projetos_etl_spark.zip"
    )
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fname in files:
                if fname.endswith(".py"):
                    full = os.path.join(root, fname)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._pes_package_shipped = True
