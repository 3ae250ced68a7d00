"""Core scan/sink helpers over the engine's layer layout.

Scale notes (100 TB design point):
- Parquet is the canonical at-rest format (columnar, splittable, predicate
  pushdown + column pruning reach the scan via Catalyst).
- Layer writes go through ``sink_partitioned`` so downstream reads get
  static/dynamic partition pruning.
- JDBC writes are batched and parallel per partition — the reference's
  one-INSERT-per-row loop (``bronze:165-177``) is O(n) network round trips
  and is the single biggest scan-path fix this engine makes.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Fixture tables of the driver corpus (TESTDATA.md / FIXTURES.md §B).
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


#: Columns whose physical parquet encoding has drifted across fixture
#: generations (TIMESTAMP(NANOS) → TIMESTAMP(MICROS)) and must always
#: surface as the session-contract microsecond TimestampType regardless of
#: how they are stored on disk. The scan adapts to the *loaded* dtype
#: instead of assuming the encoding — see :func:`normalize_ts_cols`.
NANO_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}


def normalize_ts_cols(df: DataFrame, cols: list[str] | None) -> DataFrame:
    """Normalize timestamp columns to the contract type (TimestampType,
    microsecond precision, UTC session rendering) by branching on the
    dtype Spark actually loaded — never on an assumed physical encoding:

    - ``bigint``: TIMESTAMP(NANOS) file read under
      ``spark.sql.legacy.parquet.nanosAsLong`` → floor-truncate to
      microseconds (matching DuckDB's nanos scan).
    - ``timestamp_ntz``: TIMESTAMP(MICROS) with isAdjustedToUTC=false →
      reinterpret the wall-clock value as UTC (cast; value micros are
      unchanged under the engine's pinned UTC session TZ, matching
      DuckDB's naive TIMESTAMP).
    - ``timestamp``: already the contract type → untouched.
    """
    dtypes = dict(df.dtypes)
    for c in cols or []:
        dt = dtypes.get(c)
        if dt == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast(T.TimestampType()))
    return df


def scan_parquet(
    spark: SparkSession, path: str, nano_ts_cols: list[str] | None = None
) -> DataFrame:
    """Scan a parquet path. Pushdown/pruning are Catalyst's job.

    ``nano_ts_cols``: columns that must surface as microsecond
    TimestampType whatever their physical encoding (see
    :func:`normalize_ts_cols`).

    Session contract: UTC rendering is pinned by ``session.get_spark`` and
    at the registry API boundary (``registry/_core.ENGINE_SESSION_CONFS``),
    not here — a scan helper should not silently retoggle a shared
    session. The one conf this function does set is ``nanosAsLong`` (only
    when ``nano_ts_cols`` is passed): a TIMESTAMP(NANOS) file cannot be
    read at all without it (PARQUET_TYPE_ILLEGAL), and it is a no-op for
    micros files, so it is a hard requirement of the scan, not a
    preference.
    """
    if not nano_ts_cols:
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    return normalize_ts_cols(df, nano_ts_cols)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from an sf directory."""
    return scan_parquet(spark, f"{sf_dir}/{name}.parquet", NANO_TS_COLS.get(name))


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register fixture tables as temp views so gold marts are plain SQL."""
    for t in tables or TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def scan_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """CSV scan with an explicit schema (never inferSchema in production —
    inference is a full extra pass over 100 TB)."""
    return spark.read.csv(path, schema=schema, header=header, sep=sep)


def scan_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """Partitioned JDBC scan (replaces the reference's single-connection
    Postgres access, ``bronze:161-179``). With a numeric
    ``partition_column`` Spark issues ``num_partitions`` range-bounded
    queries in parallel."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    return reader.load()


def sink_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Parquet sink (ref op #15, ``silver:138-151`` — BytesIO + MinIO PUT
    becomes a distributed parallel write)."""
    df.write.mode(mode).parquet(path)


def sink_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    file_groups: int | None = None,
) -> None:
    """Layer write partitioned by (usually date-derived) columns so later
    scans prune partitions instead of listing 100 TB.

    ``file_groups``: when set, pre-shuffles rows onto (partition_cols,
    salt%file_groups) before the write, so each partition directory gets
    ~``file_groups`` writer tasks and ~``file_groups`` files. Without
    it, EVERY upstream task writes one file into EVERY partition value
    it holds rows for — a W-tasks x P-values file explosion (measured
    here: 32x7 = 224 tiny files, and the write was file-count-bound at
    2x the cost of the sized variant). This is write-time compaction:
    size ``file_groups`` so files land near the rowgroup sweet spot
    (~128 MB-1 GB); pair with ``maxRecordsPerFile`` if single groups
    still overshoot. The salt keys off the upstream partition id —
    deterministic for a fixed input partitioning, and cheaper than
    hashing row contents."""
    if file_groups:
        salt = F.pmod(F.spark_partition_id(), F.lit(file_groups))
        df = df.repartition(*[F.col(c) for c in partition_cols], salt)
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def sink_jdbc_batch(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batch_size: int = 10_000,
    properties: dict[str, str] | None = None,
) -> None:
    """Batched, partition-parallel JDBC sink — the fix for the reference's
    per-row INSERT loop (``bronze:165-177``)."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Widen a narrow input before a CPU-bound per-row stage.

    Small-file scans plan few input splits (Spark's split size is
    max(openCost, bytes/defaultParallelism), so a single small parquet
    file becomes ONE task), which serializes compute-heavy stages
    (hashing, regex featurization) on one core no matter how many are
    free. When the input has fewer partitions than the cluster width,
    repartition on the given key (round-robin if none) up to
    defaultParallelism; when the scan is already wide — the normal case
    on real multi-file tables — this is a no-op, so at 100 TB no extra
    shuffle is introduced.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # ``df.rdd.getNumPartitions()`` is a plan-side RDD conversion: it
    # fixes THIS df's partition count pre-AQE (runtime coalescing can
    # still shrink downstream stages, but this probe won't see it).
    # Acceptable here because the probe only gates a widen-if-narrow
    # decision on the scan side, where AQE has nothing to re-plan yet.
    if df.rdd.getNumPartitions() >= target:
        return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)


#: Minimum useful bytes per partition of an iteratively re-joined
#: checkpoint. Empirical (kcore loop, sf0.1, quiet local[32]): 1 MB-ish
#: partitions (AQE's parallelism-first floor -> 32 tasks) cost 4.5 s,
#: one partition costs 4.2-6.4 s (serialized compute), ~8 MB partitions
#: cost 2.6-2.9 s — per-task fixed cost dominates below this, lost
#: parallelism above it. The width cap below, not this floor, is what
#: governs at real scale.
CKPT_MIN_PARTITION_BYTES = 8 << 20


def _field_bytes(dt: T.DataType) -> int:
    """Rough in-memory width of one column value (UnsafeRow-ish): fixed
    8 for numerics/temporals, a small flat estimate for variable-width
    and nested types — this feeds a partition-COUNT heuristic, so being
    within 2-3x is plenty."""
    if isinstance(dt, (T.ArrayType,)):
        return 24 + 16 * 8  # assume ~16 elements
    if isinstance(dt, T.MapType):
        return 24 + 16 * 16
    if isinstance(dt, T.StructType):
        return 16 + sum(_field_bytes(f.dataType) for f in dt.fields)
    if isinstance(dt, (T.StringType, T.BinaryType)):
        return 24
    return 8


#: Serializes aqe_off's flip-and-restore of the session-global AQE
#: flag: two overlapping calls would otherwise each read the other's
#: "false" as the value to restore.
_AQE_LOCK = threading.Lock()


@contextmanager
def aqe_off(spark: SparkSession) -> Iterator[None]:
    """Plan and run the block's queries without AQE, then restore the
    caller's setting. A non-adaptive plan keeps the output partitioning
    a checkpoint records (see ``checkpoint_partitioned``), and an action
    runs as ONE job where AQE submits each shuffle stage as a job of its
    own. The flag is session-global, so the flip is serialized by a
    module lock; this assumes ONE driver thread issues queries on the
    session — a query another thread runs inside the block would plan
    without AQE."""
    conf = spark.conf
    with _AQE_LOCK:
        old = conf.get("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.enabled", "false")
        try:
            yield
        finally:
            conf.set("spark.sql.adaptive.enabled", old)


def _checkpoint_aqe_off(df: DataFrame) -> DataFrame:
    with aqe_off(df.sparkSession):
        return df.localCheckpoint(eager=True)


def checkpoint_partitioned(df: DataFrame, *key_cols: str, sort: bool = False) -> DataFrame:
    """Eager localCheckpoint that PRESERVES hash partitioning on
    ``key_cols`` (optionally also the within-partition sort order).

    The point: an iterative operator that joins or aggregates the same
    table on the same key every round should shuffle it ONCE.  A
    checkpoint normally keeps its physical plan's output partitioning —
    but with AQE enabled the plan is an AdaptiveSparkPlanExec whose
    partitioning is unresolved at checkpoint-creation time, so the
    resulting ``LogicalRDD`` degrades to UnknownPartitioning and every
    downstream join re-shuffles the checkpointed side (probed on this
    Spark: AQE on -> Exchange per iteration; AQE off -> none).  Building
    the final shuffle non-adaptively keeps the layout; consumers still
    run with whatever session config the caller has.

    The AQE flag is session-global: the flip is ``aqe_off``'s, serialized
    and restored before returning, under its one-driver-thread
    assumption.

    Partition count is SIZE-DERIVED, never a constant (guide §2): the
    input is materialized once (a plain checkpoint, filled by the job
    that counts it — the only full computation of ``df``), its byte
    size estimated from that row count x schema row width, and the
    keyed shuffle sized to ``CKPT_MIN_PARTITION_BYTES``-or-larger
    partitions, capped at 2x ``defaultParallelism`` so a genuinely large
    table still lands at cluster width (a few hundred MB per partition at 100 TB inputs)
    rather than at a tiny-partition floor. The count is floored at 2,
    not 1: ``repartition(1, key)`` plans as ``SinglePartition``, which
    the planner does not treat as a reusable hash layout, so every join
    against a one-partition checkpoint would re-shuffle it to
    ``spark.sql.shuffle.partitions``. Two hash partitions are kept (a
    2-partition checkpoint joined in a 4-shuffle-partition session is
    not re-shuffled); the second partition costs one near-empty task.

    With NO ``key_cols`` this adds no exchange at all: it preserves
    whatever layout ``df``'s plan already has (e.g. the join-key
    partitioning a preceding co-partitioned join established) — the
    AQE-off build is still what keeps that layout on the checkpoint."""
    if not key_cols:
        if sort:  # sortWithinPartitions needs columns; keyless has none
            raise ValueError(
                "checkpoint_partitioned(sort=True) requires key_cols — "
                "the keyless form only preserves the existing layout"
            )
        return _checkpoint_aqe_off(df)
    # Lazy checkpoint, filled by the count: one job computes ``df``,
    # stores its blocks and counts them. An eager checkpoint would be a
    # job of its own, and an adaptive count two more over the blocks.
    # Shuffles inside ``df`` still run adaptively: they execute when the
    # checkpoint is created.
    tmp = df.localCheckpoint(eager=False)
    row_bytes = 16 + sum(_field_bytes(f.dataType) for f in tmp.schema.fields)
    with aqe_off(df.sparkSession):
        n_rows = tmp.count()
    n = max(
        2,
        min(
            -(-n_rows * row_bytes // CKPT_MIN_PARTITION_BYTES),
            2 * df.sparkSession.sparkContext.defaultParallelism,
        ),
    )
    out = tmp.repartition(int(n), *[F.col(c) for c in key_cols])
    if sort:
        out = out.sortWithinPartitions(*key_cols)
    return _checkpoint_aqe_off(out)


def distributed_prefix_sum(df: DataFrame, order: list[Column], value: Column) -> DataFrame:
    """``df`` plus ``cum``, the EXACT inclusive global running sum of
    ``value`` (a non-null numeric Column) over the total order ``order``,
    and ``total``, its sum over all rows. ``value=F.lit(1)`` makes
    ``cum`` the 1-based global rank. ``order`` is a list of Columns
    (direction and null placement included); the one list drives both
    the range partitioner and the local sort. It must be UNIQUE when row
    identity matters (ranks, sweeps): tied rows get consecutive ``cum``
    values in an arbitrary order.

    Prefix sums compose across ranges because + is associative: one
    range shuffle (``defaultParallelism`` ranges), a running sum per
    range, plus broadcast offsets from the per-range totals — the only
    single-partition work, one row per range. The ranged table is
    MATERIALIZED before those two branches fan out: a range shuffle
    re-samples its bounds on every execution, and the pid->offset map
    must describe the partitioning the rows actually carry. That keyless
    ``checkpoint_partitioned`` runs ``df``'s plan with AQE off, so
    materialize an input with shuffles of its own first. ``df`` must not
    carry ``cum``, ``total`` or the ``_``-prefixed temporaries (``_pid``
    keys the local window)."""
    ranged = checkpoint_partitioned(
        df.repartitionByRange(df.sparkSession.sparkContext.defaultParallelism, *order)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_v", value)
    )
    part = ranged.groupBy("_pid").agg(F.sum("_v").alias("_part"))
    by_pid = Window.orderBy("_pid")
    offsets = part.select(
        "_pid",
        (
            F.sum("_part").over(
                by_pid.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - F.col("_part")
        ).alias("_offset"),
        F.sum("_part")
        .over(by_pid.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("total"),
    )
    run = Window.partitionBy("_pid").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ranged.withColumn("_run", F.sum("_v").over(run))
        .join(F.broadcast(offsets), "_pid")
        .withColumn("cum", F.col("_offset") + F.col("_run"))
        .drop("_pid", "_v", "_run", "_offset")
    )


def retention_sweep(spark: SparkSession, base: str, ts_col: str, cutoff: str) -> None:
    """Enforce a retention cutoff on a day-partitioned parquet layer
    (``d=YYYY-MM-DD`` directories) the partition-aligned way:

    - partitions wholly BEFORE the cutoff day: dropped as pure directory
      deletes — zero data read, one metadata op per expired day;
    - the single BOUNDARY partition (the day the cutoff bisects): read,
      row-filtered on ``ts_col >= cutoff``, rewritten in place;
    - partitions after the boundary: never opened, never rewritten.

    The naive ``WHERE``-and-rewrite formulation reads and rewrites the
    whole table to delete old rows; this is why layers are
    date-partitioned. See ``registry/sources.maintenance_retention_sweep``
    for the audited entry and tests/test_sources.py for the
    file-identity pin on the untouched partitions.

    Deletes go through the Hadoop ``FileSystem`` API resolved from the
    layer path, so the same code drops partition directories on local
    FS, HDFS, or an object store (``s3a://``) — partition drops ARE
    metadata ops at every tier, but only the FS client knows how (a
    POSIX ``rmtree`` on an S3 path would be wrong). On a catalog-backed
    table (Hive/Iceberg/Delta) the catalog owns deletes instead —
    ``ALTER TABLE ... DROP PARTITION`` / ``DELETE WHERE`` — this helper
    is for the path-addressed layer directories this engine manages."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    base_p = jvm.org.apache.hadoop.fs.Path(base)
    fs = base_p.getFileSystem(hconf)

    cutoff_day = cutoff[:10]
    for status in fs.listStatus(base_p):
        entry = status.getPath().getName()
        if not entry.startswith("d="):
            continue
        if entry[2:] < cutoff_day:
            fs.delete(status.getPath(), True)  # recursive; metadata-only drop
    bpath = f"{base}/d={cutoff_day}"
    if fs.exists(jvm.org.apache.hadoop.fs.Path(bpath)):
        boundary = spark.read.parquet(bpath).filter(
            F.col(ts_col) >= F.lit(cutoff).cast("timestamp")
        )
        # Materialize before overwriting the directory being read.
        boundary = boundary.localCheckpoint(eager=True)
        boundary.write.mode("overwrite").parquet(bpath)
