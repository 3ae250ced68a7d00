"""Data-prep family: time-series regularization and schema profiling —
maintenance ops a training-data or BI pipeline runs around the core
queries (SURVEY.md §2B extensions; the reference has no analogue, its
pipeline ships every row it ingests). Deterministic stratified
sampling lives in the text family (``sample_stratified_hash``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from projetos_etl_spark.functions.finite import finite, sql_finite, sql_finite_pred
from projetos_etl_spark.registry._core import TS_FMT_DUCK, TS_FMT_SPARK, Registry, rows_df
from projetos_etl_spark.sources.io import distributed_prefix_sum, load_table

#: Hard cap on the hourly spine a single series may densify to (ten
#: years). The spine operators generate min(h)..max(h) PER USER, so ONE
#: corrupt timestamp — an epoch-zero clock reset, a year-2250 overflow —
#: silently turns a 720-hour series into a multi-million-row synthetic
#: spine and grinds the whole job (measured: a single planted 2250
#: stamp held a probe sweep >15 min on one task). Refusing loudly with
#: the offending series named is the honest behavior; the fix belongs
#: upstream (drop or clamp implausible timestamps before resampling).
SPINE_SPAN_CAP_HOURS = 24 * 366 * 10


def _check_spine_span(spans, op_name: str) -> None:
    """Fail fast (naming the series) when any user's observed min..max
    hour span exceeds SPINE_SPAN_CAP_HOURS — see the constant's doc.
    One tiny aggregate job over the per-user spans frame."""
    bad = (
        spans.select(
            "user_id",
            (
                (F.unix_timestamp("h_hi") - F.unix_timestamp("h_lo")) / 3600
            ).cast("long").alias("span_hours"),
        )
        .filter(F.col("span_hours") > SPINE_SPAN_CAP_HOURS)
        .orderBy(F.col("span_hours").desc())
        .limit(5)
        .collect()
    )
    if bad:
        worst = ", ".join(f"user {r.user_id}: {r.span_hours}h" for r in bad)
        raise ValueError(
            f"{op_name}: hourly spine would exceed {SPINE_SPAN_CAP_HOURS} "
            f"hours for at least {len(bad)} series ({worst}) — almost "
            "certainly a corrupt timestamp (epoch-zero reset / far-future "
            "overflow); drop or clamp implausible timestamps upstream "
            "instead of densifying across the gap"
        )

REG = Registry()

HOUR_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
HOUR_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@REG.add(
    "ts_resample_ffill",
    # finite gate (functions/finite.py), same convention as its sibling
    # ts_interpolate_linear: a NaN/Inf reading is a MISSING reading, so
    # it maps to NULL and the fill carries the last USABLE value across
    # it — a forward-fill that propagates a corrupt reading for hours
    # is corruption amplification.
    oracle=f"""
    WITH hourly AS (
        SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS h, value
        FROM (
            SELECT user_id, ts, round({sql_finite("value")}, 6) AS value,
                   row_number() OVER (
                       PARTITION BY user_id, time_bucket(INTERVAL '1 hour', ts)
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
        WHERE rn = 1
    ),
    spans AS (
        SELECT user_id, min(h) AS h_lo, max(h) AS h_hi FROM hourly GROUP BY user_id
    ),
    spine AS (
        SELECT user_id, unnest(generate_series(h_lo, h_hi, INTERVAL 1 HOUR)) AS h
        FROM spans
    )
    SELECT s.user_id,
           strftime(s.h, '{HOUR_FMT_DUCK}') AS hour,
           last_value(hourly.value IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
    FROM spine s LEFT JOIN hourly ON s.user_id = hourly.user_id AND s.h = hourly.h
    """,
)
def ts_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: resample each user's event stream onto
    an hourly spine (``sequence`` + explode — generated distributed, per
    user, never on the driver) and forward-fill gaps with the last
    observed value (``last(ignorenulls)`` over an ordered window). The
    per-hour observation is the latest event in the hour with an explicit
    (ts, event_id) tie-break so both engines pick the same row. Gap
    filling is the canonical prep step for ML feature windows over
    irregular events. Scale: the per-hour pick is ``max_by`` over a
    (ts, event_id) struct — a combinable hash aggregate with map-side
    partials, deliberately NOT a row_number window (which would sort
    every partition); spine generation, the join, and the fill window
    then all partition by user_id."""
    ev = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    # finite(): a corrupt reading is a missing reading — see the oracle
    # comment.
    hourly = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            hour.alias("h"),
            F.round(finite("value"), 6).alias("value"),
        )
        .groupBy("user_id", "h")
        .agg(F.max_by("value", F.struct("ts", "event_id")).alias("value"))
        # The hourly rollup feeds THREE consumers: the span guard's
        # eager collect, the spine generator, and the fill join. Without
        # materialization the guard's collect executes the whole
        # events-scan + rollup once and the returned query re-executes
        # it again (r13: one events pass instead of two; the
        # materialized frame is one row per (user, hour) — span-bounded,
        # small at any scale).
        .localCheckpoint(eager=True)
    )
    spans = hourly.groupBy("user_id").agg(
        F.min("h").alias("h_lo"), F.max("h").alias("h_hi")
    )
    _check_spine_span(spans, "ts_resample_ffill")
    spine = spans.select(
        "user_id",
        F.explode(
            F.sequence("h_lo", "h_hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["user_id", "h"], "left")
        .withColumn("value_ffill", F.last("value", ignorenulls=True).over(w_fill))
        .select(
            "user_id",
            F.date_format("h", HOUR_FMT_SPARK).alias("hour"),
            "value_ffill",
        )
    )


#: Columns profiled by quality_schema_profile (orders table).
_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]


@REG.add(
    "quality_schema_profile",
    oracle="""
    SELECT 'o_orderkey' AS column_name,
           CAST(count(*) - count(o_orderkey) AS BIGINT) AS null_count,
           CAST(count(DISTINCT o_orderkey) AS BIGINT)   AS distinct_count,
           CAST(min(o_orderkey) AS VARCHAR)             AS min_value,
           CAST(max(o_orderkey) AS VARCHAR)             AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*) - count(o_custkey), count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*) - count(o_totalprice),
           count(DISTINCT round(o_totalprice, 2)),
           CAST(round(min(o_totalprice), 2) AS VARCHAR),
           CAST(round(max(o_totalprice), 2) AS VARCHAR)
    FROM orders
    ORDER BY column_name
    """,
)
def quality_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema/data profiling: one row per column with null count,
    distinct count, and min/max rendered as strings (the shape a data
    catalog ingests). Computed as a SINGLE aggregation pass over the
    table — all per-column aggregates ride one scan, then the wide row
    is unpivoted driver-free with ``stack``. The distinct counts make
    this a shuffle-bearing profile; at 100 TB swap them for
    approx_count_distinct and the pass becomes fully map-combinable."""
    o = load_table(spark, sf_dir, "orders")
    price = F.round(F.col("o_totalprice"), 2)
    wide = o.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.count(c).alias(f"nn_{c}") for c in _PROFILE_COLS],
        F.countDistinct("o_orderkey").alias("d_o_orderkey"),
        F.countDistinct("o_custkey").alias("d_o_custkey"),
        F.countDistinct("o_orderstatus").alias("d_o_orderstatus"),
        F.countDistinct(price).alias("d_o_totalprice"),
        F.min("o_orderkey").cast("string").alias("min_o_orderkey"),
        F.max("o_orderkey").cast("string").alias("max_o_orderkey"),
        F.min("o_custkey").cast("string").alias("min_o_custkey"),
        F.max("o_custkey").cast("string").alias("max_o_custkey"),
        F.min("o_orderstatus").alias("min_o_orderstatus"),
        F.max("o_orderstatus").alias("max_o_orderstatus"),
        F.round(F.min("o_totalprice"), 2).cast("string").alias("min_o_totalprice"),
        F.round(F.max("o_totalprice"), 2).cast("string").alias("max_o_totalprice"),
    )
    stack_args = ", ".join(
        f"'{c}', n - nn_{c}, d_{c}, min_{c}, max_{c}" for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(column_name, null_count, distinct_count, min_value, max_value)"
    ).orderBy("column_name")


@REG.add(
    "ts_interpolate_linear",
    oracle=f"""
    WITH hourly AS (
        -- finite gate (functions/finite.py): a NaN/Inf reading IS a
        -- missing reading — interpolation's whole purpose — so it maps
        -- to NULL and gets interpolated over, instead of riding into
        -- engine-divergent NaN/Inf arithmetic (r10 sf_nan probe).
        SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS h, value
        FROM (
            SELECT user_id, ts, round({sql_finite("value")}, 6) AS value,
                   row_number() OVER (
                       PARTITION BY user_id, time_bucket(INTERVAL '1 hour', ts)
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
        WHERE rn = 1
    ),
    spans AS (
        SELECT user_id, min(h) AS h_lo, max(h) AS h_hi FROM hourly GROUP BY user_id
    ),
    spine AS (
        SELECT user_id, unnest(generate_series(h_lo, h_hi, INTERVAL 1 HOUR)) AS h
        FROM spans
    ),
    anchored AS (
        SELECT s.user_id, s.h, hourly.value AS v,
               last_value(hourly.value IGNORE NULLS) OVER w_back  AS pv,
               last_value(CASE WHEN hourly.value IS NOT NULL THEN s.h END
                          IGNORE NULLS) OVER w_back               AS ph,
               first_value(hourly.value IGNORE NULLS) OVER w_fwd  AS nv,
               first_value(CASE WHEN hourly.value IS NOT NULL THEN s.h END
                           IGNORE NULLS) OVER w_fwd               AS nh
        FROM spine s LEFT JOIN hourly ON s.user_id = hourly.user_id AND s.h = hourly.h
        WINDOW
            w_back AS (PARTITION BY s.user_id ORDER BY s.h
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            w_fwd  AS (PARTITION BY s.user_id ORDER BY s.h
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id,
           strftime(h, '{HOUR_FMT_DUCK}') AS hour,
           -- floor(x*1e6 + 0.5)/1e6 in BOTH engines: interpolated values hit
           -- exact .5 ties at 6 dp, where engine round() modes disagree
           floor(CASE
               WHEN v IS NOT NULL THEN v
               WHEN pv IS NULL THEN nv
               WHEN nv IS NULL THEN pv
               ELSE pv + (nv - pv)
                    * ((epoch(h) - epoch(ph)) / (epoch(nh) - epoch(ph)))
           END * 1e6 + 0.5) / 1e6 AS value_interp
    FROM anchored
    """,
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation on the hourly spine — the numeric-feature
    sibling of ``ts_resample_ffill``: missing hours get
    ``prev + (next - prev) * elapsed_fraction`` between the nearest
    observed values (edges fall back to nearest-neighbor fill). Both
    anchors come from two ordered windows per user (last-non-null
    backward, first-non-null forward) — no self-join, no driver loop;
    the spine is ``sequence``+explode, generated distributed. Scale:
    identical shuffle profile to ffill — ONE exchange on user_id covers
    the per-hour pick, the spine join, and both windows."""
    ev = load_table(spark, sf_dir, "events")
    # finite(): a corrupt reading is a missing reading here — see the
    # oracle comment.
    hourly = (
        ev.select(
            "user_id",
            F.date_trunc("hour", "ts").alias("h"),
            F.round(finite("value"), 6).alias("value"),
            F.struct(F.col("ts"), F.col("event_id")).alias("pick"),
        )
        .groupBy("user_id", "h")
        .agg(F.max_by("value", "pick").alias("v"))
        # Materialized once for the guard collect + spine + join — see
        # the ts_resample_ffill comment (one events pass instead of two).
        .localCheckpoint(eager=True)
    )
    spans = hourly.groupBy("user_id").agg(
        F.min("h").alias("h_lo"), F.max("h").alias("h_hi")
    )
    _check_spine_span(spans, "ts_interpolate_linear")
    spine = spans.select(
        "user_id",
        F.explode(F.sequence("h_lo", "h_hi", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    joined = spine.join(hourly, ["user_id", "h"], "left")
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    marked_h = F.when(F.col("v").isNotNull(), F.col("h"))
    anchored = joined.select(
        "user_id",
        "h",
        "v",
        F.last("v", ignorenulls=True).over(w_back).alias("pv"),
        F.last(marked_h, ignorenulls=True).over(w_back).alias("ph"),
        F.first("v", ignorenulls=True).over(w_fwd).alias("nv"),
        F.first(marked_h, ignorenulls=True).over(w_fwd).alias("nh"),
    )
    frac = (F.unix_timestamp("h") - F.unix_timestamp("ph")) / (
        F.unix_timestamp("nh") - F.unix_timestamp("ph")
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
    )
    # floor(x*1e6 + 0.5)/1e6 instead of round(): interpolation lands on exact
    # .5 ties at 6 dp where Spark (HALF_UP on decimal) and DuckDB (float
    # nearbyint) disagree; this is the same deterministic float op in both.
    return anchored.select(
        "user_id",
        F.date_format("h", HOUR_FMT_SPARK).alias("hour"),
        (F.floor(interp * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "value_interp"
        ),
    )


_FK_AUDITS = [
    ("lineitem.l_orderkey -> orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey -> part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey -> supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey -> customer", "orders", "o_custkey", "customer", "c_custkey"),
]


def _ri_oracle() -> str:
    parts = [
        f"""
        SELECT '{label}' AS relation,
               (SELECT CAST(count(*) AS BIGINT) FROM {child}) AS child_rows,
               (SELECT CAST(count(*) AS BIGINT) FROM
                   (SELECT DISTINCT {fk} FROM {child}
                    WHERE {fk} IS NOT NULL) c
                   WHERE c.{fk} NOT IN (SELECT {pk} FROM {parent}
                                        WHERE {pk} IS NOT NULL)) AS orphan_keys
        """
        for label, child, fk, parent, pk in _FK_AUDITS
    ]
    return " UNION ALL ".join(parts) + " ORDER BY relation"


@REG.add("quality_referential_integrity", oracle=_ri_oracle())
def quality_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: one row per declared FK edge with
    the child row count and the number of DISTINCT child keys that have
    no parent (a data-contract gate run before promoting a layer).
    Each edge is child-keys-distinct -> left-anti join -> count: the
    anti join sees the DEDUPLICATED key set, so the shuffle carries
    |distinct keys| rows, not |child| rows, and the two 1-row counters
    meet via the broadcast-crossJoin scalar pattern. At 100 TB each
    edge is an independent job; orphan counts stay exact (no sampling)
    because the distinct projection is the only wide step.

    Family-seven convention: an ORPHAN is a non-NULL key whose parent
    does not exist; a NULL FK points at nothing and is a different
    defect class (missing attribution — surfaced by null-count audits,
    not this one). The gate is also the classic cross-engine trap:
    SQL's ``NOT IN`` silently skips a NULL key (three-valued logic)
    while a left-anti join COUNTS it — ungated, the two spellings of
    "orphan" disagree on every NULL."""
    out = None
    for label, child, fk, parent, pk in _FK_AUDITS:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent)
        child_rows = c.agg(F.count(F.lit(1)).cast("long").alias("child_rows"))
        orphans = (
            c.select(fk)
            .filter(F.col(fk).isNotNull())
            .distinct()
            .join(p.select(pk), F.col(fk) == F.col(pk), "left_anti")
            .agg(F.count(F.lit(1)).cast("long").alias("orphan_keys"))
        )
        row = (
            child_rows.crossJoin(orphans)
            .select(F.lit(label).alias("relation"), "child_rows", "orphan_keys")
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("relation")


@REG.add(
    "bitmap_distinct_rollup",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               count(DISTINCT user_id) AS n_day
        FROM events GROUP BY 1, 2
    )
    SELECT e.event_type,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users_exact,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users_bitmap,
           CAST((SELECT max(n_day) FROM daily d
                 WHERE d.event_type IS NOT DISTINCT FROM e.event_type)
               AS BIGINT) AS max_daily
    FROM events e GROUP BY e.event_type ORDER BY e.event_type
    """,
)
def bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct-count rollup via roaring-style bitmaps
    (``bitmap_construct_agg`` / ``bitmap_or_agg`` / ``bitmap_count``) —
    the deterministic sibling of ``agg_hll_sketch_rollup``. user_ids are
    bucketed (``bitmap_bucket_number``, 32k ids per 4 KB segment) so the
    per-(event_type, day, bucket) bitmaps stay bounded; day-level
    bitmaps OR-merge up to event_type level WITHOUT rescanning facts —
    the incremental pattern for maintaining exact distinct-user marts:
    store the day x bucket bitmaps once, re-aggregate any rollup from
    them. The oracle twin recomputes both tiers exactly; the bitmap
    column must equal the exact count (bitmaps are lossless, unlike
    HLL)."""
    ev = load_table(spark, sf_dir, "events")
    daily_buckets = (
        ev.select(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            F.bitmap_bucket_number("user_id").alias("bucket"),
            F.bitmap_bit_position("user_id").alias("pos"),
        )
        .groupBy("event_type", "day", "bucket")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
    )
    rolled = (
        daily_buckets.groupBy("event_type", "bucket")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
        .groupBy("event_type")
        .agg(F.sum(F.bitmap_count("bm")).cast("long").alias("n_users_bitmap"))
    )
    daily_exact = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n_day"))
        .groupBy("event_type")
        .agg(F.max("n_day").cast("long").alias("max_daily"))
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_users_exact")
    )
    # NULL-safe tier joins (family seven, mechanism 3): the UNTYPED
    # group survives every GROUP BY but a plain equi-join between tiers
    # drops it (NULL != NULL) while the single-pass oracle keeps it.
    # Tier keys are renamed before joining so the null-safe conditions
    # resolve unambiguously across the chained joins.
    return (
        exact
        .join(
            rolled.withColumnRenamed("event_type", "_et_rolled"),
            F.col("event_type").eqNullSafe(F.col("_et_rolled")),
        )
        .join(
            daily_exact.withColumnRenamed("event_type", "_et_daily"),
            F.col("event_type").eqNullSafe(F.col("_et_daily")),
        )
        .select("event_type", "n_users_exact", "n_users_bitmap", "max_daily")
        .orderBy("event_type")
    )


@REG.add(
    "unpivot_melt",
    oracle="""
    SELECT o_orderpriority AS priority,
           'status_' || o_orderstatus AS metric,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE o_orderstatus IS NOT NULL
    GROUP BY 1, 2
    ORDER BY priority, metric
    """,
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long reshaping: pivot order counts to one column per
    status, then ``DataFrame.unpivot`` (SQL ``UNPIVOT`` / pandas melt)
    back to tidy (priority, metric, value) rows, dropping the NULL cells
    the pivot invented. Round-tripping both directions exercises the
    reshape pair a reporting layer uses constantly; the oracle computes
    the long form directly. Scale: pivot is ONE hash aggregate whose
    width is the (bounded, known) status domain — no per-status scans;
    unpivot is a zero-shuffle row-expansion.

    NULL-status orders (family eight) have no pivot column — Spark's
    declared-domain pivot drops them silently, so the oracle gates
    ``o_orderstatus IS NOT NULL`` to reshape the same table (DuckDB's
    ``'status_' || NULL`` would otherwise mint a NULL metric row the
    wide form never held). NULL PRIORITY stays: it is a plain GROUP BY
    key on both engines."""
    o = load_table(spark, sf_dir, "orders")
    statuses = ["F", "O", "P"]  # bounded, known domain (pivot needs it declared)
    wide = (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", statuses)
        .agg(F.count(F.lit(1)))
    )
    long = wide.unpivot(
        "priority",
        [F.col(s).alias(f"status_{s}") for s in statuses],
        "metric",
        "n_orders",
    )
    return (
        long.filter(F.col("n_orders").isNotNull())
        .select("priority", "metric", F.col("n_orders").cast("long"))
        .orderBy("priority", "metric")
    )


@REG.add(
    "split_train_test_hash",
    oracle="""
    WITH tagged AS (
        SELECT doc_id, n_chars,
               CASE
                   WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
                   WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
                   ELSE 'test'
               END AS split
        FROM documents
    )
    SELECT split,
           CAST(count(*) AS BIGINT)          AS n_docs,
           CAST(sum(n_chars) AS BIGINT)      AS total_chars,
           CAST(min(doc_id) AS BIGINT)       AS min_doc_id
    FROM tagged GROUP BY split ORDER BY split
    """,
)
def split_train_test_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by content-stable hash — the
    assignment every training pipeline needs to be REPRODUCIBLE across
    reruns, engines, and data re-partitioning (``rand()`` splits are
    none of those). The first hex nibble of ``md5(doc_id)`` buckets docs
    12/2/2 (75% train, 12.5% val, 12.5% test); the md5 hex string is
    bit-identical in Spark and the DuckDB oracle, so the split is
    portable by construction. Scale: a stateless per-row expression —
    no shuffle to assign, one hash aggregate to audit; new documents
    join their split without touching old ones (hash splits are
    append-stable, the property that matters at 100 TB)."""
    d = load_table(spark, sf_dir, "documents")
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(nib <= "b", "train").when(nib <= "d", "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars", "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
        )
        .orderBy("split")
    )


@REG.add(
    "join_spatial_grid_radius",
    oracle="""
    WITH cpts AS (
        SELECT c_custkey AS cust_id,
               (c_custkey * 9973) % 1000 AS x10,
               (c_custkey * 6151) % 1000 AS y10
        FROM customer
    ),
    spts AS (
        SELECT s_suppkey AS supp_id,
               (s_suppkey * 9973) % 1000 AS x10,
               (s_suppkey * 6151) % 1000 AS y10
        FROM supplier
    )
    SELECT c.cust_id, s.supp_id,
           round(sqrt(CAST((c.x10 - s.x10) * (c.x10 - s.x10)
                         + (c.y10 - s.y10) * (c.y10 - s.y10) AS DOUBLE)) / 10, 4)
               AS dist
    FROM cpts c JOIN spts s
      ON (c.x10 - s.x10) * (c.x10 - s.x10)
       + (c.y10 - s.y10) * (c.y10 - s.y10) <= 400
    ORDER BY cust_id, supp_id
    """,
)
def join_spatial_grid_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (distance-threshold) spatial join via GRID BLOCKING: each
    point lands in a cell of side = radius, and a point's matches can
    only live in its own or the 8 neighboring cells — so candidates meet
    through an EQUI-join on cell id (supplier side exploded to its 3x3
    neighborhood), never a cross join. Coordinates are synthesized
    deterministically from keys (tenth-unit integer grid) so the
    distance predicate is exact integer math in both engines; the oracle
    is the brute-force quadratic join, which the grid join must equal
    exactly. Scale: this is the standard geo/embedding blocking shape —
    cost tracks points-per-cell (density), not n^2; skewed cells get the
    same remedies as LSH buckets (salt or cap). Radius 2.0 on a 100x100
    field, cell = radius keeps the neighborhood exactly 3x3."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_id"),
        ((F.col("c_custkey") * 9973) % 1000).alias("x10"),
        ((F.col("c_custkey") * 6151) % 1000).alias("y10"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("supp_id"),
        ((F.col("s_suppkey") * 9973) % 1000).alias("sx10"),
        ((F.col("s_suppkey") * 6151) % 1000).alias("sy10"),
    )
    cell = 20  # tenths; == radius so neighbors are exactly the 3x3 block
    c_cells = cust.withColumn("cx", F.floor(F.col("x10") / cell)).withColumn(
        "cy", F.floor(F.col("y10") / cell)
    )
    offsets = F.expr(
        "array(-1, 0, 1)"
    )
    s_cells = (
        supp.withColumn("gx", F.floor(F.col("sx10") / cell))
        .withColumn("gy", F.floor(F.col("sy10") / cell))
        .withColumn("dx", F.explode(offsets))
        .withColumn("dy", F.explode(offsets))
        .select(
            "supp_id", "sx10", "sy10",
            (F.col("gx") + F.col("dx")).alias("cx"),
            (F.col("gy") + F.col("dy")).alias("cy"),
        )
    )
    d2 = (F.col("x10") - F.col("sx10")) * (F.col("x10") - F.col("sx10")) + (
        F.col("y10") - F.col("sy10")
    ) * (F.col("y10") - F.col("sy10"))
    return (
        c_cells.join(s_cells, ["cx", "cy"])
        .filter(d2 <= F.lit(cell * cell))
        .select(
            "cust_id",
            "supp_id",
            F.round(F.sqrt(d2.cast("double")) / 10, 4).alias("dist"),
        )
        .orderBy("cust_id", "supp_id")
    )


@REG.add(
    "quality_outlier_iqr",
    oracle="""
    WITH fences AS (
        SELECT o_orderpriority AS priority,
               quantile_cont(o_totalprice, 0.25) AS q1,
               quantile_cont(o_totalprice, 0.75) AS q3
        FROM orders GROUP BY 1
    )
    SELECT f.priority,
           round(f.q1, 4) AS q1,
           round(f.q3, 4) AS q3,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN o.o_totalprice < f.q1 - 1.5 * (f.q3 - f.q1)
                           OR o.o_totalprice > f.q3 + 1.5 * (f.q3 - f.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM orders o JOIN fences f ON o.o_orderpriority = f.priority
    GROUP BY f.priority, f.q1, f.q3
    ORDER BY f.priority
    """,
)
def quality_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group IQR outlier audit (Tukey fences): exact interpolated
    quartiles per order priority, then a count of rows outside
    ``[q1 - 1.5*IQR, q3 + 1.5*IQR]`` — the robust-statistics gate a
    quality pipeline runs on numeric columns before training. Two
    aggregates over one shuffle key: the fence table is tiny (one row
    per group) and re-joins the facts by BROADCAST, so the fact table
    is scanned twice but shuffled ONCE (the fence agg); at 100 TB swap
    ``percentile`` for ``percentile_approx`` and the fence pass becomes
    map-combinable too (exact quartiles need a per-group sort)."""
    o = load_table(spark, sf_dir, "orders")
    fences = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.expr("percentile(o_totalprice, 0.25)").alias("q1"),
        F.expr("percentile(o_totalprice, 0.75)").alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    flagged = o.join(
        F.broadcast(fences), o["o_orderpriority"] == fences["priority"]
    ).select(
        "priority",
        "q1",
        "q3",
        ((F.col("o_totalprice") < lo) | (F.col("o_totalprice") > hi))
        .cast("int")
        .alias("is_outlier"),
    )
    return (
        flagged.groupBy("priority", "q1", "q3")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("is_outlier").cast("long").alias("n_outliers"),
        )
        .select(
            "priority",
            F.round("q1", 4).alias("q1"),
            F.round("q3", 4).alias("q3"),
            "n_orders",
            "n_outliers",
        )
        .orderBy("priority")
    )


@REG.add(
    "ts_gap_detect",
    oracle=f"""
    WITH hourly AS (
        SELECT DISTINCT user_id, time_bucket(INTERVAL '1 hour', ts) AS h
        FROM events
    ),
    seq AS (
        SELECT user_id, h,
               lag(h) OVER (PARTITION BY user_id ORDER BY h) AS prev_h
        FROM hourly
    )
    SELECT user_id,
           strftime(prev_h, '{HOUR_FMT_DUCK}') AS gap_after,
           strftime(h, '{HOUR_FMT_DUCK}')      AS gap_until,
           CAST((epoch(h) - epoch(prev_h)) / 3600 - 1 AS BIGINT) AS missing_hours
    FROM seq
    WHERE prev_h IS NOT NULL AND epoch(h) - epoch(prev_h) > 3600
    ORDER BY user_id, gap_after
    """,
)
def ts_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap detection: per user, find every pair of adjacent
    observed hours more than one hour apart and report the span and the
    number of missing hourly buckets — the audit that decides whether
    ``ts_resample_ffill``'s fills are trustworthy (a 2-hour gap is
    interpolation; a 2-week gap is an outage). One ``lag`` window over
    the DISTINCT hourly buckets: the shuffle carries one row per
    (user, active hour), not per event, and the same user_id exchange
    serves the dedup, the window, and any downstream fill join."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.select(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("h")
    seq = hourly.withColumn("prev_h", F.lag("h").over(w))
    diff = F.unix_timestamp("h") - F.unix_timestamp("prev_h")
    return (
        seq.filter(F.col("prev_h").isNotNull() & (diff > 3600))
        .select(
            "user_id",
            F.date_format("prev_h", HOUR_FMT_SPARK).alias("gap_after"),
            F.date_format("h", HOUR_FMT_SPARK).alias("gap_until"),
            (diff / 3600 - 1).cast("long").alias("missing_hours"),
        )
        .orderBy("user_id", "gap_after")
    )


@REG.add(
    "incremental_agg_merge",
    # The measure rides the finite gate (functions/finite.py) on both
    # tiers (r12 sf_extremes): one corrupt ±1e300 reading makes the
    # two-tier merged sum and the oracle's single-pass sum disagree
    # CATASTROPHICALLY (1e300 + x − 1e300 is 0 or x depending on
    # accumulation order — no rounding grain survives that), and a mart
    # whose totals depend on merge order is exactly the drift this
    # entry exists to rule out. n_events still counts every row.
    oracle=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT)             AS n_events,
           round(sum({sql_finite("value")}), 2) AS total_value,
           round(avg({sql_finite("value")}), 6) AS avg_value,
           round(min({sql_finite("value")}), 6) AS min_value,
           round(max({sql_finite("value")}), 6) AS max_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-view maintenance for ALGEBRAIC aggregates: facts are
    first reduced to per-(event_type, day) PARTIAL states (sum, count,
    min, max — each mergeable), then the day tier re-aggregates to the
    event_type rollup; avg is derived as merged-sum / merged-count, the
    decomposition that makes it incrementally maintainable (avg itself
    is not mergeable). The oracle computes the rollup directly from
    facts — equality proves the partial tier is lossless. At 100 TB
    this IS the nightly-mart pattern: persist the day tier once, merge
    any rollup from it, and a late-arriving day only recomputes its own
    partial (same economics as ``bitmap_distinct_rollup`` /
    ``agg_hll_sketch_rollup``, here for the plain-algebra family).
    Double-summation order is pinned by a day-ordered sort before the
    merge so float totals match the oracle bit-for-bit after 2 dp
    rounding. The measure rides the finite gate (r12 sf_extremes): a
    corrupt ±1e300 reading would make merged-vs-direct totals differ by
    accumulation order alone — see the oracle comment."""
    ev = load_table(spark, sf_dir, "events")
    # Two partial counts: row count (n_events = count(*)) and NON-NULL
    # value count — avg's mergeable decomposition is sum/count(value),
    # not sum/count(*), or a NULL-holed day silently deflates the
    # average the oracle's avg() computes by skipping NULLs.
    fv = finite("value")
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("p_cnt"),
            F.count(fv).alias("p_cnt_val"),
            F.sum(fv).alias("p_sum"),
            F.min(fv).alias("p_min"),
            F.max(fv).alias("p_max"),
        )
    )
    merged = daily.groupBy("event_type").agg(
        F.sum("p_cnt").cast("long").alias("n_events"),
        F.sum("p_sum").alias("m_sum"),
        F.sum("p_cnt_val").alias("m_cnt"),
        F.min("p_min").alias("m_min"),
        F.max("p_max").alias("m_max"),
    )
    return merged.select(
        "event_type",
        "n_events",
        F.round("m_sum", 2).alias("total_value"),
        F.round(F.try_divide(F.col("m_sum"), F.col("m_cnt")), 6).alias("avg_value"),
        F.round("m_min", 6).alias("min_value"),
        F.round("m_max", 6).alias("max_value"),
    ).orderBy("event_type")


@REG.add(
    "agg_heavy_hitters",
    oracle="""
    WITH total AS (SELECT count(*) AS n FROM events)
    SELECT e.user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(count(*) * 1000.0 / max(t.n), 4) AS permille
    FROM events e CROSS JOIN total t
    GROUP BY e.user_id
    HAVING count(*) >= max(t.n) * 0.008
    ORDER BY n_events DESC, user_id
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-threshold heavy hitters: keys whose share of the stream
    exceeds phi (0.8%) — the exact two-phase formulation (per-key
    partial counts map-side, one shuffle on the key, a 1-row total
    broadcast for the threshold). This is what a skew/abuse audit runs
    before salting decisions: the output IS the salting candidate list.
    Scale: the per-key count is map-combinable so the shuffle carries
    |distinct keys| rows; at extreme cardinality swap the exact count
    for a count-min/Misra-Gries sketch tier — phi-heavy-hitters is the
    classic sketchable aggregate, and the exact tier here doubles as
    its ground-truth harness."""
    ev = load_table(spark, sf_dir, "events")
    total = ev.agg(F.count(F.lit(1)).alias("n"))
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.col("n") * 0.008)
        .select(
            "user_id",
            F.col("cnt").cast("long").alias("n_events"),
            F.round(F.col("cnt") * 1000.0 / F.col("n"), 4).alias("permille"),
        )
        .orderBy(F.col("n_events").desc(), "user_id")
    )


_RESAMPLE_KNUTH, _RESAMPLE_MOD32 = 2654435761, 4294967296


@REG.add(
    "corpus_resample_to_mix",
    oracle=f"""
    WITH counts AS (
        SELECT source, count(*) AS n FROM documents GROUP BY source
    ),
    thr AS (
        SELECT source, (min(n) OVER ()) * 10000 // n AS keep_permyriad
        FROM counts
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN thr USING (source)
    WHERE (d.doc_id * {_RESAMPLE_KNUTH}) % {_RESAMPLE_MOD32} % 10000
          < thr.keep_permyriad
    """,
)
def corpus_resample_to_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a domain-mix target by deterministic hash downsampling: every
    source is thinned to the size of the SMALLEST source (uniform mix by
    downsampling — the execution step that ``corpus_mix_weights`` only
    computes weights for). The per-source acceptance threshold is pure
    integer arithmetic (``min_n * 10000 // n_s`` permyriad), and a row's
    fate depends only on its key hash — reproducible across runs,
    engines, and partitionings, monotone under threshold changes (the
    standard hash-mod sampling contract, same scheme as
    ``sample_stratified_hash``). Scale shape: the per-source count is one
    map-combinable aggregate over ~20 groups; the thresholds table is a
    broadcast join onto the corpus scan; acceptance is a codegen'd
    filter — one narrow pass over 100 TB, no shuffle of the corpus
    itself."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    thr = counts.withColumn(
        "min_n", F.min("n").over(Window.partitionBy())
    ).select(
        "source",
        # Integer floor-division (`div`), NOT float `/` + cast: the float
        # quotient of exact-integer operands can land a hair under the
        # true value and truncate one permyriad low vs the oracle's `//`.
        F.expr("(min_n * 10000) div n").alias("keep_permyriad"),
    )
    bucket = (F.col("doc_id") * _RESAMPLE_KNUTH) % _RESAMPLE_MOD32 % 10000
    return (
        docs.join(F.broadcast(thr), "source")
        .filter(bucket < F.col("keep_permyriad"))
        .select("doc_id", "source")
    )


@REG.add(
    "text_perplexity_bigram",
    oracle="""
    WITH exploded AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - 1),
                   i -> {'tok': string_split(text, ' ')[i],
                         'nxt': string_split(text, ' ')[i + 1]})) AS bg
        FROM documents
    ),
    big AS (SELECT doc_id, bg.tok AS tok, bg.nxt AS nxt FROM exploded),
    c12 AS (SELECT tok, nxt, count(*) AS n12 FROM big GROUP BY tok, nxt),
    c1  AS (SELECT tok, count(*) AS n1 FROM big GROUP BY tok)
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT)             AS n_bigrams,
           round(avg(-ln(c12.n12 / c1.n1)), 6)  AS avg_neg_logprob
    FROM big b
    JOIN c12 ON b.tok = c12.tok AND b.nxt = c12.nxt
    JOIN c1  ON b.tok = c1.tok
    GROUP BY b.doc_id
    """,
)
def text_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM document quality score: corpus-level bigram
    conditionals P(w2|w1) = c(w1,w2)/c(w1·) scored back over each doc's
    bigrams as the average negative log-probability — the second-order
    refinement of ``text_unigram_logprob`` (fluency-sensitive where the
    unigram score only sees vocabulary). No smoothing needed: the model
    corpus includes the scored doc, so every bigram has count >= 1.
    Scale shape: bigrams come from ONE posexplode + lead window per doc
    (partitioned by doc_id — sorts within a doc, never across docs);
    both count tables are map-combinable aggregates; the score-back is
    two shuffle equi-joins on token keys (bigram vocab is Zipf-bounded,
    far smaller than the corpus; salting the head key is the standard
    mitigation if one token dominates)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.withColumn("nxt", F.lead("tok").over(wdoc))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", "tok", "nxt")
    )
    c12 = big.groupBy("tok", "nxt").agg(F.count(F.lit(1)).alias("n12"))
    c1 = big.groupBy("tok").agg(F.count(F.lit(1)).alias("n1"))
    return (
        big.join(c12, ["tok", "nxt"])
        .join(c1, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(-F.log(F.col("n12") / F.col("n1"))), 6).alias(
                "avg_neg_logprob"
            ),
        )
    )


import math as _math

#: 24-hour half-life decay rate, one shared double constant injected into
#: BOTH engines' expressions so the arithmetic is operand-identical.
_DECAY_LAMBDA = _math.log(2) / 24.0


@REG.add(
    "agg_time_decayed_sum",
    # The measure rides the finite gate (functions/finite.py, r12
    # sf_extremes): one corrupt ±1e300 reading dominates the decayed
    # sum and makes its value a function of accumulation order (Spark
    # partials vs the oracle's single pass disagree catastrophically).
    # n_events still counts every event.
    oracle=f"""
    WITH mx AS (SELECT max(epoch_us(ts)) AS mx_us FROM events)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum({sql_finite("value")} * exp(-{_DECAY_LAMBDA!r}
                 * ((mx.mx_us - epoch_us(ts)) / 3.6e9))), 6) AS decayed_value
    FROM events, mx
    GROUP BY user_id
    """,
)
def agg_time_decayed_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay aggregate (24 h half-life): each event's
    value is weighted by exp(-λ·age) relative to the corpus's newest
    event — the standard recency-weighted feature (user activity scores,
    trending rank, freshness-weighted training labels). Plain sum() of a
    codegen'd per-row expression: map-combinable, one shuffle on the
    user key, no window. The reference timestamp is a 1-row aggregate
    broadcast via crossJoin (the repo's scalar-subquery pattern) — at
    incremental refresh the λ-decay identity (old_sum · exp(-λΔ) +
    new_batch) updates the score without rescanning history, which is
    why λ-decay beats sliding windows for 100 TB-scale recency
    features."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", finite("value").alias("value"), F.unix_micros("ts").alias("us")
    )
    mx = ev.agg(F.max("us").alias("mx_us"))
    age_h = (F.col("mx_us") - F.col("us")) / F.lit(3.6e9)
    return (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value") * F.exp(-F.lit(_DECAY_LAMBDA) * age_h)), 6
            ).alias("decayed_value"),
        )
    )


@REG.add(
    "quality_psi_drift",
    oracle="""
    WITH b AS (
        SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us
        FROM events
    ),
    halves AS (
        SELECT event_type,
               CASE WHEN epoch_us(ts) < b.mid_us THEN 'early' ELSE 'late' END AS half
        FROM events, b
    ),
    c AS (
        SELECT event_type, half, count(*) AS n FROM halves GROUP BY event_type, half
    ),
    shares AS (
        SELECT event_type, half,
               n / CAST(sum(n) OVER (PARTITION BY half) AS DOUBLE) AS p
        FROM c
    )
    SELECT e.event_type,
           round(e.p, 6)                              AS share_early,
           round(l.p, 6)                              AS share_late,
           round((e.p - l.p) * ln(e.p / l.p), 6)      AS psi_term
    FROM shares e JOIN shares l USING (event_type)
    WHERE e.half = 'early' AND l.half = 'late'
    """,
)
def quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift check: the event-type mix of the
    stream's earlier half vs its later half, with the per-category PSI
    contribution (p_early − p_late)·ln(p_early/p_late) — the standard
    go/no-go monitor for "did the input distribution move" before a
    model or mart refresh. The time midpoint is exact integer micros
    arithmetic (identical in both engines); shares are per-half window
    sums over the ALREADY-aggregated category counts (bounded
    cardinality — a ~10-row window, never a corpus-wide one). Two scans
    of the category-count table, zero scans of raw data beyond the
    first aggregate: at 100 TB the whole check costs one
    map-combinable groupBy."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("us")
    )
    b = ev.agg(
        F.expr("(min(us) + max(us)) div 2").alias("mid_us")
    )
    halves = ev.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.when(F.col("us") < F.col("mid_us"), "early").otherwise("late").alias("half"),
    )
    c = halves.groupBy("event_type", "half").agg(F.count(F.lit(1)).alias("n"))
    shares = c.select(
        "event_type",
        "half",
        (F.col("n") / F.sum("n").over(Window.partitionBy("half"))).alias("p"),
    )
    e = shares.filter(F.col("half") == "early").select(
        "event_type", F.col("p").alias("pe")
    )
    l = shares.filter(F.col("half") == "late").select(
        "event_type", F.col("p").alias("pl")
    )
    return e.join(l, "event_type").select(
        "event_type",
        F.round("pe", 6).alias("share_early"),
        F.round("pl", 6).alias("share_late"),
        F.round((F.col("pe") - F.col("pl")) * F.log(F.col("pe") / F.col("pl")), 6)
        .alias("psi_term"),
    )


@REG.add(
    "text_normalize_dedup",
    oracle="""
    WITH n AS (
        SELECT doc_id,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_md5
        FROM documents
    )
    SELECT doc_id, norm_md5,
           min(doc_id) OVER (PARTITION BY norm_md5) AS canonical_doc_id,
           doc_id = min(doc_id) OVER (PARTITION BY norm_md5) AS is_canonical
    FROM n
    """,
)
def text_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize-then-exact-dedup — the standard pre-pass before any
    near-dup tier: lowercase, strip non-alphanumerics, collapse
    whitespace, then md5 the normal form and elect the lowest doc_id per
    hash as canonical. Catches trivially-reformatted copies (case,
    punctuation, spacing) at exact-dedup cost: one narrow codegen'd
    normalization pass and ONE shuffle on the hash key (window min —
    the same partitioning a dropDuplicates would use, but keeping the
    full cluster assignment instead of discarding it). Both regex
    classes are literal-simple so Java and RE2 semantics agree."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    w = Window.partitionBy("norm_md5")
    return (
        docs.select("doc_id", F.md5(norm.cast("binary")).alias("norm_md5"))
        .withColumn("canonical_doc_id", F.min("doc_id").over(w))
        .withColumn(
            "is_canonical", (F.col("doc_id") == F.col("canonical_doc_id"))
        )
    )


# --- feature-engineering tier (r4): the transforms a training-data ---
# --- pipeline applies between dedup/quality gates and model input  ---

_BUCKET_PS = [round(0.1 * i, 1) for i in range(1, 10)]


def _bucketize_oracle() -> str:
    qcols = ",\n               ".join(
        f"round(quantile_cont(l_extendedprice, {p}), 2) AS q{i}"
        for i, p in enumerate(_BUCKET_PS, start=1)
    )
    terms = " + ".join(
        f"(CASE WHEN l.l_extendedprice > q.q{i} THEN 1 ELSE 0 END)"
        for i in range(1, len(_BUCKET_PS) + 1)
    )
    return f"""
    WITH q AS (
        SELECT {qcols}
        FROM lineitem
    ),
    b AS (
        SELECT 1 + {terms} AS bucket, l.l_extendedprice AS price
        FROM lineitem l CROSS JOIN q
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(min(price), 2) AS min_price,
           round(max(price), 2) AS max_price
    FROM b GROUP BY bucket ORDER BY bucket
    """


@REG.add("feat_quantile_bucketize", oracle=_bucketize_oracle())
def feat_quantile_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency bucketing (decile discretization) of a numeric
    feature — the QuantileDiscretizer shape, built scale-first.

    Cut points are EXACT order statistics: ``distributed_prefix_sum``
    of 1 over the feature (one range shuffle, parallel local sorts,
    broadcast per-range offsets) gives every row its
    global rank in parallel, and only the <=18 rows bracketing the 9
    quantile positions are collected. The driver then interpolates with
    the EXACT expression Spark's ``percentile`` evaluator uses —
    ``(hi - t)*v_lo + (t - lo)*v_hi`` — verified BIT-identical to the
    old single-reduce ``percentile(...)`` at every fixture SF (r14;
    the r13 plan built one boxed value->count map per partition and
    merged+sorted ~583k distinct prices on a single thread, 2-3.4 s of
    the entry's 4 s — the parallel sort replaces exactly that). Bucket
    assignment is unchanged: a codegen'd fold over the 9 rounded cut
    literals (rounded IN Spark, same half-up), 9 comparisons per row,
    no global sort of the fact table, no extra shuffle. At 100 TB the
    range shuffle is the only full-data exchange, and the 2-decimal
    rounding keeps the strict ``>`` comparison engine-stable."""
    import math

    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    nn = li.filter(F.col("l_extendedprice").isNotNull())
    # Ordered by price alone: ties are harmless, only the VALUE at each
    # rank is read and tied rows carry the same value.
    ranked = distributed_prefix_sum(nn, [F.col("l_extendedprice")], F.lit(1)).select(
        "l_extendedprice",
        (F.col("cum") - 1).alias("gidx"),
        F.col("total").alias("n"),
    )
    hit = None
    for p in _BUCKET_PS:
        t = F.lit(float(p)) * (F.col("n") - 1).cast("double")
        c = (F.col("gidx") == F.floor(t).cast("long")) | (
            F.col("gidx") == F.ceil(t).cast("long")
        )
        hit = c if hit is None else (hit | c)
    rows = ranked.filter(hit).select("gidx", "l_extendedprice", "n").collect()
    if rows:
        n = rows[0]["n"]
        byi = {r["gidx"]: r["l_extendedprice"] for r in rows}
        qs = []
        for p in _BUCKET_PS:
            t = p * (n - 1)
            lo, hi = math.floor(t), math.ceil(t)
            qs.append(byi[lo] if lo == hi else (hi - t) * byi[lo] + (t - lo) * byi[hi])
        # Round IN Spark (constant-folded) so the half-up grain is the
        # engine's own, exactly as the old transform(..., round(x, 2)).
        cuts = F.array(*[F.round(F.lit(float(q)), 2) for q in qs])
    else:
        cuts = F.lit(None).cast("array<double>")  # percentile of no rows
    bucket = F.lit(1) + F.aggregate(
        cuts,
        F.lit(0),
        lambda acc, q: acc + (F.col("l_extendedprice") > q).cast("int"),
    )
    return (
        li.select(bucket.alias("bucket"), F.col("l_extendedprice").alias("price"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(F.min("price"), 2).alias("min_price"),
            F.round(F.max("price"), 2).alias("max_price"),
        )
        .orderBy("bucket")
    )


@REG.add(
    "feat_scale_normalize",
    oracle="""
    WITH s AS (
        SELECT c_mktsegment AS segment,
               min(c_acctbal) AS lo, max(c_acctbal) AS hi,
               avg(c_acctbal) AS mu, stddev_samp(c_acctbal) AS sd
        FROM customer GROUP BY 1
    )
    SELECT c.c_custkey, s.segment, c.c_acctbal,
           round((c.c_acctbal - s.lo) / nullif(s.hi - s.lo, 0), 6) AS minmax,
           round((c.c_acctbal - s.mu) / s.sd, 4) AS zscore
    FROM customer c JOIN s ON c.c_mktsegment = s.segment
    ORDER BY c.c_custkey
    """,
)
def feat_scale_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature scaling: min-max to [0,1] and z-score against
    the group's own mean/stddev — the MinMaxScaler/StandardScaler pair,
    fit and transform in one lineage. The fit is ONE map-combinable
    groupBy over the grouping key (4 scalars per group); the transform
    re-joins the tiny stats table by BROADCAST, so the fact side is
    never shuffled — the exact economics a 100 TB feature pipeline
    needs (stats rows = O(groups), facts untouched). z rounded to 4:
    stddev accumulation order differs across engines at the ulp."""
    c = load_table(spark, sf_dir, "customer")
    stats = c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.min("c_acctbal").alias("lo"),
        F.max("c_acctbal").alias("hi"),
        F.avg("c_acctbal").alias("mu"),
        F.stddev_samp("c_acctbal").alias("sd"),
    )
    return (
        c.join(F.broadcast(stats), c["c_mktsegment"] == stats["segment"])
        .select(
            "c_custkey",
            "segment",
            "c_acctbal",
            F.round(
                (F.col("c_acctbal") - F.col("lo"))
                / F.nullif(F.col("hi") - F.col("lo"), F.lit(0.0)),
                6,
            ).alias("minmax"),
            F.round(
                (F.col("c_acctbal") - F.col("mu"))
                / F.nullif(F.col("sd"), F.lit(0.0)),
                4,
            ).alias("zscore"),
        )
        .orderBy("c_custkey")
    )


@REG.add(
    "feat_target_encode_loo",
    oracle="""
    WITH s AS (
        SELECT o_orderpriority AS priority,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS tot,
               count(*) AS n
        FROM orders GROUP BY 1
    )
    SELECT o.o_orderkey, s.priority,
           CASE WHEN s.n > 1
                THEN round((CAST(s.tot AS DOUBLE) - o.o_totalprice) / (s.n - 1), 6)
           END AS loo_mean_price
    FROM orders o JOIN s ON o.o_orderpriority = s.priority
    ORDER BY o.o_orderkey
    """,
)
def feat_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of a categorical feature: each
    row's category is replaced by the mean target over the OTHER rows
    of its category, ``(sum - own) / (n - 1)`` — the leakage-safe mean
    encoding used for high-cardinality categoricals. Same two-phase
    broadcast shape as the scaler: one mergeable groupBy for per-
    category (sum, n), broadcast re-join, per-row arithmetic. The sum
    is accumulated as DECIMAL(18,2) — exact in both engines regardless
    of partial-aggregation order — and only the final subtraction/
    division is float, so the 6-dp rounding compares identical bits."""
    o = load_table(spark, sf_dir, "orders")
    stats = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("tot"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        o.join(F.broadcast(stats), o["o_orderpriority"] == stats["priority"])
        .select(
            "o_orderkey",
            "priority",
            F.when(
                F.col("n") > 1,
                F.round(
                    (F.col("tot").cast("double") - F.col("o_totalprice"))
                    / (F.col("n") - 1),
                    6,
                ),
            ).alias("loo_mean_price"),
        )
        .orderBy("o_orderkey")
    )


@REG.add(
    "anomaly_zscore_rolling",
    # finite gate (functions/finite.py): one Inf in the trailing window
    # OVERFLOWED DuckDB's STDDEV_SAMP outright (Out of Range) and one
    # NaN NaN-poisons mu/sd for the next 10 observations in Spark (r10
    # sf_nan probe). Corrupt readings are excluded from the history
    # moments (n_prev counts USABLE history), and can't themselves be
    # scored — their z is NULL and never flags.
    oracle=f"""
    WITH w AS (
        SELECT user_id, ts, event_id, value,
               {sql_finite("value")} AS v_ok,
               avg({sql_finite("value")})         OVER frame AS mu,
               stddev_samp({sql_finite("value")}) OVER frame AS sd,
               count({sql_finite("value")})       OVER frame AS n_prev
        FROM events
        WHERE ts IS NOT NULL
        WINDOW frame AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, strftime(ts, '{TS_FMT_DUCK}') AS ts, value,
           round((v_ok - mu) / sd, 4) AS z
    FROM w
    WHERE n_prev >= 5 AND sd > 0 AND abs((v_ok - mu) / sd) > 2
    ORDER BY user_id, ts, event_id
    """,
)
def anomaly_zscore_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event is scored against
    the mean/stddev of its user's own trailing 10 observations (frame
    excludes the current row — no self-leakage) and flagged when
    |z| > 2 with at least 5 rows of history. ONE window over ONE
    user_id shuffle — the streaming-adjacent drift detector a feature
    pipeline runs on metric columns; at 100 TB the frame is O(1) state
    per row and the shuffle is the same user-key exchange every other
    per-user op reuses. Deterministic (ts, event_id) frame order; z
    rounded to 4 (stddev ulp across engines). NULL-ts readings are
    excluded from the series like non-finite values — no position, no
    history, no score (family seven, SCALE.md r10)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, -1)
    )
    # finite(): see the oracle comment — Inf overflows DuckDB stddev,
    # NaN poisons the trailing moments; corrupt readings are neither
    # history nor scorable.
    fv = finite("value")
    scored = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        fv.alias("v_ok"),
        F.avg(fv).over(w).alias("mu"),
        F.stddev_samp(fv).over(w).alias("sd"),
        F.count(fv).over(w).alias("n_prev"),
    )
    z = F.when(
        F.col("sd") > 0, (F.col("v_ok") - F.col("mu")) / F.col("sd")
    )
    return (
        scored.filter(
            (F.col("n_prev") >= 5) & (F.col("sd") > 0) & (F.abs(z) > 2)
        )
        .select(
            "user_id",
            F.date_format("ts", TS_FMT_SPARK).alias("ts"),
            "value",
            F.round(z, 4).alias("z"),
            F.col("event_id").alias("_eid"),
        )
        .orderBy("user_id", "ts", "_eid")
        .drop("_eid")
    )


def _spread_bits(x: str, shl) -> str:
    """Expression that spreads a 16-bit value's bits into the even bit
    positions of a 32-bit value (Morton/Z-order interleave half), via
    the classic shift-and-mask ladder. ``shl(a, b)`` renders a left
    shift in the target dialect."""
    s1 = f"(({x} | {shl(x, 8)}) & 16711935)"
    s2 = f"(({s1} | {shl(s1, 4)}) & 252645135)"
    s3 = f"(({s2} | {shl(s2, 2)}) & 858993459)"
    s4 = f"(({s3} | {shl(s3, 1)}) & 1431655765)"
    return s4


def _zorder_exprs() -> tuple[str, str]:
    """(spark_expr, duckdb_expr) computing the same 32-bit Z-value over
    (o_custkey low 16 bits, days-since-epoch low 16 bits)."""
    spark_shl = lambda a, b: f"shiftleft({a}, {b})"  # noqa: E731
    duck_shl = lambda a, b: f"({a} << {b})"  # noqa: E731
    d1_s = "(o_custkey & 65535)"
    d2_s = "(CAST(datediff(o_orderdate, DATE'1970-01-01') AS BIGINT) & 65535)"
    d1_d = "(o_custkey & 65535)"
    d2_d = "(CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) & 65535)"
    z_s = f"({_spread_bits(d1_s, spark_shl)} | {spark_shl(_spread_bits(d2_s, spark_shl), 1)})"
    # The dim-2 shift MUST go through duck_shl (which parenthesizes):
    # DuckDB gives |, &, << one shared precedence level, left-associative
    # (PostgreSQL "any other operator" rule), so the bare spelling
    # `a | b << 1` parses as `(a | b) << 1` — dim-1's bits land on the
    # ODD (dim-2) positions and the Z-value is not a Morton code. Latent
    # until a key >= 16384 (bit 14+) reaches the interleave: caught by
    # the r10 hostile-relational probe's orphan custkeys (SCALE.md).
    z_d = f"({_spread_bits(d1_d, duck_shl)} | {duck_shl(_spread_bits(d2_d, duck_shl), 1)})"
    return z_s, z_d


_Z_SPARK, _Z_DUCK = _zorder_exprs()


@REG.add(
    "maintenance_zorder_stats",
    oracle=f"""
    WITH z AS (
        SELECT o_custkey, o_orderdate,
               CAST({_Z_DUCK} >> 28 AS INTEGER) & 15 AS zbucket
        FROM orders
    )
    SELECT zbucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
           strftime(min(o_orderdate), '%Y-%m-%d') AS min_day,
           strftime(max(o_orderdate), '%Y-%m-%d') AS max_day
    FROM z GROUP BY zbucket ORDER BY zbucket
    """,
)
def maintenance_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering audit — the OPTIMIZE ZORDER BY
    primitive: interleave the bits of two filter dimensions (customer
    key, order day) into one clustering key, bucket rows by the
    Z-value's top 4 bits, and report each bucket's span in BOTH source
    dimensions. Narrow spans on both axes are what make min/max file
    stats prunable for predicates on EITHER column — the data-skipping
    layout a 100 TB table wants when no single sort column dominates.
    The interleave is pure integer shift/mask codegen; bucketing by bit
    prefix (not NTILE) needs NO global sort — every row maps to its
    bucket independently, so the full layout pass is one map + one
    mergeable groupBy (in a real rewrite, ``repartitionByRange`` on the
    Z-value replaces the groupBy and each range becomes one file)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_custkey",
            "o_orderdate",
            F.expr(f"CAST({_Z_SPARK} >> 28 AS INT) & 15").alias("zbucket"),
        )
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("min_day"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_day"),
        )
        .orderBy("zbucket")
    )


@REG.add(
    "corpus_shuffle_shards",
    oracle="""
    WITH keyed AS (
        SELECT doc_id,
               md5(concat('s42:', CAST(doc_id AS VARCHAR))) AS k
        FROM documents
    ),
    sharded AS (
        SELECT doc_id, k,
               (strpos('0123456789abcdef', substr(k, 1, 1)) - 1) % 8 AS shard
        FROM keyed
    )
    SELECT shard, position, doc_id
    FROM (
        SELECT shard, doc_id,
               row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
                   AS position
        FROM sharded
    )
    WHERE position <= 100
    ORDER BY shard, position
    """,
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle + sharding: every
    document gets a content-stable pseudo-random key ``md5(seed:id)``,
    its shard is the key's first nibble mod 8 (one shard per dataloader
    worker), and its within-shard position is the key's rank — a
    reproducible uniform shuffle with NO ``rand()`` (same order across
    reruns, engines, partitionings; changing the seed string is a fresh
    epoch permutation). The returned head (first 100 positions per
    shard) is the audit slice. Scale: assignment is stateless per-row;
    the only wide op is the per-shard rank, and a real 100 TB export
    replaces the row_number with ``repartitionByRange(shard, k)`` +
    ``sortWithinPartitions`` so each shard streams to its files in key
    order without any global sort."""
    d = load_table(spark, sf_dir, "documents")
    k = F.md5(F.concat(F.lit("s42:"), F.col("doc_id").cast("string")))
    shard = (F.expr("instr('0123456789abcdef', substr(k, 1, 1))") - 1) % 8
    keyed = d.select("doc_id", k.alias("k")).select(
        "doc_id", "k", shard.alias("shard")
    )
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    return (
        keyed.select("shard", "doc_id", F.row_number().over(w).alias("position"))
        .filter(F.col("position") <= 100)
        .select("shard", "position", "doc_id")
        .orderBy("shard", "position")
    )


RANGE_N_QUERIES = 10
RANGE_COS_THRESHOLD = 0.2


def _range_search_oracle() -> str:
    # sql_cosine (registry/_sqlvec.py) mirrors Spark's zip_with+fold
    # NULL semantics — ragged/holed vectors pin to 0.0 (< threshold)
    # in BOTH engines instead of DuckDB list_sum's partial dot.
    from projetos_etl_spark.registry._sqlvec import sql_cosine

    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {sql_cosine("q.v", "c.v")} AS cosine_sim
        FROM e q JOIN e c ON c.vec_id != q.vec_id
        WHERE q.vec_id < {RANGE_N_QUERIES}
    )
    SELECT query_id, neighbor_id, cosine_sim
    FROM scored WHERE cosine_sim >= {RANGE_COS_THRESHOLD}
    ORDER BY query_id, neighbor_id
    """


@REG.add("sim_range_search", oracle=_range_search_oracle())
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) retrieval: ALL corpus vectors within a cosine
    threshold of each query — the retrieval shape for recall-critical
    jobs (dedup sweeps, contamination scans, safety filters) where
    top-k's fixed cutoff silently drops qualifying neighbors. Exact
    tier: broadcast the bounded query set, one corpus scan, threshold
    on the ROUNDED similarity so the boundary is engine-stable. At
    100 TB the same call rides the SRP-LSH bucket join
    (``operators/cosine.srp_lsh_topk``'s candidate stage) with the
    threshold replacing the rank cutoff — range search is actually the
    EASIER scale problem: no global ranking state, every (bucket,
    candidate) partition filters independently."""
    from projetos_etl_spark.operators.cosine import as_double_array, cosine

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < RANGE_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        as_double_array(F.col("embedding")).alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double_array(F.col("embedding")).alias("cv"),
    )
    return (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= RANGE_COS_THRESHOLD)
        .orderBy("query_id", "neighbor_id")
    )


@REG.add(
    "feat_onehot_topn",
    oracle="""
    WITH ranked AS (
        SELECT p_brand,
               row_number() OVER (ORDER BY count(*) DESC, p_brand) AS rnk
        FROM part GROUP BY p_brand
    )
    SELECT p.p_partkey,
           p.p_brand,
           CAST(CASE WHEN r.rnk = 1 THEN 1 ELSE 0 END AS INTEGER) AS is_top1,
           CAST(CASE WHEN r.rnk = 2 THEN 1 ELSE 0 END AS INTEGER) AS is_top2,
           CAST(CASE WHEN r.rnk = 3 THEN 1 ELSE 0 END AS INTEGER) AS is_top3,
           CAST(CASE WHEN r.rnk = 4 THEN 1 ELSE 0 END AS INTEGER) AS is_top4,
           CAST(CASE WHEN r.rnk = 5 THEN 1 ELSE 0 END AS INTEGER) AS is_top5,
           CAST(CASE WHEN r.rnk > 5 THEN 1 ELSE 0 END AS INTEGER) AS is_other
    FROM part p JOIN ranked r ON p.p_brand = r.p_brand
    ORDER BY p.p_partkey
    """,
)
def feat_onehot_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hot encoding restricted to the top-5 categories plus an
    'other' bucket — the bounded-width categorical encoding that keeps
    schemas STABLE while the category set drifts (full one-hot would
    change column count whenever a new brand appears). The vocabulary
    fit is one mergeable count aggregate over O(categories) rows with a
    deterministic (count desc, value) tie-break; the transform is a
    broadcast join + codegen'd flags, so the fact side is never
    shuffled. Flag COLUMNS are positional (is_top1..is_top5), which is
    what makes the output schema fixed across refits."""
    p = load_table(spark, sf_dir, "part")
    w = Window.orderBy(F.desc("n"), "p_brand")
    ranked = (
        p.groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("p_brand", F.row_number().over(w).alias("rnk"))
    )
    flags = [
        (F.col("rnk") == i).cast("int").alias(f"is_top{i}") for i in range(1, 6)
    ]
    return (
        p.join(F.broadcast(ranked), "p_brand")
        .select(
            "p_partkey",
            "p_brand",
            *flags,
            (F.col("rnk") > 5).cast("int").alias("is_other"),
        )
        .orderBy("p_partkey")
    )


HASH_BUCKETS = 64


def _hex_val(expr: str, pos: int) -> str:
    """SQL (both dialects): value 0-15 of hex digit ``pos`` of ``expr``."""
    return f"(instr('0123456789abcdef', substr({expr}, {pos}, 1)) - 1)"


@REG.add(
    "feat_hashing_trick",
    oracle=f"""
    WITH features AS (
        SELECT 'brand' AS fname, p_brand AS fval FROM part
        WHERE p_brand IS NOT NULL
        UNION ALL
        SELECT 'type', p_type FROM part
        WHERE p_type IS NOT NULL
    ),
    hashed AS (
        SELECT fname, fval,
               ({_hex_val("md5(fname || ':' || fval)", 1)} * 16
                + {_hex_val("md5(fname || ':' || fval)", 2)}) % {HASH_BUCKETS}
                   AS bucket
        FROM features
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT)                 AS n_values,
           CAST(count(DISTINCT fname || ':' || fval) AS BIGINT)
               AS n_distinct_features
    FROM hashed GROUP BY bucket ORDER BY bucket
    """,
)
def feat_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: categorical features map to a FIXED-width
    bucket space via a content hash (md5 first byte mod 64), so the
    encoded vector width never depends on vocabulary size — no fit
    pass, no vocabulary table, no schema drift, the featurizer of
    choice when the category space is unbounded (URLs, tokens, user
    agents). Stateless per-row assignment (zero shuffles to encode);
    the audit aggregate reports per-bucket load and collision degree
    (distinct features per bucket), the quantity you size the bucket
    count against. DuckDB's instr == Spark's instr on hex strings, so
    the bucket function is engine-portable by construction.

    A MISSING categorical (NULL value, family eight) contributes NO
    feature — the standard hashing-vectorizer convention — and is
    filtered identically on both engines; unfiltered, Spark's
    ``concat_ws`` (NULL-skipping) and DuckDB's ``||`` (NULL-poisoning)
    would build two different feature strings for the same row."""
    p = load_table(spark, sf_dir, "part")
    feats = p.selectExpr(
        "stack(2, 'brand', p_brand, 'type', p_type) AS (fname, fval)"
    ).filter(F.col("fval").isNotNull())
    bucket = (
        (F.expr("instr('0123456789abcdef', substr(md5(fname || ':' || fval), 1, 1))") - 1) * 16
        + (F.expr("instr('0123456789abcdef', substr(md5(fname || ':' || fval), 2, 1))") - 1)
    ) % HASH_BUCKETS
    return (
        feats.select(
            bucket.alias("bucket"),
            F.concat_ws(":", "fname", "fval").alias("feature"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_values"),
            F.countDistinct("feature").cast("long").alias("n_distinct_features"),
        )
        .orderBy("bucket")
    )


@REG.add(
    "quality_expectation_suite",
    oracle="""
    WITH m AS (
        SELECT count(*)                             AS n,
               count(DISTINCT o_orderkey)           AS n_key,
               count(o_custkey)                     AS n_cust,
               CAST(round(min(o_totalprice), 2) AS DECIMAL(18,2)) AS min_price,
               sum(CASE WHEN o_orderstatus NOT IN ('F','O','P')
                        THEN 1 ELSE 0 END)          AS n_bad_status,
               year(min(o_orderdate))               AS y_lo,
               year(max(o_orderdate))               AS y_hi
        FROM orders
    )
    SELECT 'orderdate_year_in_1990_2005' AS constraint_name,
           CAST(y_lo AS VARCHAR) || '..' || CAST(y_hi AS VARCHAR) AS observed,
           y_lo >= 1990 AND y_hi <= 2005 AS passed FROM m
    UNION ALL
    SELECT 'orderkey_unique', CAST(n_key AS VARCHAR), n_key = n FROM m
    UNION ALL
    SELECT 'orderstatus_in_set', CAST(n_bad_status AS VARCHAR),
           n_bad_status = 0 FROM m
    UNION ALL
    SELECT 'custkey_complete', CAST(n_cust AS VARCHAR), n_cust = n FROM m
    UNION ALL
    SELECT 'row_count_positive', CAST(n AS VARCHAR), n > 0 FROM m
    UNION ALL
    SELECT 'totalprice_positive', CAST(min_price AS VARCHAR),
           min_price > 0 FROM m
    ORDER BY constraint_name
    """,
)
def quality_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (the Deequ/Great Expectations
    shape): a SUITE of constraints — completeness, uniqueness, value
    bounds, set membership, volume — evaluated in ONE aggregation pass
    over the table, emitted as one row per constraint with the observed
    value and a pass/fail verdict. This is the op a pipeline runs
    between ingest and publish; computing all constraints in a single
    scan+aggregate (not one job per check) is what makes a 50-check
    suite affordable at 100 TB — the only non-mergeable member here is
    the exact uniqueness count, which at scale degrades gracefully to
    approx_count_distinct with a tolerance."""
    o = load_table(spark, sf_dir, "orders")
    m = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_orderkey").alias("n_key"),
        F.count("o_custkey").alias("n_cust"),
        F.round(F.min("o_totalprice"), 2).cast("decimal(18,2)").alias("min_price"),
        F.sum(
            (~F.col("o_orderstatus").isin("F", "O", "P")).cast("int")
        ).alias("n_bad_status"),
        F.year(F.min("o_orderdate")).alias("y_lo"),
        F.year(F.max("o_orderdate")).alias("y_hi"),
    )
    return m.selectExpr(
        """stack(6,
            'row_count_positive',  CAST(n AS STRING),            n > 0,
            'orderkey_unique',     CAST(n_key AS STRING),        n_key = n,
            'custkey_complete',    CAST(n_cust AS STRING),       n_cust = n,
            'totalprice_positive', CAST(min_price AS STRING),    min_price > 0,
            'orderstatus_in_set',  CAST(n_bad_status AS STRING), n_bad_status = 0,
            'orderdate_year_in_1990_2005',
                CAST(y_lo AS STRING) || '..' || CAST(y_hi AS STRING),
                y_lo >= 1990 AND y_hi <= 2005
        ) AS (constraint_name, observed, passed)"""
    ).orderBy("constraint_name")


@REG.add(
    "incremental_var_merge",
    # finite gate (functions/finite.py): the DECIMAL accumulation that
    # makes the partials exact is exactly what a NaN KILLS — DuckDB's
    # NaN -> INT128 cast is an error, and Inf has no decimal form in
    # either engine (r10 sf_nan probe). Corrupt readings are excluded
    # from the moments AND from n_events (a mean over n that counts
    # values the sum skipped isn't a mean).
    oracle=f"""
    WITH raw AS (
        SELECT event_type,
               CAST({sql_finite("value")} AS DECIMAL(28,10))  AS v,
               CAST({sql_finite("value")} * {sql_finite("value")}
                    AS DECIMAL(38,10))                        AS v2
        FROM events
    ),
    daily AS (
        SELECT event_type, count(v) AS p_n, sum(v) AS p_sum, sum(v2) AS p_sumsq
        FROM raw GROUP BY event_type
    )
    SELECT event_type,
           CAST(p_n AS BIGINT) AS n_events,
           round(CAST(p_sum AS DOUBLE) / nullif(p_n, 0), 6) AS mean_value,
           CASE WHEN p_n > 1 THEN
               round((CAST(p_sumsq AS DOUBLE)
                      - CAST(p_sum AS DOUBLE) * CAST(p_sum AS DOUBLE) / p_n)
                     / (p_n - 1), 6) END AS var_value
    FROM daily ORDER BY event_type
    """,
)
def incremental_var_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-view maintenance for SECOND moments: variance is not
    mergeable, but its sufficient statistics (n, Σv, Σv²) are — facts
    reduce to per-(event_type, day) partial triples, the day tier merges
    by plain addition, and variance is derived once at the end as
    (Σv² − (Σv)²/n)/(n−1). This extends ``incremental_agg_merge``'s
    algebraic-decomposition story to the stats a feature pipeline
    monitors (drift = mean/var movement), with the same economics: a
    late-arriving day recomputes only its own partial. The per-row
    products are accumulated as DECIMAL so the sums are EXACT and
    engine/partition-order independent (the float formula's
    catastrophic-cancellation risk is confined to the final, determinate
    subtraction); the oracle computes the same statistics directly from
    raw rows — equality proves the partial tier lossless."""
    ev = load_table(spark, sf_dir, "events")
    raw = ev.select(
        "event_type",
        F.date_trunc("day", "ts").alias("day"),
        finite("value").cast("decimal(28,10)").alias("v"),
        (finite("value") * finite("value")).cast("decimal(38,10)").alias("v2"),
    )
    daily = raw.groupBy("event_type", "day").agg(
        F.count("v").alias("p_n"),
        F.sum("v").alias("p_sum"),
        F.sum("v2").alias("p_sumsq"),
    )
    merged = daily.groupBy("event_type").agg(
        F.sum("p_n").alias("n"),
        F.sum("p_sum").alias("s"),
        F.sum("p_sumsq").alias("s2"),
    )
    s, s2, n = (
        F.col("s").cast("double"),
        F.col("s2").cast("double"),
        F.col("n"),
    )
    return merged.select(
        "event_type",
        n.cast("long").alias("n_events"),
        F.round(F.try_divide(s, n), 6).alias("mean_value"),
        F.when(n > 1, F.round((s2 - s * s / n) / (n - 1), 6)).alias("var_value"),
    ).orderBy("event_type")


#: Interval-overlap parameters: each event spans [ts, ts + 10 s); the
#: grid bucket width equals the max interval length so an interval
#: lands in at most 2 buckets.
OVERLAP_SECONDS = 10


@REG.add(
    "join_interval_overlap",
    oracle=f"""
    WITH iv AS (
        -- integer micros // 1e6, NOT epoch(ts)::BIGINT: epoch() returns a
        -- double whose BIGINT cast ROUNDS, while Spark's unix_timestamp
        -- FLOORS — sub-second timestamps would land in different buckets.
        SELECT user_id, event_id,
               epoch_us(ts) // 1000000                       AS s,
               epoch_us(ts) // 1000000 + {OVERLAP_SECONDS}   AS e
        FROM events
    ),
    bucketed AS (
        SELECT user_id, event_id, s, e,
               unnest(generate_series(s // {OVERLAP_SECONDS},
                                      (e - 1) // {OVERLAP_SECONDS})) AS bkt
        FROM iv
    ),
    pairs AS (
        SELECT DISTINCT a.user_id,
               a.event_id AS event_a, b.event_id AS event_b,
               a.s AS sa, a.e AS ea, b.s AS sb, b.e AS eb
        FROM bucketed a JOIN bucketed b
          ON a.user_id = b.user_id AND a.bkt = b.bkt
         AND a.event_id < b.event_id
    )
    SELECT user_id, event_a, event_b,
           CAST(least(ea, eb) - greatest(sa, sb) AS BIGINT) AS overlap_seconds
    FROM pairs
    WHERE sa < eb AND sb < ea
    ORDER BY user_id, event_a, event_b
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join via grid bucketing — the interval-
    algebra representative (concurrent-session detection, double-bill
    audits, maintenance-window collision): each event's [ts, ts+10s)
    interval is exploded onto a 10 s bucket grid (bucket width = max
    interval length, so ≤ 2 buckets per interval), candidate pairs meet
    by an EQUI-join on (user, bucket), and the exact overlap predicate
    runs on candidates only. This is how you express overlap joins
    without a theta-join's O(n·m) per key: the bucket grid turns the
    range predicate into hash-join keys exactly like
    ``join_spatial_grid_radius`` does in 2D, cost tracks true collision
    density, and the distinct-before-predicate dedups the ≤ 2× bucket
    fan-out. Same-user shuffle key reused end to end."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.expr("unix_micros(ts) div 1000000")
    iv = ev.select(
        "user_id",
        "event_id",
        sec.alias("s"),
        (sec + OVERLAP_SECONDS).alias("e"),
    )
    bucketed = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.expr(f"s div {OVERLAP_SECONDS}"),
                F.expr(f"(e - 1) div {OVERLAP_SECONDS}"),
            )
        ).alias("bkt"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.event_id") < F.col("b.event_id")),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_id").alias("event_a"),
            F.col("b.event_id").alias("event_b"),
            F.col("a.s").alias("sa"),
            F.col("a.e").alias("ea"),
            F.col("b.s").alias("sb"),
            F.col("b.e").alias("eb"),
        )
        .distinct()
    )
    return (
        pairs.filter((F.col("sa") < F.col("eb")) & (F.col("sb") < F.col("ea")))
        .select(
            "user_id",
            "event_a",
            "event_b",
            (F.least("ea", "eb") - F.greatest("sa", "sb"))
            .cast("long")
            .alias("overlap_seconds"),
        )
        .orderBy("user_id", "event_a", "event_b")
    )


@REG.add(
    "quality_benford_audit",
    oracle="""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                    AS INTEGER) AS d
        FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (
        SELECT d, count(*) AS n FROM digits GROUP BY d
    ),
    tot AS (SELECT sum(n) AS total FROM obs)
    SELECT obs.d AS first_digit,
           CAST(obs.n AS BIGINT) AS n_values,
           round(obs.n * 1.0 / tot.total, 6) AS observed_freq,
           round(log10(1.0 + 1.0 / obs.d), 6) AS benford_freq,
           round(obs.n * 1.0 / tot.total - log10(1.0 + 1.0 / obs.d), 6)
               AS deviation
    FROM obs CROSS JOIN tot
    ORDER BY first_digit
    """,
)
def quality_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit on a money column — the forensic
    data-quality check for fabricated or truncated numeric data (organic
    multi-scale amounts follow P(d) = log10(1 + 1/d); synthetic,
    capped, or hand-entered values visibly don't). One narrow projection
    (first digit of the integer part, pure string codegen) and one
    9-group aggregate; the expected distribution is a closed form, so
    the whole audit is a single cheap pass at any scale. NOTE the
    fixture's uniform-ish synthetic prices intentionally FAIL Benford —
    the deviation column is the signal, not an assertion."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = F.substring(
        F.floor("o_totalprice").cast("long").cast("string"), 1, 1
    ).cast("int")
    obs = o.select(d.alias("d")).groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    tot = obs.agg(F.sum("n").alias("total"))
    freq = F.col("n") / F.col("total")
    benford = F.log10(1.0 + 1.0 / F.col("d"))
    return (
        obs.crossJoin(F.broadcast(tot))  # 1-row total, not a real cross
        .select(
            F.col("d").alias("first_digit"),
            F.col("n").cast("long").alias("n_values"),
            F.round(freq, 6).alias("observed_freq"),
            F.round(benford, 6).alias("benford_freq"),
            F.round(freq - benford, 6).alias("deviation"),
        )
        .orderBy("first_digit")
    )


@REG.add(
    "ts_autocorr_lag",
    # finite gate (functions/finite.py): one Inf reading OVERFLOWS
    # DuckDB's corr internals (STDDEV_POP out of range) and one NaN
    # NaN-poisons Spark's corr state for the whole series (r10 sf_nan
    # probe); a FINITE 1e300 does the same through its SQUARE (r12
    # sf_extremes — the oracle mirrors the gate's MAG_CAP or it
    # re-crashes on exactly the class the gate excludes). The
    # autocorrelation is computed over the USABLE series:
    # corrupt/NULL readings are dropped before the lag, so pairs span
    # the gap — the standard missing-data treatment for lag-k stats.
    oracle=f"""
    WITH finite_series AS (
        SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS value
        FROM events
        WHERE {sql_finite_pred("value")} AND ts IS NOT NULL
    ),
    lagged AS (
        SELECT user_id, value,
               lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_value
        FROM finite_series
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(corr(value, prev_value), 4) AS autocorr_lag1
    FROM lagged WHERE prev_value IS NOT NULL
    GROUP BY user_id HAVING count(*) >= 10
    ORDER BY user_id
    """,
)
def ts_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation per series — the diagnostic that decides
    whether a metric is forecastable signal (|r| near 1), mean-reverting
    noise (r near 0), or oscillating (r < 0), and the standard residual
    check after any forecast. One lag window and one corr aggregate on
    the SAME user_id exchange — the window's shuffle is the aggregate's
    shuffle, so the whole diagnostic is a single wide op; corr's
    (n, Σx, Σy, Σxy, Σx², Σy²) state is mergeable, keeping the
    aggregate map-combinable at 100 TB. Rounded to 4 (covariance
    accumulation order differs across engines at the ulp)."""
    # NULL-ts readings are not part of the ordered series (family
    # seven): with no position they can form no lag pair.
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # finite(): see the oracle comment — the usable series only.
    lagged = (
        ev.filter(finite("value").isNotNull())
        .select("user_id", "value", F.lag("value").over(w).alias("prev_value"))
        .filter(F.col("prev_value").isNotNull())
    )
    return (
        lagged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.corr("value", "prev_value"), 4).alias("autocorr_lag1"),
        )
        .filter(F.col("n_pairs") >= 10)
        .orderBy("user_id")
    )


@REG.add(
    "ts_ohlc_bars",
    # open/close anchor on (ts, event_id) — REAL tick streams carry
    # duplicate timestamps, where a ts-only anchor let each engine pick
    # a different tick (r10 probe_ts sweep caught `close` diverging).
    # DuckDB's arg_min/arg_max can't take a struct key, so the oracle
    # picks via null-value-last row_number windows; the NULL-last CASE
    # mirrors min_by/max_by skipping NULL-keyed rows (a NULL tick is
    # not a price), and an all-NULL bar opens/closes NULL in both.
    oracle=f"""
    WITH t AS (
        SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS h, value,
               row_number() OVER (
                   PARTITION BY user_id, time_bucket(INTERVAL '1 hour', ts)
                   ORDER BY CASE WHEN value IS NULL THEN 1 ELSE 0 END,
                            ts, event_id) AS rn_open,
               row_number() OVER (
                   PARTITION BY user_id, time_bucket(INTERVAL '1 hour', ts)
                   ORDER BY CASE WHEN value IS NULL THEN 1 ELSE 0 END,
                            ts DESC, event_id DESC) AS rn_close
        FROM events
    )
    SELECT user_id,
           strftime(h, '{HOUR_FMT_DUCK}') AS hour,
           round(max(CASE WHEN rn_open = 1 THEN value END), 6)  AS open,
           round(max(value), 6)                                 AS high,
           round(min(value), 6)                                 AS low,
           round(max(CASE WHEN rn_close = 1 THEN value END), 6) AS close,
           CAST(count(*) AS BIGINT)                             AS n_ticks
    FROM t
    GROUP BY 1, 2 ORDER BY user_id, hour
    """,
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling (open/high/low/close bars per hour per series)
    — the canonical irregular→regular compression for tick-shaped data,
    and a pure MERGEABLE aggregate: open/close are min_by/max_by on a
    (ts, event_id) anchor struct (partials merge by keeping the
    earlier/later anchor), high/low/count are trivial — so the whole
    bar computation is ONE map-combinable shuffle with no window and no
    sort, unlike the row_number-per-bucket formulation. At 100 TB that
    difference is a full per-partition sort per bucket avoided. The
    event_id in the anchor is the duplicate-timestamp tie-break (real
    tick streams HAVE simultaneous ticks; ts alone let each engine pick
    a different one — r10 probe_ts)."""
    ev = load_table(spark, sf_dir, "events")
    # Anchor only where the value is non-NULL: a NULL tick is not a
    # price. min_by/max_by skip NULL ordering keys, mirroring the
    # oracle's NULL-last pick; an all-NULL bar opens/closes NULL in
    # both engines. n_ticks stays count(*).
    anchor = F.when(
        F.col("value").isNotNull(), F.struct(F.col("ts"), F.col("event_id"))
    )
    return (
        ev.groupBy(
            "user_id",
            F.date_format(F.date_trunc("hour", "ts"), HOUR_FMT_SPARK).alias("hour"),
        )
        .agg(
            F.round(F.min_by("value", anchor), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", anchor), 6).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_ticks"),
        )
        .orderBy("user_id", "hour")
    )


@REG.add(
    "quality_entropy_profile",
    oracle="""
    WITH counts AS (
        SELECT o_orderpriority AS v, count(*) AS n FROM orders GROUP BY 1
    ),
    tot AS (SELECT sum(n) AS total, count(*) AS k FROM counts)
    SELECT CAST(tot.k AS BIGINT) AS n_distinct,
           round(-sum((counts.n * 1.0 / tot.total)
                      * ln(counts.n * 1.0 / tot.total)), 6) AS entropy_nats,
           round(-sum((counts.n * 1.0 / tot.total)
                      * ln(counts.n * 1.0 / tot.total)) / ln(tot.k), 6)
               AS normalized_entropy
    FROM counts CROSS JOIN tot
    GROUP BY tot.k
    """,
)
def quality_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of a categorical column's distribution — the
    scalar that distinguishes a healthy balanced dimension
    (normalized entropy near 1) from a degenerate one (near 0: one
    value dominates, the column carries no information and any join on
    it is maximally skewed). Profiling tier beyond null/distinct
    counts: two cheap aggregates, the second over O(cardinality) rows
    — at 100 TB the first is the only one that sees data, and it's
    map-combinable. Entropy is also the direct input to choosing
    partition/bucket columns: log2(distinct) capacity vs actual
    entropy measures how evenly a key would spread."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy(F.col("o_orderpriority").alias("v")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = counts.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("k")
    )
    p_i = F.col("n") / F.col("total")
    return (
        counts.crossJoin(F.broadcast(tot))  # 1-row totals, not a real cross
        .groupBy("k")
        .agg(
            F.round(-F.sum(p_i * F.log(p_i)), 6).alias("entropy_nats"),
            # try_divide: a single-valued column has log(k)=0 capacity —
            # normalized entropy is undefined -> NULL (SQL-twin x/0
            # semantics), not an ANSI DIVIDE_BY_ZERO.
            F.round(
                F.try_divide(
                    -F.sum(p_i * F.log(p_i)), F.log(F.col("k").cast("double"))
                ),
                6,
            ).alias("normalized_entropy"),
        )
        .select(
            F.col("k").cast("long").alias("n_distinct"),
            "entropy_nats",
            "normalized_entropy",
        )
    )


@REG.add(
    "ts_week_over_week",
    # The daily total rides the finite gate (functions/finite.py, r12
    # sf_extremes): a +1e300 and a −1e300 reading landing in the same
    # day cancel to 0 or to ±residue depending on accumulation order,
    # so day_value — and every downstream ratio — was engine-divergent.
    oracle=f"""
    WITH daily AS (
        SELECT time_bucket(INTERVAL '1 day', ts) AS day,
               round(sum({sql_finite("value")}), 2) AS day_value
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    wow AS (
        SELECT day, day_value,
               lag(day_value, 7) OVER (ORDER BY day) AS prior_week
        FROM daily
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, day_value, prior_week,
           round((day_value - prior_week) / prior_week, 4) AS wow_change
    FROM wow WHERE prior_week IS NOT NULL
    ORDER BY day
    """,
)
def ts_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week change: daily totals compared against the value
    seven rows (= seven days, the aggregation grain guarantees
    gap-free... see caveat) earlier — the seasonal-offset comparison
    every reporting layer ships, expressed as lag(7) over the ALREADY
    aggregated daily tier so the window state is O(days), never
    O(events). Caveat encoded honestly: lag(7) is row-offset, so a
    missing day would shift the comparison — on gappy data compose
    with ``ts_gap_detect``/a `gen_date_dim` spine join first. Daily
    sums rounded to 2 before the ratio so both engines divide
    identical inputs. NULL-ts readings belong to no day — excluded
    (family seven): an un-timestamped row would otherwise form a NULL
    "day" that row-shifts the lag-7 comparison differently per engine
    (Spark sorts it first, DuckDB last)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.round(F.sum(finite("value")), 2).alias("day_value")
    )
    w = Window.orderBy("day")
    wow = daily.withColumn("prior_week", F.lag("day_value", 7).over(w))
    return (
        wow.filter(F.col("prior_week").isNotNull())
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "day_value",
            "prior_week",
            F.round(
                (F.col("day_value") - F.col("prior_week"))
                / F.nullif(F.col("prior_week"), F.lit(0.0)),
                4,
            ).alias("wow_change"),
        )
        .orderBy("day")
    )


DOMAIN_CAP = 40


@REG.add(
    "corpus_domain_cap",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('cap42:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT)                                  AS n_docs,
           CAST(sum(CASE WHEN rk <= {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(CASE WHEN rk <= {DOMAIN_CAP} THEN n_chars ELSE 0 END) AS BIGINT)
               AS kept_chars
    FROM ranked GROUP BY source ORDER BY source
    """,
)
def corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document caps — the anti-domination rule every
    pretraining corpus applies (no single domain/source may contribute
    more than N documents, so one crawler-friendly site can't swamp the
    mixture): docs rank within their source by a content-stable hash (a
    deterministic lottery — same winners on every rerun and engine,
    unlike rand()), the first N survive, and the audit reports
    kept/total per source. One window over one source-key shuffle; at
    100 TB the rank can stop early via WindowGroupLimit exactly like
    the LSH bucket cap (same top-k-per-group plan shape), so state per
    source is O(cap), not O(docs)."""
    d = load_table(spark, sf_dir, "documents")
    lottery = F.md5(F.concat(F.lit("cap42:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(lottery, "doc_id")
    ranked = d.select(
        "doc_id", "source", "n_chars", F.row_number().over(w).alias("rk")
    )
    kept = F.col("rk") <= DOMAIN_CAP
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(kept.cast("int")).cast("long").alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("kept_chars"),
        )
        .orderBy("source")
    )


@REG.add(
    "pipeline_quality_gate_fused",
    # digit_ratio divides via nullif/try_divide: an EMPTY document made
    # the plain ANSI division abort the entire gate job (r10
    # sf_hostiletext probe) — one zero-length doc in 100 TB killed the
    # curation pass. A NULL ratio folds keep to FALSE through the
    # n_tokens clause and contributes no reason string, identically in
    # both engines.
    oracle="""
    WITH sig AS (
        SELECT doc_id,
               len(string_split(text, ' '))                            AS n_tokens,
               len(replace(text, ' ', ''))                            AS n_alpha,
               list_max(list_transform(string_split(text, ' '),
                                       t -> len(t)))                  AS max_word_len,
               len(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
                   / nullif(len(text), 0)                             AS digit_ratio
        FROM documents
    )
    SELECT doc_id,
           n_tokens >= 10
               AND (n_alpha * 1.0 / n_tokens) BETWEEN 2 AND 12
               AND max_word_len <= 30
               AND digit_ratio <= 0.3                                 AS keep,
           concat_ws('|',
               CASE WHEN n_tokens < 10 THEN 'too_few_tokens' END,
               CASE WHEN (n_alpha * 1.0 / n_tokens) < 2
                         OR (n_alpha * 1.0 / n_tokens) > 12
                    THEN 'word_len_out_of_range' END,
               CASE WHEN max_word_len > 30 THEN 'megatoken' END,
               CASE WHEN digit_ratio > 0.3 THEN 'too_many_digits' END
           ) AS reasons
    FROM sig ORDER BY doc_id
    """,
)
def pipeline_quality_gate_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FUSED quality gate — every signal (token count, mean word
    length, mega-token detection, digit density) computed in ONE narrow
    codegen projection over ONE scan, with a keep verdict AND a
    machine-readable reasons trail per document (the audit column that
    lets curation thresholds be tuned from rejected-reason histograms
    instead of re-running the corpus). Running the same four signals as
    separate jobs — the naive composition of this family's individual
    entries — costs four scans; production gates fuse, which is the
    point this entry pins. Zero shuffles except the output sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    n_alpha = F.length(F.regexp_replace(F.col("text"), " ", ""))
    mean_wl = n_alpha / n_tokens  # n_tokens >= 1 for any non-NULL text
    max_wl = F.array_max(F.transform(toks, F.length))
    # try_divide: an empty doc has no digit_ratio — NULL, not a
    # DIVIDE_BY_ZERO job abort (see oracle comment).
    digit_ratio = F.try_divide(
        F.length(F.regexp_replace(F.col("text"), "[^0-9]", "")),
        F.length("text"),
    )
    keep = (
        (n_tokens >= 10)
        & mean_wl.between(2, 12)
        & (max_wl <= 30)
        & (digit_ratio <= 0.3)
    )
    reasons = F.concat_ws(
        "|",
        F.when(n_tokens < 10, "too_few_tokens"),
        F.when((mean_wl < 2) | (mean_wl > 12), "word_len_out_of_range"),
        F.when(max_wl > 30, "megatoken"),
        F.when(digit_ratio > 0.3, "too_many_digits"),
    )
    return d.select(
        "doc_id", keep.alias("keep"), reasons.alias("reasons")
    ).orderBy("doc_id")


@REG.add(
    "quality_outlier_mad",
    oracle="""
    WITH med AS (
        SELECT c_mktsegment AS segment,
               quantile_disc(c_acctbal, 0.5) AS med
        FROM customer GROUP BY 1
    ),
    mad AS (
        SELECT m.segment, m.med,
               quantile_disc(abs(c.c_acctbal - m.med), 0.5) AS mad
        FROM customer c JOIN med m ON c.c_mktsegment = m.segment
        GROUP BY m.segment, m.med
    )
    SELECT s.segment,
           round(s.med, 2) AS med,
           round(s.mad, 2) AS mad,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN abs(0.6745 * (c.c_acctbal - s.med) / nullif(s.mad, 0)) > 3.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM customer c JOIN mad s ON c.c_mktsegment = s.segment
    GROUP BY s.segment, s.med, s.mad
    ORDER BY s.segment
    """,
)
def quality_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier audit (modified z-score,
    Iglewicz-Hoaglin |0.6745*(x-med)/MAD| > 3.5) — the robust sibling
    of ``quality_outlier_iqr`` and the mean/stddev z-score: a single
    corrupted magnitude can drag a mean-based fence arbitrarily far,
    but breaks down MAD only past 50% contamination. Medians are
    DISCRETE (percentile_disc): actual data values, engine-identical —
    interpolated medians diverge at the last ulp across engines. Cost shape: two
    grouped exact-median reduces (the second over |x - med| needs the
    first's one-row-per-group table, broadcast back), then a broadcast
    verdict join — the fact table shuffles only for the median sorts,
    and at 100 TB both swap to ``percentile_approx`` and become
    map-combinable, leaving the facts entirely unshuffled."""
    c = load_table(spark, sf_dir, "customer")
    # percentile_disc, not percentile/quantile_cont: the DISCRETE median
    # is an actual data value, so both engines return the identical
    # double — interpolated medians differ at the last ulp across
    # engines ((a+b)/2 vs a+(b-a)/2), which flips a .xx5 rounding
    # boundary (seen live on this entry at sf0.01).
    med = c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c_acctbal)").alias("med")
    )
    mad = (
        c.join(F.broadcast(med), c["c_mktsegment"] == med["segment"])
        .groupBy("segment", "med")
        .agg(
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(c_acctbal - med))"
            ).alias("mad")
        )
    )
    # nullif: a constant group has MAD 0 — the modified z-score is
    # undefined there (NULL, counted as not-outlier) instead of an
    # ANSI divide-by-zero error.
    rz = 0.6745 * (F.col("c_acctbal") - F.col("med")) / F.nullif(
        F.col("mad"), F.lit(0.0)
    )
    return (
        c.join(F.broadcast(mad), c["c_mktsegment"] == mad["segment"])
        .groupBy("segment", "med", "mad")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.coalesce((F.abs(rz) > 3.5).cast("int"), F.lit(0)))
            .cast("long")
            .alias("n_outliers"),
        )
        .select(
            "segment",
            F.round("med", 2).alias("med"),
            F.round("mad", 2).alias("mad"),
            "n_rows",
            "n_outliers",
        )
        .orderBy("segment")
    )


#: Weighted-reservoir sample size (A-ES top-k over the whole corpus).
WRES_K = 100


@REG.add(
    "sample_weighted_reservoir",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               round(
                   ln((('0x' || substr(md5('wres42:' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT + 1)
                      / 16777217.0) / n_chars,
                   12) AS res_key
        FROM documents
        WHERE n_chars > 0
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars, res_key
    FROM keyed
    ORDER BY res_key DESC, doc_id
    LIMIT {WRES_K}
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    each doc draws a deterministic hash uniform u and ranks by
    ``ln(u)/w`` (equivalent to ``u^(1/w)``); the global top-k IS an
    exact weighted sample — here weight = document length, the usual
    proxy when sampling a corpus by token mass. Why this shape at
    100 TB: the key is a per-row projection (no pre-pass to total the
    weights, unlike inverse-CDF sampling) and top-k plans
    TakeOrderedAndProject — per-partition heaps of k rows merged on the
    driver, never a global sort. Deterministic-by-construction: the
    uniform comes from md5, so every engine and every rerun selects the
    same sample (rand() would be unverifiable); keys are rounded to 12
    decimals in BOTH engines so libm ulp differences can't flip the
    boundary rank, with doc_id as the final tie-break."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    hex6 = F.substring(
        F.md5(F.concat(F.lit("wres42:"), F.col("doc_id").cast("string")).cast("binary")),
        1,
        6,
    )
    u = (F.conv(hex6, 16, 10).cast("long") + 1) / F.lit(16777217.0)
    key = F.round(F.log(u) / F.col("n_chars"), 12)
    return (
        d.select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            key.alias("res_key"),
        )
        .orderBy(F.col("res_key").desc(), "doc_id")
        .limit(WRES_K)
    )


@REG.add(
    "quality_table_checksum",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(('0x' || substr(md5(
                 COALESCE(CAST(o_orderkey AS VARCHAR), '\\N') || '|' ||
                 COALESCE(CAST(o_custkey  AS VARCHAR), '\\N') || '|' ||
                 COALESCE(o_orderstatus,   '\\N') || '|' ||
                 COALESCE(o_orderpriority, '\\N') || '|' ||
                 COALESCE(strftime(o_orderdate, '%Y-%m-%d'), '\\N')
               ), 1, 14))::BIGINT)  -- HUGEINT accumulator in DuckDB
               % 9007199254740993 AS BIGINT) AS checksum
    FROM orders
    """,
)
def quality_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table fingerprint: per-row md5 over a canonical
    column rendering, folded with + (commutative) into one value — how
    you validate that a 100 TB copy/migration/backfill produced the
    same table WITHOUT sorting either side or moving rows between
    systems (each side computes its own scalar; compare two numbers).
    Fully map-combinable: one scan, 16 bytes of state per partition, no
    shuffle beyond the final 1-row reduce. The accumulator is
    DECIMAL(38) (Spark) / HUGEINT (DuckDB): 2^56-scale terms times
    petabyte row counts stay under 1e38 exactly, where a BIGINT sum
    overflows (ANSI mode raises) and a double sum silently loses the
    low bits the checksum exists to compare. The canonical rendering
    sticks to int/string/formatted-date columns because float-to-string
    formatting is engine-specific.

    NULLs are RENDERED (explicit sentinel), never dropped: a checksum
    that skips NULL-holed rows is blind to exactly the corrupted rows
    it exists to catch — and the unpinned spellings diverge anyway
    (Spark's concat_ws SKIPS a NULL piece, SQL's || nulls the whole
    row string; family-seven probe)."""
    o = load_table(spark, sf_dir, "orders")
    NS = "\\N"
    row_str = F.concat_ws(
        "|",
        F.coalesce(F.col("o_orderkey").cast("string"), F.lit(NS)),
        F.coalesce(F.col("o_custkey").cast("string"), F.lit(NS)),
        F.coalesce(F.col("o_orderstatus"), F.lit(NS)),
        F.coalesce(F.col("o_orderpriority"), F.lit(NS)),
        F.coalesce(F.date_format("o_orderdate", "yyyy-MM-dd"), F.lit(NS)),
    )
    term = F.conv(F.substring(F.md5(row_str.cast("binary")), 1, 14), 16, 10).cast("long")
    return o.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.sum(term.cast("decimal(38,0)")) % F.lit(9007199254740993))
        .cast("long")
        .alias("checksum"),
    )


def _phash_sql() -> str:
    # 3 pigeonhole segments cover 16 bits => complete radius-2 candidates.
    return f"""
    WITH sig AS (
        SELECT doc_id,
               lpad(bin(('0x' || substr(md5(text), 1, 4))::INT), 16, '0') AS phash
        FROM documents
    ),
    seg_tbl AS (
        {" UNION ALL ".join(
            f"SELECT {i} AS seg_id, {start} AS seg_start, {length} AS seg_len"
            for i, (start, length) in enumerate([(1, 6), (7, 5), (12, 5)])
        )}
    ),
    keyed AS (
        SELECT s.doc_id, s.phash, t.seg_id,
               substr(s.phash, t.seg_start, t.seg_len) AS seg_val
        FROM sig s CROSS JOIN seg_tbl t
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, a.phash AS pa,
                        b.doc_id AS doc_b, b.phash AS pb
        FROM keyed a JOIN keyed b
          ON a.seg_id = b.seg_id AND a.seg_val = b.seg_val
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(len(list_filter(generate_series(1, 16),
                    i -> substr(pa, i, 1) <> substr(pb, i, 1))) AS BIGINT)
               AS hamming
    FROM cand
    WHERE len(list_filter(generate_series(1, 16),
              i -> substr(pa, i, 1) <> substr(pb, i, 1))) <= 2
    ORDER BY doc_a, doc_b
    """


@REG.add("multimodal_dedup_phash", oracle=_phash_sql())
def multimodal_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup detection over OPAQUE MEDIA BYTES — the
    image/audio twin of text MinHash: a 16-bit signature per payload,
    pigeonhole-blocked hamming join (3 segments ⇒ every radius-2 pair
    shares ≥1 exact segment — complete candidates, never all pairs),
    exact hamming on candidates only. The signature kernel here is a
    content-hash STUB (md5 prefix of the bytes — this container has no
    image codec, per the multimodal family's declared pattern); a real
    pHash/DCT kernel slots into the same column position and the ENTIRE
    downstream plan — segment explode, bucket equi-join, hamming
    verify — is unchanged, which is the part that must survive 100 TB
    of media. Media bytes come from ``bundle_media`` (binary column +
    typed meta), so the hash runs on the binary payload, not the
    source text."""
    from projetos_etl_spark.operators.multimodal import bundle_media

    docs = load_table(spark, sf_dir, "documents")
    media = bundle_media(docs)
    sig = media.select(
        "doc_id",
        F.lpad(F.bin(F.conv(F.substring(F.md5("media"), 1, 4), 16, 10)), 16, "0").alias(
            "phash"
        ),
    )
    segs = [(0, 1, 6), (1, 7, 5), (2, 12, 5)]
    keyed = sig.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("seg_id"),
                        F.substring("phash", start, length).alias("seg_val"),
                    )
                    for i, start, length in segs
                ]
            )
        ).alias("seg"),
    ).select("doc_id", "phash", "seg.seg_id", "seg.seg_val")
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.seg_id") == F.col("b.seg_id"))
            & (F.col("a.seg_val") == F.col("b.seg_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.phash").alias("pa"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.phash").alias("pb"),
        )
        .distinct()
    )
    ham = sum(
        F.when(F.substring("pa", i + 1, 1) != F.substring("pb", i + 1, 1), 1).otherwise(0)
        for i in range(16)
    )
    return (
        cand.select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= 2)
        .orderBy("doc_a", "doc_b")
    )


#: k-anonymity threshold for the privacy audit.
K_ANON = 5


@REG.add(
    "privacy_k_anonymity_audit",
    oracle=f"""
    WITH cells AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS cell_n
        FROM customer GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT)                               AS n_cells,
           CAST(sum(CASE WHEN cell_n < {K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_small_cells,
           CAST(min(cell_n) AS BIGINT)                            AS min_cell,
           CAST(sum(CASE WHEN cell_n < {K_ANON} THEN cell_n ELSE 0 END) AS BIGINT)
               AS n_rows_at_risk,
           round(sum(CASE WHEN cell_n < {K_ANON} THEN cell_n ELSE 0 END)
                 * 1.0 / sum(cell_n), 6)                          AS risk_fraction
    FROM cells
    """,
)
def privacy_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple (nation x market
    segment): any combination shared by fewer than k individuals can
    re-identify them, so a release gate needs the count of sub-k cells,
    the worst cell, and the fraction of rows at risk — BEFORE the data
    ships to a training pipeline (the privacy twin of the quality
    gates). Cost shape: one hash aggregate over the quasi-identifier
    key (mergeable counts), then a scalar rollup over the cell table —
    the facts shuffle once, the audit itself is O(cells). The remedy
    for failing cells (generalize a column, suppress the rows) plugs
    into ``corpus_domain_cap``-style curation; this entry is the
    detector."""
    c = load_table(spark, sf_dir, "customer")
    cells = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("cell_n")
    )
    small = F.col("cell_n") < K_ANON
    return cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum(small.cast("int")).cast("long").alias("n_small_cells"),
        F.min("cell_n").cast("long").alias("min_cell"),
        F.sum(F.when(small, F.col("cell_n")).otherwise(0)).cast("long").alias(
            "n_rows_at_risk"
        ),
        F.round(
            F.sum(F.when(small, F.col("cell_n")).otherwise(0)) / F.sum("cell_n"), 6
        ).alias("risk_fraction"),
    )


#: Freshness SLA for the events monitor (hours).
FRESHNESS_SLA_H = 24


@REG.add(
    "quality_freshness_sla",
    oracle=f"""
    WITH now_ref AS (SELECT max(ts) AS now_ts FROM events),
    last_seen AS (
        SELECT event_type, max(ts) AS last_ts, count(*) AS n_events
        FROM events GROUP BY 1
    )
    SELECT l.event_type,
           strftime(l.last_ts, '{{TS_FMT_DUCK}}') AS last_seen,
           CAST(l.n_events AS BIGINT)             AS n_events,
           round(date_diff('second', l.last_ts, n.now_ts) / 3600.0, 4)
               AS hours_stale,
           date_diff('second', l.last_ts, n.now_ts) / 3600.0 > {FRESHNESS_SLA_H}
               AS sla_breached
    FROM last_seen l CROSS JOIN now_ref n
    ORDER BY l.event_type
    """.replace("{{TS_FMT_DUCK}}", "{TS_FMT_DUCK}").format(TS_FMT_DUCK=TS_FMT_DUCK),
)
def quality_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLA monitor: per event stream, when data last
    arrived and whether staleness breaches the SLA — the first page of
    every pipeline dashboard, computed here against the corpus maximum
    timestamp so the check is deterministic (a wall-clock 'now' can
    never be oracle-compared; in production swap the reference scalar
    for ``current_timestamp()`` and nothing else changes). Cost: ONE
    mergeable max/count aggregate per key plus a broadcast 1-row
    reference join — at 100 TB this reads as a metadata-light full
    scan, or prunes to recent partitions when the layout is
    date-partitioned (the layer-write discipline)."""
    ev = load_table(spark, sf_dir, "events")
    now_ref = ev.agg(F.max("ts").alias("now_ts"))
    last = ev.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"), F.count(F.lit(1)).alias("n_events")
    )
    stale_h = (
        F.col("now_ts").cast("long") - F.col("last_ts").cast("long")
    ) / 3600.0
    return (
        last.crossJoin(F.broadcast(now_ref))  # 1-row reference scalar
        .select(
            "event_type",
            F.date_format("last_ts", TS_FMT_SPARK).alias("last_seen"),
            F.col("n_events").cast("long").alias("n_events"),
            F.round(stale_h, 4).alias("hours_stale"),
            (stale_h > FRESHNESS_SLA_H).alias("sla_breached"),
        )
        .orderBy("event_type")
    )


@REG.add(
    "quality_join_cardinality_forecast",
    oracle="""
    WITH lc AS (SELECT l_orderkey AS k, count(*) AS n_l FROM lineitem GROUP BY 1),
    oc AS (SELECT o_orderkey AS k, count(*) AS n_o FROM orders GROUP BY 1),
    prod AS (
        SELECT coalesce(lc.k, oc.k) AS k,
               coalesce(n_l, 0) AS n_l, coalesce(n_o, 0) AS n_o,
               coalesce(n_l, 0) * coalesce(n_o, 0) AS out_rows
        FROM lc FULL JOIN oc ON lc.k = oc.k
    )
    SELECT CAST(count(*) AS BIGINT)                                AS n_keys,
           CAST(sum(out_rows) AS BIGINT)                           AS predicted_rows,
           CAST(sum(CASE WHEN out_rows = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dangling_keys,
           CAST(max(out_rows) AS BIGINT)                           AS max_key_rows,
           CAST(sum(CASE WHEN out_rows > 100 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_blowup_keys
    FROM prod
    """,
)
def quality_join_cardinality_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality forecast WITHOUT running the join: per-key
    counts of both sides, full-outer-merged, give the exact output size
    (sum of per-key products), the dangling-key count, and — the number
    that matters at 100 TB — the hottest key's output and how many keys
    exceed a blowup threshold. This is the pre-flight a pipeline runs
    before an unfamiliar fact-fact join: a many-to-many key nobody
    expected turns a 1 TB shuffle into a 100 TB one, and THIS query
    costs two count-aggregates + a count-table join (rows = distinct
    keys, not facts) instead of the blowup itself. The same
    per-key-count tables feed the salting decision
    (``join_salted_skew``) when max_key_rows says AQE alone won't
    save you. Exact by construction — the cheap HLL variant loses
    exactly the per-key product this forecast exists to compute."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lc = li.groupBy(F.col("l_orderkey").alias("k")).agg(F.count(F.lit(1)).alias("n_l"))
    oc = o.groupBy(F.col("o_orderkey").alias("k")).agg(F.count(F.lit(1)).alias("n_o"))
    prod = (
        lc.join(oc, "k", "full")
        .select(
            F.coalesce(F.col("n_l"), F.lit(0)).alias("n_l"),
            F.coalesce(F.col("n_o"), F.lit(0)).alias("n_o"),
        )
        .withColumn("out_rows", F.col("n_l") * F.col("n_o"))
    )
    return prod.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("out_rows").cast("long").alias("predicted_rows"),
        F.sum((F.col("out_rows") == 0).cast("int")).cast("long").alias(
            "n_dangling_keys"
        ),
        F.max("out_rows").cast("long").alias("max_key_rows"),
        F.sum((F.col("out_rows") > 100).cast("int")).cast("long").alias(
            "n_blowup_keys"
        ),
    )


@REG.add(
    "quality_table_reconcile",
    oracle="""
    WITH b AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 101 = 0
                    THEN round(o_totalprice * 1.1, 2) ELSE o_totalprice END
                   AS o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey % 97 <> 0
    ),
    j AS (
        SELECT a.o_orderkey AS ka, b.o_orderkey AS kb,
               a.o_totalprice AS pa, b.o_totalprice AS pb
        FROM orders a FULL JOIN b ON a.o_orderkey = b.o_orderkey
    )
    SELECT CAST(sum(CASE WHEN kb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_left,
           CAST(sum(CASE WHEN ka IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_right,
           CAST(sum(CASE WHEN ka IS NOT NULL AND kb IS NOT NULL
                          AND pa <> pb THEN 1 ELSE 0 END) AS BIGINT)   AS n_changed,
           CAST(sum(CASE WHEN ka IS NOT NULL AND kb IS NOT NULL
                          AND pa = pb THEN 1 ELSE 0 END) AS BIGINT)    AS n_identical
    FROM j
    """,
)
def quality_table_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level reconciliation of two table versions — the drill-down
    that runs when ``quality_table_checksum``'s scalars disagree:
    full-outer join on the key classifies every row as
    only-left / only-right / changed / identical, the exact accounting
    a migration sign-off needs. The 'right side' here is a
    deterministic simulated drift of orders (keys dropped at %97,
    prices perturbed at %101) so the expected counts are reproducible;
    in production both sides are real scans. Cost: ONE key-shuffle
    full-outer join carrying only (key, compare-hash) — project the
    comparison down to a digest per row before the join and 100 TB
    reconciles moving ~16 bytes/row, not the row bodies."""
    a = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    b = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 101 == 0,
                F.round(F.col("o_totalprice") * 1.1, 2),
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
    )
    j = a.alias("a").join(
        b.alias("b"), F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full"
    )
    ka, kb = F.col("a.o_orderkey"), F.col("b.o_orderkey")
    pa, pb = F.col("a.o_totalprice"), F.col("b.o_totalprice")
    return j.agg(
        F.sum(kb.isNull().cast("int")).cast("long").alias("n_only_left"),
        F.sum(ka.isNull().cast("int")).cast("long").alias("n_only_right"),
        F.sum((ka.isNotNull() & kb.isNotNull() & (pa != pb)).cast("int"))
        .cast("long")
        .alias("n_changed"),
        F.sum((ka.isNotNull() & kb.isNotNull() & (pa == pb)).cast("int"))
        .cast("long")
        .alias("n_identical"),
    )


#: (table, primary-key column) for the corpus-wide uniqueness audit.
#: lineitem's key is composite (orderkey, linenumber) — both listed.
_PK_AUDIT = [
    ("region", ["r_regionkey"]),
    ("nation", ["n_nationkey"]),
    ("customer", ["c_custkey"]),
    ("supplier", ["s_suppkey"]),
    ("part", ["p_partkey"]),
    ("orders", ["o_orderkey"]),
    ("lineitem", ["l_orderkey", "l_linenumber"]),
    ("events", ["event_id"]),
    ("documents", ["doc_id"]),
    ("embeddings", ["vec_id"]),
]


def _pk_audit_oracle() -> str:
    selects = "\n    UNION ALL\n    ".join(
        f"SELECT '{t}' AS table_name, count(*) AS n_rows, "
        f"count(DISTINCT ({' , '.join(cols) if len(cols) == 1 else '(' + ', '.join(cols) + ')'})) AS n_distinct_pk "
        f"FROM {t}"
        for t, cols in _PK_AUDIT
    )
    return f"""
    WITH u AS (
    {selects}
    )
    SELECT table_name,
           CAST(n_rows AS BIGINT)                 AS n_rows,
           CAST(n_distinct_pk AS BIGINT)          AS n_distinct_pk,
           CAST(n_rows - n_distinct_pk AS BIGINT) AS n_dup_rows,
           n_rows = n_distinct_pk                 AS pk_unique
    FROM u ORDER BY table_name
    """


@REG.add("quality_pk_uniqueness_audit", oracle=_pk_audit_oracle())
def quality_pk_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide primary-key uniqueness audit: every table's declared
    key checked in one report — the PK half of the integrity dashboard
    (`quality_referential_integrity` is the FK half). A silently
    duplicated key is the classic upstream-retry symptom and breaks
    every downstream join's cardinality assumption, so this runs before
    anything else trusts the layer. Per table: one count-distinct
    aggregate over the key (the shuffle carries distinct keys, not
    rows); tables audit independently and union at the end — on a
    cluster the ten audits run concurrently as independent jobs."""
    import functools

    parts = []
    for t, cols in _PK_AUDIT:
        df = load_table(spark, sf_dir, t)
        key = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
        parts.append(
            df.agg(
                F.lit(t).alias("table_name"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.countDistinct(key).cast("long").alias("n_distinct_pk"),
            )
        )
    u = functools.reduce(lambda x, y: x.unionByName(y), parts)
    return (
        u.select(
            "table_name",
            "n_rows",
            "n_distinct_pk",
            (F.col("n_rows") - F.col("n_distinct_pk")).cast("long").alias("n_dup_rows"),
            (F.col("n_rows") == F.col("n_distinct_pk")).alias("pk_unique"),
        )
        .orderBy("table_name")
    )


#: Matryoshka evaluation: leading dims kept by the truncated ranker.
MRL_DIMS = 16
_MRL_QUERIES = 10
_MRL_K = 5


def _mrl_oracle() -> str:
    # sql_cosine (registry/_sqlvec.py) mirrors Spark's zip_with+fold
    # NULL semantics on BOTH rankings — a ragged/holed vector pins to
    # 0.0 in full- and truncated-dim space alike (its 16-dim slice of a
    # 32-dim vector is a REAL 16-vector and scores normally, same as
    # Spark's F.slice + fold).
    from projetos_etl_spark.registry._sqlvec import sql_cosine

    def _ranked(vec: str, name: str) -> str:
        return f"""{name} AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {sql_cosine(f"q.{vec}", f"c.{vec}")} DESC,
                                c.vec_id) AS rank
            FROM e q JOIN e c ON c.vec_id != q.vec_id
            WHERE q.vec_id < {_MRL_QUERIES}
        ) WHERE rank <= {_MRL_K}
    )"""

    return f"""
    WITH e AS (
        SELECT vec_id,
               CAST(embedding AS DOUBLE[])         AS v,
               CAST(embedding[1:{MRL_DIMS}] AS DOUBLE[]) AS t
        FROM embeddings
    ), {_ranked("v", "full_k")}, {_ranked("t", "trunc_k")}
    SELECT f.query_id,
           CAST(count(t.neighbor_id) AS BIGINT)             AS n_common,
           round(count(t.neighbor_id) * 1.0 / {_MRL_K}, 2)  AS overlap_frac
    FROM full_k f
    LEFT JOIN trunc_k t
      ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
    GROUP BY f.query_id ORDER BY f.query_id
    """


@REG.add("emb_matryoshka_overlap", oracle=_mrl_oracle())
def emb_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval evaluation: rank neighbors with
    only the LEADING 16 of 64 dimensions and measure top-k overlap
    against the full-dimension ranking, per query — the decision table
    for the MRL trade (truncated embeddings cost 4x less to store and
    scan; this query says what that buys you in ranking agreement,
    before anyone commits an index to the cheap representation). Both
    rankings are exact brute-force over the broadcast bounded query set
    (the ``sim_search_topk`` contract — see ``registry/similarity.py``);
    the overlap join touches k rows per query. On ISOTROPIC fixture
    vectors the leading dims carry no privileged variance so overlap is
    honestly low — with real MRL-trained embeddings this number is the
    model's advertised property, and THIS is the query that audits it."""
    from projetos_etl_spark.operators.cosine import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    trunc = emb.select("vec_id", F.slice("embedding", 1, MRL_DIMS).alias("embedding"))
    q_full = emb.filter(F.col("vec_id") < _MRL_QUERIES)
    q_trunc = trunc.filter(F.col("vec_id") < _MRL_QUERIES)
    full_k = brute_force_topk(q_full, emb, k=_MRL_K).select("query_id", "neighbor_id")
    trunc_k = brute_force_topk(q_trunc, trunc, k=_MRL_K).select(
        F.col("query_id").alias("tq"), F.col("neighbor_id").alias("tn")
    )
    j = full_k.join(
        trunc_k,
        (F.col("query_id") == F.col("tq")) & (F.col("neighbor_id") == F.col("tn")),
        "left",
    )
    return (
        j.groupBy("query_id")
        .agg(
            F.count("tn").cast("long").alias("n_common"),
            F.round(F.count("tn") / _MRL_K, 2).alias("overlap_frac"),
        )
        .orderBy("query_id")
    )


@REG.add(
    "quality_ks_two_sample",
    oracle="""
    WITH s AS (
        SELECT o_totalprice AS v,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS a
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
          AND o_totalprice IS NOT NULL
    ),
    tot AS (SELECT sum(a) AS n_a, sum(1 - a) AS n_b FROM s),
    e AS (
        SELECT v,
               sum(a)     OVER (ORDER BY v) AS ca,
               sum(1 - a) OVER (ORDER BY v) AS cb
        FROM s
    )
    SELECT CAST(max(t.n_a) AS BIGINT) AS n_a,
           CAST(max(t.n_b) AS BIGINT) AS n_b,
           round(max(abs(e.ca * 1.0 / t.n_a - e.cb * 1.0 / t.n_b)), 6) AS ks_stat
    FROM e CROSS JOIN tot t
    """,
)
def quality_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic (max ECDF gap) between
    two slices of a numeric column — the nonparametric drift detector
    beside ``quality_psi_drift``'s binned PSI: KS needs no bin choice
    and catches shape changes PSI's coarse bins smear out. Computed
    exactly: one ordered cumulative window over the unioned sample
    (RANGE-default frames make ties evaluate the ECDF at <=v on both
    sides, the textbook definition), then a max reduce. Cumulative
    counts are integers, so both engines derive bit-identical ECDF
    doubles. The global ORDER BY window is the honest cost — at 100 TB
    run KS per partition key (the window gains a PARTITION BY and the
    sort distributes), or pre-aggregate to distinct values with
    weights, exactly like ``agg_weighted_median``'s reduce. r12
    (sf_nulls holing o_totalprice): an unpriced order has no ECDF
    position — excluded on both sides (the engines otherwise park the
    NULL rows at opposite ends of the cumulative window and every
    intermediate ECDF gap shifts)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
        & F.col("o_totalprice").isNotNull()
    )
    s = o.select(
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("a"),
    )
    from pyspark.sql import Window

    wo = Window.orderBy("v")
    tot = s.agg(
        F.sum("a").alias("n_a"), F.sum(1 - F.col("a")).alias("n_b")
    )
    e = s.select(
        F.sum("a").over(wo).alias("ca"),
        F.sum(1 - F.col("a")).over(wo).alias("cb"),
    )
    return (
        e.crossJoin(F.broadcast(tot))  # 1-row totals scalar
        .agg(
            F.max("n_a").cast("long").alias("n_a"),
            F.max("n_b").cast("long").alias("n_b"),
            F.round(
                F.max(
                    F.abs(
                        F.col("ca") / F.nullif(F.col("n_a"), F.lit(0))
                        - F.col("cb") / F.nullif(F.col("n_b"), F.lit(0))
                    )
                ),
                6,
            ).alias("ks_stat"),
        )
    )


@REG.add(
    "ts_business_days_to_ship",
    oracle="""
    WITH first_ship AS (
        SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS ship_d
        FROM lineitem GROUP BY 1
    ),
    spans AS (
        SELECT o.o_orderpriority,
               date_diff('day', CAST(o.o_orderdate AS DATE), f.ship_d) + 1 AS nd,
               isodow(CAST(o.o_orderdate AS DATE)) AS s
        FROM orders o JOIN first_ship f ON o.o_orderkey = f.l_orderkey
        WHERE f.ship_d >= CAST(o.o_orderdate AS DATE)
    ),
    b AS (
        SELECT o_orderpriority,
               (nd // 7) * 5 + (nd % 7)
                 - greatest(0, least(s + (nd % 7) - 1, 7) - greatest(s, 6) + 1)
                   AS bdays
        FROM spans
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT)   AS n_orders,
           round(avg(bdays), 4)       AS avg_bdays,
           CAST(max(bdays) AS BIGINT) AS max_bdays
    FROM b GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def ts_business_days_to_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day SLA arithmetic: inclusive weekday count from order
    date to first shipment per priority — the calendar-aware latency a
    naive datediff overstates by up to 2/7. CLOSED FORM, not a per-row
    date sequence: full_weeks*5 plus the remainder window's weekday
    count from interval-overlap arithmetic on ISO day-of-week — O(1)
    per row where the sequence+filter spelling materializes an array
    per row (at 100 TB that's span-length x rows of generated data for
    a scalar). The formula is property-tested against the explicit
    sequence count on randomized date pairs
    (tests/test_properties.py). Orders whose first shipment precedes
    the order date (possible in the synthetic fixture) are excluded as
    out-of-domain. Holiday rules would swap this for a `gen_date_dim`
    calendar anti-join — same aggregation shape."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("ship_d")
    )
    order_d = F.col("o_orderdate").cast("date")
    nd = F.datediff(F.col("ship_d"), order_d) + 1
    # Spark weekday(): 0=Mon..6=Sun -> ISO 1..7.
    iso = F.weekday(order_d) + 1
    rem = nd % 7
    wkend = F.greatest(
        F.lit(0), F.least(iso + rem - 1, F.lit(7)) - F.greatest(iso, F.lit(6)) + 1
    )
    bdays = (nd - rem) / 7 * 5 + rem - wkend
    return (
        o.join(first_ship, o.o_orderkey == first_ship.l_orderkey)
        .filter(F.col("ship_d") >= order_d)
        .select("o_orderpriority", bdays.cast("long").alias("bdays"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.avg("bdays"), 4).alias("avg_bdays"),
            F.max("bdays").cast("long").alias("max_bdays"),
        )
        .orderBy("o_orderpriority")
    )


#: Poisson-bootstrap constants: replicate count, the Poisson(1) inverse-CDF
#: thresholds (exact double literals, identical in both engines), and the
#: Knuth-style mixing constants for the deterministic per-(row, replicate)
#: uniform draw.
BOOT_B = 64
_POIS_CDF = (
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238463", "0.9963401531726563", "0.9994058151824183",
    "0.999916758850712", "0.9999897508033253", "0.999998874797402",
)
_BOOT_K1, _BOOT_K2, _BOOT_C, _BOOT_M = 2654435761, 40503, 12345, 4294967296


def _pois_case_sql(u: str) -> str:
    branches = "\n".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE {len(_POIS_CDF)} END"


@REG.add(
    "sample_poisson_bootstrap",
    # r12 (sf_ties): the replicate mean is INTEGER-EXACT — weighted sums
    # in CENTS (order-invariant integer accumulation on both engines)
    # followed by ONE IEEE division, so every m is bit-identical and the
    # order statistics select identical doubles. The old double-sum form
    # carried accumulation-order noise ~1e-6 at the fixture's ~2.5e5
    # mean magnitude — exactly the 6-dp rounding grain, so ci_lo's last
    # digit flipped between engine RUNS (caught by the sf_ties sweep;
    # within-session it was stable, which is why eleven rounds of
    # sweeps never saw it). boot_mean still averages 64 doubles (order
    # noise ~2e-7), so it rounds at 4 dp, comfortably above the noise.
    oracle=f"""
    WITH reps AS (
        SELECT o.o_orderstatus AS status, b.b,
               CAST(sum(w * o.cents) AS DOUBLE)
                   / (100.0 * nullif(sum(w), 0)) AS m
        FROM (SELECT o_orderkey, o_orderstatus,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders WHERE o_totalprice IS NOT NULL) o,
             (SELECT unnest(range(0, {BOOT_B})) AS b) b,
             LATERAL (
                SELECT {_pois_case_sql(
                    f"CAST((o.o_orderkey * {_BOOT_K1} + b.b * {_BOOT_K2} + {_BOOT_C}) "
                    f"% {_BOOT_M} AS DOUBLE) / {_BOOT_M}")} AS w
             ) p
        GROUP BY 1, 2
    )
    SELECT status,
           round(avg(m), 4) AS boot_mean,
           round(list_sort(list(m))[2], 6)  AS ci_lo,
           round(list_sort(list(m))[63], 6) AS ci_hi,
           CAST(count(*) AS BIGINT) AS n_replicates
    FROM reps GROUP BY status ORDER BY status
    """,
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass Poisson bootstrap of the per-group mean with a 95% CI —
    the large-scale bootstrap (Chamandy et al., "Estimating Uncertainty
    for Massive Data Streams", Google 2012): instead of resampling the
    corpus B times (impossible at 100 TB), each row draws B independent
    Poisson(1) replicate weights, so ONE scan + one partial-aggregated
    shuffle of B rows per group yields all replicate means. The weights
    are a deterministic Knuth-hash inverse-CDF draw, so both engines
    produce identical integers; the CI bounds are explicit order
    statistics of the 64 replicate means (list_sort[k] in both engines
    — no percentile-convention mismatch). Each replicate mean is
    integer-exact: weighted sums in CENTS (longs — order-invariant),
    one double division at the end, so m is bit-identical across
    engines AND across Spark partitionings (see the oracle comment for
    the noise class this closed). Unpriced orders contribute no
    observation and no weight. At 100 TB the cents sum can exceed
    int64 (~9e18): move the accumulator to decimal(38,0) there; the
    shape is unchanged."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    # Overflow-proof LCG in pure LONG arithmetic: o_orderkey * K1
    # overflows BIGINT once keys pass ~3.5e9 (ANSI raises; legacy mode
    # would silently wrap — worse), and a DECIMAL rewrite measured 16x
    # slower on this 64-replicate hot path. Since M = 2^32, reduce the
    # key first (bitwise AND), then split K1 into 16-bit limbs so every
    # partial product stays under 2^48: exactly (key * K1) mod 2^32 for
    # ANY key width, bit-identical at fixture scale to the plain product
    # the oracle computes.
    _mask = F.lit(_BOOT_M - 1)
    _k1_hi, _k1_lo = _BOOT_K1 >> 16, _BOOT_K1 & 0xFFFF
    x = F.col("o_orderkey").bitwiseAND(_mask)
    prod_mod = (
        (x * _k1_lo).bitwiseAND(_mask)
        + ((x * _k1_hi).bitwiseAND(_mask) * 65536).bitwiseAND(_mask)
    )
    u = (
        (prod_mod + F.col("b") * _BOOT_K2 + _BOOT_C) % _BOOT_M
    ).cast("double") / _BOOT_M
    w = F.lit(len(_POIS_CDF))
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(u < float(_POIS_CDF[k]), k).otherwise(w)
    reps = (
        o.select("*", F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"))
        .select("o_orderstatus", "b", w.alias("w"), "cents")
        .groupBy(F.col("o_orderstatus").alias("status"), "b")
        .agg(
            (
                F.sum(F.col("w") * F.col("cents"))
                / (F.lit(100.0) * F.nullif(F.sum("w"), F.lit(0)))
            ).alias("m")
        )
    )
    # collect_list DROPS NULL elements but DuckDB's list() KEEPS them —
    # and a replicate whose every weight drew 0 (a near-certainty for
    # single-row groups, p = 0.37^n) has m = 0/0 = NULL. Collect structs
    # (never NULL even when the field is) and extract, so both engines
    # index the same 64-slot NULLS-FIRST-sorted array: the CI of a
    # degenerate group degrades to NULL identically instead of an
    # INVALID_ARRAY_INDEX on a shrunken array.
    ms = F.sort_array(F.collect_list(F.struct(F.col("m")))).getField("m")
    return (
        reps.groupBy("status")
        .agg(
            F.round(F.avg("m"), 4).alias("boot_mean"),
            F.round(ms[1], 6).alias("ci_lo"),
            F.round(ms[62], 6).alias("ci_hi"),
            F.count(F.lit(1)).cast("long").alias("n_replicates"),
        )
        .orderBy("status")
    )


L_DIVERSITY_MIN = 3


@REG.add(
    "privacy_l_diversity_audit",
    oracle=f"""
    WITH cells AS (
        SELECT c_nationkey, c_mktsegment,
               count(*) AS cell_n,
               count(DISTINCT CAST(c_acctbal < 0 AS INTEGER)
                     * 2 + CAST(c_acctbal >= 5000 AS INTEGER)) AS l_distinct
        FROM customer GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(min(l_distinct) AS BIGINT) AS min_l,
           CAST(sum(CASE WHEN l_distinct < {L_DIVERSITY_MIN} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low_diversity_cells,
           CAST(sum(CASE WHEN l_distinct < {L_DIVERSITY_MIN} THEN cell_n ELSE 0 END)
                AS BIGINT) AS n_rows_at_risk,
           round(sum(CASE WHEN l_distinct < {L_DIVERSITY_MIN} THEN cell_n ELSE 0 END)
                 * 1.0 / sum(cell_n), 6) AS risk_fraction
    FROM cells
    """,
)
def privacy_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the k-anonymity complement: a cell can hold
    >= k individuals yet still leak if they all share the same SENSITIVE
    value (here a 3-band account-balance class as the sensitive
    attribute). Counts, per quasi-identifier cell (nation x segment),
    the distinct sensitive classes; cells below l leak by homogeneity.
    Same cost shape as ``privacy_k_anonymity_audit``: one mergeable
    count-distinct aggregate over the cell key (tiny distinct domain —
    3 classes — so the expand is bounded), then an O(cells) rollup."""
    c = load_table(spark, sf_dir, "customer")
    sensitive = (F.col("c_acctbal") < 0).cast("int") * 2 + (
        F.col("c_acctbal") >= 5000
    ).cast("int")
    cells = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("cell_n"),
        F.countDistinct(sensitive).alias("l_distinct"),
    )
    low = F.col("l_distinct") < L_DIVERSITY_MIN
    return cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.min("l_distinct").cast("long").alias("min_l"),
        F.sum(low.cast("int")).cast("long").alias("n_low_diversity_cells"),
        F.sum(F.when(low, F.col("cell_n")).otherwise(0)).cast("long").alias(
            "n_rows_at_risk"
        ),
        F.round(
            F.sum(F.when(low, F.col("cell_n")).otherwise(0)) / F.sum("cell_n"), 6
        ).alias("risk_fraction"),
    )


@REG.add(
    "feat_woe_encoding",
    # WOE from smoothed INTEGER counts: ln(((pos+0.5)/P) / ((neg+0.5)/N))
    # — both engines take ln of the same double (one division of
    # half-integer products), so no accumulated-float hazard. IV is the
    # standard sum((pos_share - neg_share) * woe) over categories.
    oracle="""
    WITH lab AS (
        SELECT c.c_mktsegment AS category,
               CAST(o.o_orderpriority = '1-URGENT' AS INTEGER) AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    cat AS (
        SELECT category, sum(y) AS pos, count(*) - sum(y) AS neg
        FROM lab GROUP BY category
    ),
    tot AS (SELECT sum(pos) AS p_tot, sum(neg) AS n_tot FROM cat)
    SELECT category,
           CAST(pos AS BIGINT) AS n_pos,
           CAST(neg AS BIGINT) AS n_neg,
           round(ln(((pos + 0.5) / p_tot) / ((neg + 0.5) / n_tot)), 6) AS woe,
           round(((pos + 0.5) / p_tot - (neg + 0.5) / n_tot)
                 * ln(((pos + 0.5) / p_tot) / ((neg + 0.5) / n_tot)), 9) AS iv_term
    FROM cat, tot
    ORDER BY category
    """,
)
def feat_woe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence target encoding per category (market segment
    vs the is-urgent label) with the per-category information-value
    term — the credit-scoring-style supervised encoder that, unlike
    ``feat_target_encode_loo``, yields a log-odds scale directly usable
    by linear models. 0.5 Laplace smoothing keeps empty classes finite.
    One mergeable count aggregate on the category key; totals ride as a
    1-row broadcast scalar; everything else is per-category arithmetic
    on integers."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    lab = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("category"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("y"),
    )
    cat = lab.groupBy("category").agg(
        F.sum("y").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
    )
    tot = cat.agg(F.sum("pos").alias("p_tot"), F.sum("neg").alias("n_tot"))
    pos_share = (F.col("pos") + 0.5) / F.col("p_tot")
    neg_share = (F.col("neg") + 0.5) / F.col("n_tot")
    woe = F.log(pos_share / neg_share)
    return (
        cat.crossJoin(F.broadcast(tot))  # 1-row scalar
        .select(
            "category",
            F.col("pos").cast("long").alias("n_pos"),
            F.col("neg").cast("long").alias("n_neg"),
            F.round(woe, 6).alias("woe"),
            F.round((pos_share - neg_share) * woe, 9).alias("iv_term"),
        )
        .orderBy("category")
    )


@REG.add(
    "ts_changepoint_cusum",
    # The CUSUM statistic is computed INTEGER-EXACT: with S_t the running
    # sum of hourly counts and T the series total over n hours,
    # n*(S_t - t*mean) = n*S_t - t*T needs no float fold at all — the
    # agg_pareto_concentration lesson (running doubles put boundary
    # compares on an ulp coin-flip between engines) applied upfront.
    oracle=f"""
    WITH hourly AS (
        SELECT event_type,
               time_bucket(INTERVAL '1 hour', ts) AS h,
               count(*) AS x
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, h, x,
               sum(x) OVER (PARTITION BY event_type ORDER BY h) AS s,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS t,
               sum(x) OVER (PARTITION BY event_type) AS total,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM hourly
    ),
    scored AS (
        SELECT event_type,
               strftime(h, '{HOUR_FMT_DUCK}') AS cp_hour,
               abs(n * s - t * total) AS c_abs, n,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY abs(n * s - t * total) DESC, h) AS rk
        FROM cum
    )
    SELECT event_type, cp_hour,
           CAST(c_abs AS BIGINT) AS cusum_scaled,
           round(c_abs * 1.0 / n, 4) AS cusum_peak,
           CAST(n AS BIGINT) AS n_hours
    FROM scored WHERE rk = 1 ORDER BY event_type
    """,
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type over the hourly count
    series: the hour where the cumulative deviation from the series
    mean peaks — the standard level-shift locator for monitoring
    pipeline volumes (a tokenizer change, a crawler outage). Plan: one
    hourly pre-aggregate (mergeable counts), then partition-local
    windows per event type — no second shuffle, since running sum, row
    number, and the partition totals share one window key. The argmax
    tie-breaks on the earlier hour. NULL-ts events belong to no hour
    (family seven): an un-timestamped row would otherwise form a NULL
    bucket that each engine sorts to a different end of the series,
    shifting every row_number t."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("x"))
    wo = Window.partitionBy("event_type").orderBy("h")
    wp = Window.partitionBy("event_type")
    cum = hourly.select(
        "event_type",
        "h",
        F.sum("x").over(wo).alias("s"),
        F.row_number().over(wo).alias("t"),
        F.sum("x").over(wp).alias("total"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    c_abs = F.abs(F.col("n") * F.col("s") - F.col("t") * F.col("total"))
    scored = cum.select(
        "event_type",
        F.date_format("h", HOUR_FMT_SPARK).alias("cp_hour"),
        c_abs.alias("c_abs"),
        "n",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy(c_abs.desc(), "h"))
        .alias("rk"),
    )
    return (
        scored.filter(F.col("rk") == 1)
        .select(
            "event_type",
            "cp_hour",
            F.col("c_abs").cast("long").alias("cusum_scaled"),
            F.round(F.col("c_abs") / F.col("n"), 4).alias("cusum_peak"),
            F.col("n").cast("long").alias("n_hours"),
        )
        .orderBy("event_type")
    )


#: Deterministic null-injection rate for the imputation demo: rows whose
#: Knuth-mixed event_id lands in bucket 0 of 10 lose their value.
_IMP_KNUTH, _IMP_MOD = 2654435761, 4294967296


@REG.add(
    "feat_impute_missing",
    # The non-hole branch rides the finite gate (functions/finite.py):
    # a NaN/Inf reading IS a missing value — imputation's entire
    # purpose — so it joins the NULL bucket and gets the group median
    # (also the only cross-engine-stable choice: Spark's percentile
    # sorts NaN greatest while DuckDB's quantile_cont rejects it; r10
    # sf_nan probe caught the divergence on imputed_median).
    oracle=f"""
    WITH holed AS (
        SELECT event_type,
               CASE WHEN (event_id * {_IMP_KNUTH}) % {_IMP_MOD} % 10 = 0
                    THEN NULL ELSE {sql_finite("value")} END AS value
        FROM events
    ),
    med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS grp_median
        FROM holed WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT h.event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN h.value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_imputed,
           round(max(m.grp_median), 6) AS imputed_median,
           round(avg(h.value), 6) AS mean_before,
           round(avg(COALESCE(h.value, m.grp_median)), 6) AS mean_after
    FROM holed h JOIN med m ON h.event_type = m.event_type
    GROUP BY h.event_type ORDER BY h.event_type
    """,
)
def feat_impute_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-median imputation with a missingness indicator — the
    feature-table repair step before training (models don't take NULL;
    dropping rows biases the sample). Nulls are injected by a
    deterministic hash rule (the fixture ships complete, and a seeded
    hole pattern keeps both engines bit-aligned — same device as
    ``text_pii_redact``), then each group's exact median broadcast-joins
    back (one aggregate + a map-side join: the same two-pass economics
    as ``feat_target_encode_loo``; at 100 TB swap the exact median for
    ``percentile_approx``). mean_before (null-skipping) vs mean_after
    (imputed) quantifies the imputation's pull toward the median."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    # finite(): a corrupt reading is a missing value here — see the
    # oracle comment.
    holed = ev.select(
        "event_type",
        F.when(
            (F.col("event_id") * _IMP_KNUTH) % _IMP_MOD % 10 == 0, F.lit(None)
        )
        .otherwise(finite("value"))
        .alias("value"),
    )
    med = (
        holed.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(F.expr("percentile(value, 0.5)").alias("grp_median"))
    )
    return (
        holed.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("value").isNull().cast("int")).cast("long").alias("n_imputed"),
            F.round(F.max("grp_median"), 6).alias("imputed_median"),
            F.round(F.avg("value"), 6).alias("mean_before"),
            F.round(F.avg(F.coalesce("value", "grp_median")), 6).alias("mean_after"),
        )
        .orderBy("event_type")
    )


@REG.add(
    "ts_seasonal_naive_error",
    # Split point: the last 7 calendar days of the series are the
    # holdout; the seasonal profile (avg hourly count by hour-of-day)
    # trains on everything before. Counts are integers, so profile
    # means are single divisions — identical doubles in both engines.
    oracle="""
    WITH hourly AS (
        SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h, count(*) AS x
        FROM events GROUP BY 1, 2
    ),
    split AS (SELECT max(h) - INTERVAL 7 DAY AS cut FROM hourly),
    profile AS (
        SELECT event_type, extract(hour FROM h) AS hod,
               sum(x) AS sx, count(*) AS nx
        FROM hourly, split WHERE h < cut GROUP BY 1, 2
    )
    SELECT t.event_type,
           CAST(count(*) AS BIGINT) AS n_holdout_hours,
           round(avg(abs(t.x - p.sx * 1.0 / p.nx)), 6) AS mae,
           round(max(abs(t.x - p.sx * 1.0 / p.nx)), 6) AS max_abs_err
    FROM hourly t
    JOIN split s ON t.h >= s.cut
    JOIN profile p ON p.event_type = t.event_type
                  AND p.hod = extract(hour FROM t.h)
    GROUP BY t.event_type ORDER BY t.event_type
    """,
)
def ts_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each holdout hour's
    event volume with the training-window mean for that HOUR-OF-DAY and
    report MAE — the baseline every real forecaster must beat, and the
    cheapest volume-anomaly yardstick for pipeline monitoring. Plan:
    one hourly pre-aggregate, a 1-row split scalar, a 24-row-per-type
    profile broadcast back onto the holdout — no second wide shuffle.
    The error terms divide integer sums, so both engines fold identical
    doubles."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("x"))
    split = hourly.agg(
        (F.max("h") - F.expr("INTERVAL 7 DAY")).alias("cut")
    )
    train = hourly.crossJoin(F.broadcast(split)).filter(F.col("h") < F.col("cut"))
    profile = train.groupBy(
        "event_type", F.hour("h").alias("hod")
    ).agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("nx"))
    holdout = hourly.crossJoin(F.broadcast(split)).filter(F.col("h") >= F.col("cut"))
    pred = F.col("sx") * 1.0 / F.col("nx")
    return (
        holdout.withColumn("hod", F.hour("h"))
        .join(F.broadcast(profile), ["event_type", "hod"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_holdout_hours"),
            F.round(F.avg(F.abs(F.col("x") - pred)), 6).alias("mae"),
            F.round(F.max(F.abs(F.col("x") - pred)), 6).alias("max_abs_err"),
        )
        .orderBy("event_type")
    )


@REG.add(
    "agg_markov_transitions",
    # Transition probabilities are single divisions of two exact integer
    # counts — identical doubles in both engines. Sequence order is
    # pinned by (ts, event_id): ts alone has duplicates and an ambiguous
    # lag would flip pair counts between runs.
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events WHERE ts IS NOT NULL
    ),
    pairs AS (
        SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY prev_type), 6) AS p
    FROM pairs ORDER BY prev_type, next_type
    """,
)
def agg_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the behavioral fingerprint behind next-action
    prediction, bot detection (degenerate self-loops), and session
    simulation; over token streams the identical plan is a bigram LM.
    ONE window pass (lag over the user key) feeds a mergeable pair
    count; row-normalization is a window total over the states^2-sized
    count table, so corpus rows shuffle once on the user key. NULL-ts
    events have no sequence position (family seven): unfiltered, each
    engine would order them to a different end of the user's sequence
    and count different transition pairs."""
    from pyspark.sql import Window as W

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", "event_type")
    )
    seq = ev.select(
        "event_type",
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    )
    pairs = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return pairs.select(
        "prev_type",
        "next_type",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("n") * 1.0 / F.sum("n").over(W.partitionBy("prev_type")), 6
        ).alias("p"),
    ).orderBy("prev_type", "next_type")


@REG.add(
    "text_zipf_fit",
    # Least-squares in log-log space from FIVE corpus sums — closed
    # form, no iteration; fold-order ulp noise in the sums sits ~7
    # orders below the 6dp rounding at these magnitudes.
    oracle="""
    WITH vocab AS (
        SELECT t AS w, count(*) AS c
        FROM documents,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> len(x) > 0)) AS u(t)
        GROUP BY t
    ),
    ranked AS (
        SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, w) AS DOUBLE)) AS x,
               ln(CAST(c AS DOUBLE)) AS y
        FROM vocab
    ),
    s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS vocab_size,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           round((sy - sx * (n * sxy - sx * sy) / (n * sxx - sx * sx)) / n, 6)
               AS intercept,
           round(pow(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus rank-frequency curve: least-squares
    slope of ln(count) on ln(rank) (natural text ~ -1; the r2 and slope
    together are a cheap synthetic-vs-natural / boilerplate-heavy
    screen for crawled training data). One word-count shuffle, one
    global rank sort over the VOCABULARY (not the corpus), then a
    5-sum reduce and closed-form algebra — no iteration, no driver
    loop. The global window rank is safe here because vocabulary, not
    corpus, is the sorted domain; at web scale rank the top-K vocab
    slice instead (the fit only needs the head)."""
    from pyspark.sql import Window as W

    vocab = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), r"\s+"),
                    lambda t: F.length(t) > 0,
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = vocab.select(
        F.log(
            F.row_number()
            .over(W.orderBy(F.col("c").desc(), "w"))
            .cast("double")
        ).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.nullif(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
    )
    return s.select(
        F.col("n").cast("long").alias("vocab_size"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - F.col("sx") * slope) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round(
            F.pow(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"), 2)
            / F.nullif(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")),
                F.lit(0.0),
            ),
            6,
        ).alias("r2"),
    )


@REG.add(
    "quality_parquet_stats_audit",
    # The footer-derived numbers must equal the scan-derived ones — the
    # oracle recomputes them relationally, so a lying footer (the thing
    # that silently corrupts min/max pruning) fails the hash compare.
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(l_orderkey) AS BIGINT) AS min_orderkey,
           CAST(max(l_orderkey) AS BIGINT) AS max_orderkey,
           CAST(count(*) - count(l_returnflag) AS BIGINT) AS n_null_returnflag
    FROM lineitem
    """,
)
def quality_parquet_stats_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet FOOTER-stats integrity audit: row counts, key min/max and
    null counts read from row-group metadata alone (pyarrow, footer
    bytes only — no data pages touched) and pinned against the
    relational recompute. Row-group pruning and metadata-only COUNT(*)
    optimizations are only as safe as these stats; a writer bug or a
    hand-edited file shows up here before a pruned query silently drops
    rows. Driver cost is O(row groups), not O(rows) — this audits a
    100 TB table by reading kilobytes per file."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(f"{sf_dir}/lineitem.parquet").metadata
    schema_names = md.schema.to_arrow_schema().names
    key_idx = schema_names.index("l_orderkey")
    flag_idx = schema_names.index("l_returnflag")
    n_rows, kmin, kmax, nulls = 0, None, None, 0
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        if g.num_rows == 0:
            # A zero-row group (e.g. an empty table's single group)
            # carries no statistics object at all — nothing to audit,
            # and min/max stay NULL exactly like the oracle's
            # min()/max() over zero rows.
            continue
        n_rows += g.num_rows
        ks = g.column(key_idx).statistics
        if ks is None:
            # Data without footer stats: the audit CANNOT vouch for
            # pruning safety — that is a finding, not a crash path.
            raise ValueError(
                f"row group {rg} has rows but no l_orderkey statistics; "
                "footer-based pruning over this file is unsafe"
            )
        kmin = ks.min if kmin is None else min(kmin, ks.min)
        kmax = ks.max if kmax is None else max(kmax, ks.max)
        fs = g.column(flag_idx).statistics
        if fs is None or not fs.has_null_count:
            # Same finding as the key column: a row group whose footer
            # carries no l_returnflag stats (or stats without a null
            # count) can't vouch for IS [NOT] NULL pruning — raise the
            # diagnostic instead of dying on NoneType attribute access
            # (r8 ADVICE: key stats were guarded, flag stats were not).
            raise ValueError(
                f"row group {rg} has rows but no l_returnflag null-count "
                "statistics; footer-based null pruning over this file is "
                "unsafe"
            )
        nulls += fs.null_count
    return spark.createDataFrame(
        [
            (
                n_rows,
                None if kmin is None else int(kmin),
                None if kmax is None else int(kmax),
                nulls,
            )
        ],
        "n_rows long, min_orderkey long, max_orderkey long, n_null_returnflag long",
    )


@REG.add(
    "ml_logreg_gd",
    # Recursive-CTE replay of the identical descent: one reference to
    # the recursive table (the cross join carrying w into the scan);
    # per-feature mean gradients rounded to 9dp per step, so both
    # engines walk the same weight trajectory (see operators/logreg.py).
    oracle=f"""
    WITH RECURSIVE
    data AS (
        SELECT [CAST(1.0 AS DOUBLE),
                o_totalprice / 500000.0,
                (year(o_orderdate) - 1995) / 4.0] AS x,
               CAST(o_orderpriority = '1-URGENT' AS INTEGER) AS y
        FROM orders
    ),
    gd AS (
        SELECT 0 AS it, [CAST(0.0 AS DOUBLE), 0.0, 0.0] AS w
        UNION ALL
        SELECT it + 1,
               [w[1] - 2.0 * g[1],
                w[2] - 2.0 * g[2],
                w[3] - 2.0 * g[3]] AS w
        FROM (
            SELECT it, any_value(w) AS w, list(gj ORDER BY j) AS g
            FROM (
                SELECT p.it, p.w, j.j,
                       round(avg(
                           (1.0 / (1.0 + exp(-(p.w[1] * d.x[1]
                                               + p.w[2] * d.x[2]
                                               + p.w[3] * d.x[3])))
                            - d.y) * d.x[j.j]), 9) AS gj
                FROM gd p, data d, generate_series(1, 3) j(j)
                GROUP BY p.it, p.w, j.j
            )
            GROUP BY it
        )
        WHERE it < 25
    )
    SELECT j.j AS feature_idx, round(w[j.j], 6) AS weight
    FROM gd, generate_series(1, 3) j(j)
    WHERE it = 25
    ORDER BY feature_idx
    """,
)
def ml_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression trained INSIDE the engine
    (``operators/logreg.py``): is-urgent as a function of price and
    order year, 25 full-batch gradient steps, each ONE mergeable
    aggregate over the corpus with the d-double update on the driver —
    the iterative-ML cost shape that works at 100 TB (MLlib-free; the
    sigmoid is a codegen expression). Features are scaled to O(1) so
    the fixed learning rate is sane; the feature frame is checkpointed
    once so 25 iterations don't re-derive it."""
    from projetos_etl_spark.operators.logreg import logreg_gd

    o = load_table(spark, sf_dir, "orders")
    feats = o.select(
        F.lit(1.0).alias("x0"),
        (F.col("o_totalprice") / 500000.0).alias("x1"),
        ((F.year("o_orderdate") - 1995) / 4.0).alias("x2"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("y"),
    ).localCheckpoint(eager=True)
    w = logreg_gd(feats, ["x0", "x1", "x2"], "y")
    rows = [] if w is None else [(j + 1, round(w[j], 6)) for j in range(3)]
    return rows_df(
        spark, rows, "feature_idx int, weight double"
    ).orderBy("feature_idx")


@REG.add(
    "quality_chisq_categorical_drift",
    # Pearson chi-squared between the first and second half of the
    # event stream (split at the median timestamp = an integer-exact
    # count split) over the event_type distribution. The statistic is
    # a short sum of (o-e)^2/e terms from integer counts — identical
    # doubles in both engines at 6dp.
    oracle="""
    WITH split AS (
        SELECT quantile_disc(ts, 0.5) AS cut FROM events
    ),
    counts AS (
        SELECT event_type,
               sum(CASE WHEN ts <= cut THEN 1 ELSE 0 END) AS a,
               sum(CASE WHEN ts > cut THEN 1 ELSE 0 END) AS b
        FROM events, split GROUP BY event_type
    ),
    tot AS (
        SELECT sum(a) AS na, sum(b) AS nb FROM counts
    )
    SELECT CAST(count(*) AS BIGINT) AS n_categories,
           CAST(max(na) AS BIGINT) AS n_first_half,
           CAST(max(nb) AS BIGINT) AS n_second_half,
           round(sum(
               pow(a - (a + b) * na * 1.0 / (na + nb), 2)
                   / ((a + b) * na * 1.0 / (na + nb))
               + pow(b - (a + b) * nb * 1.0 / (na + nb), 2)
                   / ((a + b) * nb * 1.0 / (na + nb))
           ), 6) AS chi_squared
    FROM counts, tot
    """,
)
def quality_chisq_categorical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared homogeneity test between the first and
    second half of the event stream over the event-type distribution —
    the CATEGORICAL drift detector beside the continuous pair
    (``quality_ks_two_sample`` exact ECDF gap, ``quality_psi_drift``
    binned PSI): a shifted event mix (new bot traffic, a dropped
    client version) moves this statistic even when every numeric
    column looks stable. One aggregate over the split counts (the
    split point is the DISCRETE median timestamp — an actual data
    value, engine-identical), one tiny rollup; at 100 TB both halves
    come from the same single scan."""
    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg(
        F.expr("percentile_approx(unix_micros(ts), 0.5, 2147483647)").alias("cut_us")
    )
    counts = (
        ev.crossJoin(F.broadcast(cut))  # 1-row scalar
        .groupBy("event_type")
        .agg(
            F.sum((F.unix_micros("ts") <= F.col("cut_us")).cast("int")).alias("a"),
            F.sum((F.unix_micros("ts") > F.col("cut_us")).cast("int")).alias("b"),
        )
    )
    tot = counts.agg(F.sum("a").alias("na"), F.sum("b").alias("nb"))
    ea = (F.col("a") + F.col("b")) * F.col("na") * 1.0 / (F.col("na") + F.col("nb"))
    eb = (F.col("a") + F.col("b")) * F.col("nb") * 1.0 / (F.col("na") + F.col("nb"))
    # try_divide: a zero expected count (one half of the split empty —
    # a single-row stream puts its median row wholly in half A) NULLs
    # that category's contribution, and NULL + x NULLs the row — the
    # exact x/0 -> NULL fold DuckDB applies to the same formula, so
    # chi_squared degrades to NULL identically instead of an ANSI
    # DIVIDE_BY_ZERO killing the audit.
    return counts.crossJoin(F.broadcast(tot)).agg(
        F.count(F.lit(1)).cast("long").alias("n_categories"),
        F.max("na").cast("long").alias("n_first_half"),
        F.max("nb").cast("long").alias("n_second_half"),
        F.round(
            F.sum(
                F.try_divide(F.pow(F.col("a") - ea, 2), ea)
                + F.try_divide(F.pow(F.col("b") - eb, 2), eb)
            ),
            6,
        ).alias("chi_squared"),
    )


@REG.add(
    "ts_run_length_encode",
    # The above-mean flag compares n*x > total (integer-exact, the
    # CUSUM discipline); runs come from the gaps-and-islands id
    # (row_number minus per-flag row_number), all integers.
    oracle="""
    WITH hourly AS (
        SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
               count(*) AS x
        FROM events GROUP BY 1, 2
    ),
    flagged AS (
        SELECT event_type, h, x,
               CASE WHEN x * count(*) OVER (PARTITION BY event_type)
                         > sum(x) OVER (PARTITION BY event_type)
                    THEN 1 ELSE 0 END AS hot
        FROM hourly
    ),
    runs AS (
        SELECT event_type, hot,
               row_number() OVER (PARTITION BY event_type ORDER BY h)
               - row_number() OVER (PARTITION BY event_type, hot ORDER BY h)
                   AS grp
        FROM flagged
    ),
    lens AS (
        SELECT event_type, hot, grp, count(*) AS len
        FROM runs GROUP BY 1, 2, 3
    )
    SELECT event_type,
           CAST(sum(CASE WHEN hot = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hot_runs,
           CAST(max(CASE WHEN hot = 1 THEN len ELSE 0 END) AS BIGINT)
               AS longest_hot_run,
           CAST(max(CASE WHEN hot = 0 THEN len ELSE 0 END) AS BIGINT)
               AS longest_cold_run
    FROM lens GROUP BY event_type ORDER BY event_type
    """,
)
def ts_run_length_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length structure of each event series: number of above-mean
    streaks and the longest hot/cold runs — the burstiness fingerprint
    that separates organic traffic (short runs) from campaigns or
    stuck pipelines (one long run), and the load-shape input for
    capacity planning. Above-mean is the integer-exact compare
    ``x * n > total`` (no float mean), runs are the classic
    gaps-and-islands difference of row numbers — two partition-local
    windows over the hourly pre-aggregate, nothing touches raw rows
    twice."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("x"))
    wp = W.partitionBy("event_type")
    flagged = hourly.select(
        "event_type",
        "h",
        (
            F.col("x") * F.count(F.lit(1)).over(wp) > F.sum("x").over(wp)
        )
        .cast("int")
        .alias("hot"),
    )
    grp = F.row_number().over(W.partitionBy("event_type").orderBy("h")) - F.row_number().over(
        W.partitionBy("event_type", "hot").orderBy("h")
    )
    lens = (
        flagged.withColumn("grp", grp)
        .groupBy("event_type", "hot", "grp")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    return (
        lens.groupBy("event_type")
        .agg(
            F.sum((F.col("hot") == 1).cast("int")).cast("long").alias("n_hot_runs"),
            F.max(F.when(F.col("hot") == 1, F.col("len")).otherwise(0))
            .cast("long")
            .alias("longest_hot_run"),
            F.max(F.when(F.col("hot") == 0, F.col("len")).otherwise(0))
            .cast("long")
            .alias("longest_cold_run"),
        )
        .orderBy("event_type")
    )


DP_EPS = 0.5
_DP_K1, _DP_C, _DP_M = 2654435761, 98765, 4294967296


@REG.add(
    "privacy_noisy_count_laplace",
    # The draw is a deterministic hash-uniform per group (seeded by the
    # group's min key) pushed through the Laplace inverse CDF —
    # identical doubles in both engines, so the MECHANISM is
    # hash-verifiable even though a production deployment would use a
    # real RNG (see docstring).
    oracle=f"""
    WITH g AS (
        SELECT c_mktsegment AS segment,
               count(*) AS n, min(c_custkey) AS seed_key
        FROM customer GROUP BY c_mktsegment
    ),
    noise AS (
        SELECT segment, n,
               CAST(((seed_key + 1) * {_DP_K1} + {_DP_C}) % {_DP_M} AS DOUBLE)
                   / {_DP_M} AS u
        FROM g
    )
    SELECT segment,
           round(n + (CASE WHEN u < 0.5 THEN 1.0 ELSE -1.0 END)
                     * (1.0 / {DP_EPS}) * ln(1.0 - 2.0 * abs(u - 0.5)), 4)
               AS noisy_count,
           {DP_EPS} AS epsilon
    FROM noise ORDER BY segment
    """,
)
def privacy_noisy_count_laplace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism noisy counts per segment (sensitivity 1,
    epsilon={0.5}) — the differential-privacy release shape for
    publishable aggregates, third member of the privacy family beside
    the k-anonymity and l-diversity audits. The noise draw here is a
    DETERMINISTIC hash-uniform (seeded by the group's min key) through
    the Laplace inverse CDF so the mechanism itself is oracle-
    verifiable; a production release swaps in a real RNG — determinism
    is a TEST property, secrecy of the draw is the deployment
    property. Cost: one count aggregate; the noise is O(groups) scalar
    math."""
    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n"), F.min("c_custkey").alias("seed_key")
    )
    u = (
        ((F.col("seed_key") + 1) * _DP_K1 + _DP_C) % _DP_M
    ).cast("double") / _DP_M
    lap = (
        F.when(u < 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * (1.0 / DP_EPS)
        * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    )
    return g.select(
        "segment",
        F.round(F.col("n") + lap, 4).alias("noisy_count"),
        F.lit(DP_EPS).alias("epsilon"),
    ).orderBy("segment")


@REG.add(
    "ml_decision_stump",
    # Every quantity on the compared path is derived from INTEGER counts
    # (cents-bucketed feature, running sums over the sorted candidate
    # grid), and the split score (pos^2+neg^2)/n per side is a fixed
    # 2-term expression of those integers — the same IEEE ops in the
    # same order in both engines, so the argmax candidate is bitwise
    # identical (no rounding needed to pick the winner).
    # r12 (sf_nulls holing o_totalprice): an unpriced order has no
    # position on the threshold grid — excluded on both sides (the
    # declared-domain drop; unfiltered, the NULL cents group sorted to
    # opposite ends of each engine's cumulative window and every
    # running count shifted by one).
    oracle="""
    WITH pts AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               CAST(o_orderpriority = '1-URGENT' AS INTEGER) AS y
        FROM orders
        WHERE o_totalprice IS NOT NULL
    ),
    cand AS (
        SELECT cents, count(*) AS n, sum(y) AS pos FROM pts GROUP BY cents
    ),
    run AS (
        SELECT cents,
               sum(n) OVER (ORDER BY cents) AS n_l,
               sum(pos) OVER (ORDER BY cents) AS pos_l,
               sum(n) OVER () AS n_tot,
               sum(pos) OVER () AS pos_tot
        FROM cand
    ),
    scored AS (
        SELECT cents, n_l, pos_l,
               n_tot - n_l AS n_r, pos_tot - pos_l AS pos_r,
               (pos_l * pos_l + (n_l - pos_l) * (n_l - pos_l))
                   / CAST(n_l AS DOUBLE)
               + ((pos_tot - pos_l) * (pos_tot - pos_l)
                  + ((n_tot - n_l) - (pos_tot - pos_l))
                    * ((n_tot - n_l) - (pos_tot - pos_l)))
                   / CAST(n_tot - n_l AS DOUBLE) AS score
        FROM run WHERE n_tot - n_l > 0
    )
    SELECT round(cents / 100.0, 2) AS threshold,
           CAST(n_l AS BIGINT) AS n_left,
           CAST(n_r AS BIGINT) AS n_right,
           CAST(pos_l AS BIGINT) AS pos_left,
           CAST(pos_r AS BIGINT) AS pos_right,
           round(score, 9) AS purity_score
    FROM scored
    ORDER BY score DESC, cents
    LIMIT 1
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a one-split decision stump in-engine: the best threshold on
    ``o_totalprice`` for the is-urgent label by weighted Gini impurity
    (equivalently, maximizing sum_side (pos^2+neg^2)/n). The classic
    O(n log n) sweep: bucket the feature to exact cents, one shuffle to
    the candidate grid, one ordered cumulative sum, then a scan of the
    candidates. The candidate grid is bounded by the distinct bucketed
    values (not row count), so the ordered window is over a small frame
    at any scale; at 100 TB coarsen the bucket (dollars) to cap the
    grid. Tie-break: lowest threshold. Unpriced orders (NULL
    o_totalprice) are excluded — no feature value, no grid position."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("y"),
        )
    )
    cand = o.groupBy("cents").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    tot = cand.agg(F.sum("n").alias("n_tot"), F.sum("pos").alias("pos_tot"))
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    run = (
        cand.withColumn("n_l", F.sum("n").over(w))
        .withColumn("pos_l", F.sum("pos").over(w))
        .crossJoin(F.broadcast(tot))  # 1-row scalar
    )
    n_l, pos_l = F.col("n_l"), F.col("pos_l")
    n_r = F.col("n_tot") - n_l
    pos_r = F.col("pos_tot") - pos_l
    neg_l, neg_r = n_l - pos_l, n_r - pos_r
    score = (pos_l * pos_l + neg_l * neg_l) / n_l.cast("double") + (
        pos_r * pos_r + neg_r * neg_r
    ) / n_r.cast("double")
    return (
        run.filter(n_r > 0)
        .select(
            F.round(F.col("cents") / 100.0, 2).alias("threshold"),
            n_l.cast("long").alias("n_left"),
            n_r.cast("long").alias("n_right"),
            pos_l.cast("long").alias("pos_left"),
            pos_r.cast("long").alias("pos_right"),
            F.round(score, 9).alias("purity_score"),
            F.col("cents"),
        )
        .orderBy(F.col("purity_score").desc(), F.col("cents"))
        .limit(1)
        .drop("cents")
    )


T_CLOSENESS_MAX = 0.2


@REG.add(
    "privacy_t_closeness_audit",
    # The sensitive-class distribution has a FIXED 3-class domain, so
    # the per-cell total-variation distance is a fixed 3-term sum of
    # |cnt_c/n - g_c/N| written in the same class order in both engines
    # — single divisions of integers, bitwise-identical doubles.
    oracle=f"""
    WITH lab AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(c_acctbal < 0 AS INTEGER) * 2
                   + CAST(c_acctbal >= 5000 AS INTEGER) AS cls
        FROM customer
    ),
    cells AS (
        SELECT c_nationkey, c_mktsegment,
               count(*) AS n,
               sum(CASE WHEN cls = 0 THEN 1 ELSE 0 END) AS c0,
               sum(CASE WHEN cls = 1 THEN 1 ELSE 0 END) AS c1,
               sum(CASE WHEN cls = 2 THEN 1 ELSE 0 END) AS c2
        FROM lab GROUP BY 1, 2
    ),
    totals AS (
        SELECT sum(n) AS nn, sum(c0) AS g0, sum(c1) AS g1, sum(c2) AS g2
        FROM cells
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(n AS BIGINT) AS cell_n,
           round((abs(c0 / CAST(n AS DOUBLE) - g0 / CAST(nn AS DOUBLE))
                  + abs(c1 / CAST(n AS DOUBLE) - g1 / CAST(nn AS DOUBLE))
                  + abs(c2 / CAST(n AS DOUBLE) - g2 / CAST(nn AS DOUBLE)))
                 / 2, 9) AS t_distance,
           CAST((abs(c0 / CAST(n AS DOUBLE) - g0 / CAST(nn AS DOUBLE))
                 + abs(c1 / CAST(n AS DOUBLE) - g1 / CAST(nn AS DOUBLE))
                 + abs(c2 / CAST(n AS DOUBLE) - g2 / CAST(nn AS DOUBLE)))
                / 2 > {T_CLOSENESS_MAX} AS BOOLEAN) AS violates_t
    FROM cells, totals
    ORDER BY c_nationkey, c_mktsegment
    """,
)
def privacy_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third rung of the privacy-audit ladder
    (k-anonymity: cell size; l-diversity: distinct sensitive values;
    t-closeness: the cell's sensitive DISTRIBUTION must stay within t of
    the global one, or membership in the cell itself leaks). For the
    categorical 3-band balance class the Earth-Mover distance reduces to
    total variation = sum |p_cell - p_global| / 2. One mergeable pivot
    aggregate per cell; the global distribution rides as a 1-row
    broadcast scalar."""
    c = load_table(spark, sf_dir, "customer")
    cls = (F.col("c_acctbal") < 0).cast("int") * 2 + (
        F.col("c_acctbal") >= 5000
    ).cast("int")
    cells = c.select("c_nationkey", "c_mktsegment", cls.alias("cls")).groupBy(
        "c_nationkey", "c_mktsegment"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("cls") == 0).cast("int")).alias("c0"),
        F.sum((F.col("cls") == 1).cast("int")).alias("c1"),
        F.sum((F.col("cls") == 2).cast("int")).alias("c2"),
    )
    glob = cells.agg(
        F.sum("n").alias("nn"),
        F.sum("c0").alias("g0"),
        F.sum("c1").alias("g1"),
        F.sum("c2").alias("g2"),
    )
    joined = cells.crossJoin(F.broadcast(glob))  # 1-row scalar
    nd, nnd = F.col("n").cast("double"), F.col("nn").cast("double")
    tvd = (
        F.abs(F.col("c0") / nd - F.col("g0") / nnd)
        + F.abs(F.col("c1") / nd - F.col("g1") / nnd)
        + F.abs(F.col("c2") / nd - F.col("g2") / nnd)
    ) / 2
    return joined.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("n").cast("long").alias("cell_n"),
        F.round(tvd, 9).alias("t_distance"),
        (tvd > T_CLOSENESS_MAX).alias("violates_t"),
    ).orderBy("c_nationkey", "c_mktsegment")


@REG.add(
    "quality_js_divergence",
    # Jensen-Shannon divergence between the event-type mixes of the two
    # stream halves (median-ts split, same discipline as the chi-squared
    # twin). Each term is ln over single integer-ratio divisions; the
    # 5-category sum is rounded at 6dp (chisq precedent: term-order ulp
    # noise is orders of magnitude below the rounding).
    oracle="""
    WITH split AS (
        SELECT quantile_disc(ts, 0.5) AS cut FROM events
    ),
    counts AS (
        SELECT event_type,
               sum(CASE WHEN ts <= cut THEN 1 ELSE 0 END) AS a,
               sum(CASE WHEN ts > cut THEN 1 ELSE 0 END) AS b
        FROM events, split GROUP BY event_type
    ),
    tot AS (SELECT sum(a) AS na, sum(b) AS nb FROM counts)
    SELECT CAST(count(*) AS BIGINT) AS n_categories,
           round(sum(
               CASE WHEN a > 0 THEN (a * 1.0 / na) * ln(
                   (a * 1.0 / na)
                   / ((a * 1.0 / na + b * 1.0 / nb) / 2)) ELSE 0 END
               + CASE WHEN b > 0 THEN (b * 1.0 / nb) * ln(
                   (b * 1.0 / nb)
                   / ((a * 1.0 / na + b * 1.0 / nb) / 2)) ELSE 0 END
           ) / 2, 6) AS js_divergence_nats
    FROM counts, tot
    """,
)
def quality_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the event-type distributions of
    the first and second half of the stream — the bounded, symmetric
    drift score (0..ln 2) that, unlike raw KL, survives categories that
    vanish from one half. Completes the drift family: KS (continuous
    exact), PSI (binned), chi-squared (significance), JSD (bounded
    effect size). Same cost shape as the chi-squared entry: one scan,
    one tiny rollup."""
    ev = load_table(spark, sf_dir, "events")
    cut = ev.agg(
        F.expr("percentile_approx(unix_micros(ts), 0.5, 2147483647)").alias("cut_us")
    )
    counts = (
        ev.crossJoin(F.broadcast(cut))  # 1-row scalar
        .groupBy("event_type")
        .agg(
            F.sum((F.unix_micros("ts") <= F.col("cut_us")).cast("int")).alias("a"),
            F.sum((F.unix_micros("ts") > F.col("cut_us")).cast("int")).alias("b"),
        )
    )
    tot = counts.agg(F.sum("a").alias("na"), F.sum("b").alias("nb"))
    p = F.col("a") * F.lit(1.0) / F.nullif(F.col("na"), F.lit(0))
    q = F.col("b") * F.lit(1.0) / F.nullif(F.col("nb"), F.lit(0))
    m = (p + q) / 2
    term = F.when(F.col("a") > 0, p * F.log(p / m)).otherwise(F.lit(0.0)) + F.when(
        F.col("b") > 0, q * F.log(q / m)
    ).otherwise(F.lit(0.0))
    return counts.crossJoin(F.broadcast(tot)).agg(
        F.count(F.lit(1)).cast("long").alias("n_categories"),
        F.round(F.sum(term) / 2, 6).alias("js_divergence_nats"),
    )


@REG.add(
    "eval_auc_roc",
    # Pair-counting AUC from INTEGER tallies: AUC = (2*sum[n_pos(s) *
    # cum_neg(<s)] + sum[n_pos(s)*n_neg(s)]) / (2*n_pos*n_neg) — the
    # Mann-Whitney U with tie-averaging, every term an exact integer
    # until ONE final division (bit-identical cross-engine).
    # WHERE value IS NOT NULL: an unscored row cannot be ranked — and
    # the engines would otherwise place the NULL-score group at
    # OPPOSITE ends of the ROC sweep (Spark windows order NULLS FIRST,
    # DuckDB NULLS LAST), silently shifting every cumulative count.
    # Excluding unscored rows identically is the only rank-stable
    # convention. AND event_type IS NOT NULL (family seven, mechanism
    # 3: an unlabeled row is not in the eval set): Spark's
    # `type != 'purchase'` NULLs the tally term where this CASE's ELSE
    # would count the untyped row as a NEGATIVE — exclude it on both
    # engines instead.
    oracle="""
    WITH g AS (
        SELECT value,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
               sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS nn
        FROM events
        WHERE value IS NOT NULL AND event_type IS NOT NULL
        GROUP BY value
    ), c AS (
        SELECT np, nn,
               COALESCE(sum(nn) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_nn
        FROM g
    )
    SELECT CAST(sum(np) AS BIGINT) AS n_pos, CAST(sum(nn) AS BIGINT) AS n_neg,
           CAST(sum(2 * np * cum_nn) + sum(np * nn) AS DOUBLE)
               / (2 * sum(np) * sum(nn)) AS auc
    FROM c
    """,
)
def eval_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of `value` as a classifier score for purchase
    events — the ranking-quality metric behind every quality-classifier
    gate in a training-data pipeline. Computed by pair counting on the
    per-score integer tallies (Mann-Whitney U, ties contribute 1/2):
    ONE groupBy(value) shuffle collapses the stream to its distinct
    scores, the ordered window runs over that collapsed grid, and all
    arithmetic stays integer until the single final division. At 100 TB
    the grid (not the rows) bounds the window; for truly continuous
    scores bucket the grid first (same identity per bucket). Unscored
    (NULL-value) rows are excluded — they cannot be ranked, and engines
    disagree on where NULL sorts; UNLABELED (NULL-type) rows are
    excluded too — an untyped event is neither a positive nor a
    negative (see the oracle comment)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    g = ev.groupBy("value").agg(
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("np"),
        F.sum((F.col("event_type") != "purchase").cast("long")).alias("nn"),
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    c = g.select(
        "np", "nn", F.coalesce(F.sum("nn").over(w), F.lit(0)).alias("cum_nn")
    )
    return c.agg(
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
        (
            (F.sum(2 * F.col("np") * F.col("cum_nn")) + F.sum(F.col("np") * F.col("nn")))
            .cast("double")
            / F.nullif(2 * F.sum("np") * F.sum("nn"), F.lit(0))
        ).alias("auc"),
    )


EWMA_THRESH = 100.0


@REG.add(
    "ts_ewma_anomaly",
    # EWMA is a float fixpoint, so it rides the per-step determinism
    # toolkit (operators/kmeans.py discipline): every smoothed value is
    # fixed to 9dp in BOTH engines, so the trajectories re-synchronize
    # each step and the anomaly compares see identical doubles. The
    # oracle replays the recursion row by row (one self-reference).
    oracle=f"""
    WITH RECURSIVE
    hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               round(avg({sql_finite("value")}), 6) AS x
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        GROUP BY user_id, date_trunc('hour', ts)
    ),
    s AS (
        SELECT user_id, h, x,
               row_number() OVER (PARTITION BY user_id ORDER BY h) AS i
        FROM hourly
    ),
    r AS (
        SELECT user_id, i, h, x, x AS ewma, FALSE AS is_anomaly
        FROM s WHERE i = 1
        UNION ALL
        SELECT s.user_id, s.i, s.h, s.x,
               round(CAST(0.2 AS DOUBLE) * s.x
                     + CAST(0.8 AS DOUBLE) * r.ewma, 9),
               abs(s.x - r.ewma) > CAST({EWMA_THRESH} AS DOUBLE)
        FROM r JOIN s ON s.user_id = r.user_id AND s.i = r.i + 1
    )
    SELECT user_id, strftime(h, '{TS_FMT_DUCK}') AS hour, x, ewma, is_anomaly
    FROM r ORDER BY user_id, hour
    """,
)
def ts_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA smoothing (alpha=0.2) of the hourly value series
    with spike flagging (|x_t − ewma_(t−1)| > {EWMA_THRESH}) — the
    classic streaming-metrics anomaly detector, run batch-side. The
    recursion is a SEQUENTIAL per-key fold, so it executes as ONE
    hourly-rollup shuffle + ONE per-user JVM array fold
    (``F.aggregate`` over the sorted series — no Python, no
    per-iteration jobs): per-key state is the bounded series, the exact
    shape that scales by keys, not by time. 9dp per-step fixing makes
    the float trajectory hash-verifiable (see oracle note). NULL-ts
    readings belong to no hour (family seven): unfiltered they form a
    NULL bucket that array_sort places at one end and the oracle's
    row_number at the other, desynchronizing the whole recursion.
    NULL-user readings have no stream to smooth — EWMA is per-entity
    state, and the NULL bucket would fold unrelated sources into one
    fake trajectory (the oracle's recursive self-join on user_id cannot
    carry a NULL key anyway — JOIN semantics, not GROUP BY's)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    # The hourly mean rides the finite gate (r12 sf_extremes): one
    # corrupt 1e300 reading made x an accumulation-order function and
    # desynchronized the whole downstream recursion; an hour with only
    # corrupt/NULL readings keeps an x of NULL on both engines.
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.round(F.avg(finite("value")), 6).alias("x"))
    series = hourly.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("h", "x"))).alias("s")
    )
    row_t = "array<struct<h:timestamp,x:double,ewma:double,anom:boolean>>"
    acc_t = f"struct<rows:{row_t},last:double,started:boolean>"
    init = F.struct(
        F.array().cast(row_t).alias("rows"),
        F.lit(0.0).alias("last"),
        F.lit(False).alias("started"),
    ).cast(acc_t)

    def step(acc, e):
        new_e = F.when(
            acc["started"], F.round(0.2 * e["x"] + 0.8 * acc["last"], 9)
        ).otherwise(e["x"])
        anom = acc["started"] & (F.abs(e["x"] - acc["last"]) > EWMA_THRESH)
        row = F.struct(
            e["h"].alias("h"),
            e["x"].alias("x"),
            new_e.alias("ewma"),
            anom.alias("anom"),
        )
        return F.struct(
            F.concat(acc["rows"], F.array(row)).alias("rows"),
            new_e.alias("last"),
            F.lit(True).alias("started"),
        ).cast(acc_t)

    folded = series.select(
        "user_id", F.aggregate("s", init, step).getField("rows").alias("rows")
    )
    r = folded.select("user_id", F.explode("rows").alias("r"))
    return r.select(
        "user_id",
        F.date_format(F.col("r.h"), TS_FMT_SPARK).alias("hour"),
        F.col("r.x").alias("x"),
        F.col("r.ewma").alias("ewma"),
        F.col("r.anom").alias("is_anomaly"),
    ).orderBy("user_id", "hour")


K_ANON_TARGET = 12


@REG.add(
    "privacy_generalize_to_k",
    # The generalization ladder is decided by integer cell counts only,
    # so the released partition (and its sizes) is deterministic.
    oracle=f"""
    WITH cells AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS n
        FROM customer GROUP BY c_nationkey, c_mktsegment
    ),
    lvl1 AS (  -- small cells drop the segment dimension
        SELECT c_nationkey,
               CASE WHEN n >= {K_ANON_TARGET} THEN c_mktsegment
                    ELSE '*' END AS seg_out,
               n
        FROM cells
    ),
    lvl1_sizes AS (
        SELECT c_nationkey, seg_out, sum(n) AS n_out
        FROM lvl1 GROUP BY c_nationkey, seg_out
    ),
    lvl2 AS (  -- still-small generalized cells suppress the nation too
        SELECT CASE WHEN n_out >= {K_ANON_TARGET}
                    THEN CAST(c_nationkey AS VARCHAR) ELSE '*' END AS nation_out,
               CASE WHEN n_out >= {K_ANON_TARGET} THEN seg_out
                    ELSE '*' END AS seg_out,
               n_out
        FROM lvl1_sizes
    )
    SELECT nation_out, seg_out, CAST(sum(n_out) AS BIGINT) AS released_n,
           CAST(sum(n_out) >= {K_ANON_TARGET} AS BOOLEAN) AS satisfies_k
    FROM lvl2
    GROUP BY nation_out, seg_out
    ORDER BY nation_out, seg_out
    """,
)
def privacy_generalize_to_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity ENFORCEMENT (k={K_ANON_TARGET}) — where the
    ``privacy_k_anonymity_audit`` entry only measures, this one applies
    the standard generalization ladder until every released cell is
    safe: cells under k first drop the segment dimension (seg -> '*'),
    and generalized cells still under k suppress the nation too
    (global '*','*' bucket). Pure integer-count decisions over two
    cheap rollups of ONE base aggregate — the quasi-identifier
    cardinality, not the row count, bounds every stage, so the ladder
    costs the same at 100 TB."""
    c = load_table(spark, sf_dir, "customer")
    cells = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    lvl1 = cells.select(
        "c_nationkey",
        F.when(F.col("n") >= K_ANON_TARGET, F.col("c_mktsegment"))
        .otherwise("*")
        .alias("seg_out"),
        "n",
    )
    lvl1_sizes = lvl1.groupBy("c_nationkey", "seg_out").agg(
        F.sum("n").alias("n_out")
    )
    lvl2 = lvl1_sizes.select(
        F.when(
            F.col("n_out") >= K_ANON_TARGET, F.col("c_nationkey").cast("string")
        )
        .otherwise("*")
        .alias("nation_out"),
        F.when(F.col("n_out") >= K_ANON_TARGET, F.col("seg_out"))
        .otherwise("*")
        .alias("seg_out"),
        "n_out",
    )
    return (
        lvl2.groupBy("nation_out", "seg_out")
        .agg(F.sum("n_out").alias("released_n"))
        .select(
            "nation_out",
            "seg_out",
            "released_n",
            (F.col("released_n") >= K_ANON_TARGET).alias("satisfies_k"),
        )
        .orderBy("nation_out", "seg_out")
    )


RIDGE_LAMBDA = 1000


@REG.add(
    "ml_ridge_regression_normal_eq",
    # All nine sufficient statistics are EXACT integers (quantity,
    # discount-pct, price-cents are integer-valued), so the 3x3 ridge
    # normal equations solve by Cramer's rule as a fixed IEEE
    # expression tree over identical doubles — no iteration, no
    # accumulated-float hazard, deterministic cross-engine.
    oracle=f"""
    WITH s AS (
        SELECT count(*) AS n,
               sum(CAST(l_quantity AS BIGINT)) AS sx1,
               sum(CAST(round(l_discount * 100, 0) AS BIGINT)) AS sx2,
               sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sx11,
               sum(CAST(l_quantity AS BIGINT)
                   * CAST(round(l_discount * 100, 0) AS BIGINT)) AS sx12,
               sum(CAST(round(l_discount * 100, 0) AS BIGINT)
                   * CAST(round(l_discount * 100, 0) AS BIGINT)) AS sx22,
               sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS sy,
               sum(CAST(l_quantity AS BIGINT)
                   * CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS sx1y,
               sum(CAST(round(l_discount * 100, 0) AS BIGINT)
                   * CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS sx2y
        FROM lineitem
    ),
    m AS (
        SELECT CAST(n + {RIDGE_LAMBDA} AS DOUBLE) AS a11,
               CAST(sx1 AS DOUBLE) AS a12, CAST(sx2 AS DOUBLE) AS a13,
               CAST(sx11 + {RIDGE_LAMBDA} AS DOUBLE) AS a22,
               CAST(sx12 AS DOUBLE) AS a23,
               CAST(sx22 + {RIDGE_LAMBDA} AS DOUBLE) AS a33,
               CAST(sy AS DOUBLE) AS b1, CAST(sx1y AS DOUBLE) AS b2,
               CAST(sx2y AS DOUBLE) AS b3
        FROM s
    ),
    d AS (
        SELECT *,
               a11 * (a22 * a33 - a23 * a23)
               - a12 * (a12 * a33 - a23 * a13)
               + a13 * (a12 * a23 - a22 * a13) AS det
        FROM m
    )
    SELECT round((b1 * (a22 * a33 - a23 * a23)
                  - a12 * (b2 * a33 - a23 * b3)
                  + a13 * (b2 * a23 - a22 * b3)) / det / 100, 6)
               AS beta_intercept,
           round((a11 * (b2 * a33 - a23 * b3)
                  - b1 * (a12 * a33 - a23 * a13)
                  + a13 * (a12 * b3 - b2 * a13)) / det / 100, 6)
               AS beta_quantity,
           round((a11 * (a22 * b3 - b2 * a23)
                  - a12 * (a12 * b3 - b2 * a13)
                  + b1 * (a12 * a23 - a22 * a13)) / det / 100, 6)
               AS beta_discount_pct
    FROM d
    """,
)
def ml_ridge_regression_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature ridge regression (price_cents ~ quantity +
    discount_pct, lambda={RIDGE_LAMBDA}) solved in CLOSED FORM by the
    normal equations — the non-iterative sibling of ``ml_logreg_gd``:
    ONE mergeable aggregate collects the 9 sufficient statistics
    (Gram matrix + moment vector), and Cramer's rule inverts the
    3x3 system inside the engine. The statistics are exact integers
    (cents/percent encoding), so at 100 TB this is a single
    map-side-combined pass with O(1) driver state — the pattern that
    generalizes to d features as the d^2 Gram aggregate
    (``emb_pca_top_component`` runs the same shape at d=64). Betas
    are emitted in display units (cents -> currency)."""
    li = load_table(spark, sf_dir, "lineitem")
    x1 = F.col("l_quantity").cast("bigint")
    x2 = F.round(F.col("l_discount") * 100, 0).cast("bigint")
    y = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x1).alias("sx1"),
        F.sum(x2).alias("sx2"),
        F.sum(x1 * x1).alias("sx11"),
        F.sum(x1 * x2).alias("sx12"),
        F.sum(x2 * x2).alias("sx22"),
        F.sum(y).alias("sy"),
        F.sum(x1 * y).alias("sx1y"),
        F.sum(x2 * y).alias("sx2y"),
    )
    lam = F.lit(RIDGE_LAMBDA)
    m = s.select(
        (F.col("n") + lam).cast("double").alias("a11"),
        F.col("sx1").cast("double").alias("a12"),
        F.col("sx2").cast("double").alias("a13"),
        (F.col("sx11") + lam).cast("double").alias("a22"),
        F.col("sx12").cast("double").alias("a23"),
        (F.col("sx22") + lam).cast("double").alias("a33"),
        F.col("sy").cast("double").alias("b1"),
        F.col("sx1y").cast("double").alias("b2"),
        F.col("sx2y").cast("double").alias("b3"),
    )
    a11, a12, a13 = F.col("a11"), F.col("a12"), F.col("a13")
    a22, a23, a33 = F.col("a22"), F.col("a23"), F.col("a33")
    b1, b2, b3 = F.col("b1"), F.col("b2"), F.col("b3")
    det = (
        a11 * (a22 * a33 - a23 * a23)
        - a12 * (a12 * a33 - a23 * a13)
        + a13 * (a12 * a23 - a22 * a13)
    )
    return m.select(
        F.round(
            (
                b1 * (a22 * a33 - a23 * a23)
                - a12 * (b2 * a33 - a23 * b3)
                + a13 * (b2 * a23 - a22 * b3)
            )
            / det
            / 100,
            6,
        ).alias("beta_intercept"),
        F.round(
            (
                a11 * (b2 * a33 - a23 * b3)
                - b1 * (a12 * a33 - a23 * a13)
                + a13 * (a12 * b3 - b2 * a13)
            )
            / det
            / 100,
            6,
        ).alias("beta_quantity"),
        F.round(
            (
                a11 * (a22 * b3 - b2 * a23)
                - a12 * (a12 * b3 - b2 * a13)
                + b1 * (a12 * a23 - a22 * a13)
            )
            / det
            / 100,
            6,
        ).alias("beta_discount_pct"),
    )


@REG.add(
    "eval_calibration_bins",
    # The order is total (ties broken on event_id), so percent_rank is
    # (row_number-1)/(n-1); the integer numerator k rides along and the
    # bin's mean score is the fixed expression sum(k)/(n-1)/count over
    # exact integers — no float accumulation whose partition order
    # could differ per engine (r6 ADVICE; avg(score) was the hazard).
    # WHERE value IS NOT NULL: same rank-stability rule as
    # eval_auc_roc — an unscored row cannot be percent-ranked, and the
    # engines sort NULL to opposite ends of the rank window.
    oracle="""
    WITH nn AS (SELECT * FROM events WHERE value IS NOT NULL),
    tot AS (SELECT count(*) AS n_all FROM nn),
    scored AS (
        SELECT CAST(event_type = 'purchase' AS INTEGER) AS pos,
               CAST(row_number() OVER (ORDER BY value, event_id) - 1
                    AS BIGINT) AS k,
               tot.n_all AS n_all
        FROM nn CROSS JOIN tot
    ),
    binned AS (
        SELECT least(CAST(floor(CAST(k AS DOUBLE) / (n_all - 1) * 10)
                          AS INTEGER), 9) AS bin,
               pos, k, n_all
        FROM scored
    )
    SELECT bin,
           count(*) AS n,
           round(CAST(sum(k) AS DOUBLE) / (max(n_all) - 1) / count(*), 6)
               AS mean_score,
           CAST(sum(pos) AS DOUBLE) / count(*) AS pos_rate,
           round(abs(round(CAST(sum(k) AS DOUBLE) / (max(n_all) - 1)
                           / count(*), 6)
                     - CAST(sum(pos) AS DOUBLE) / count(*)), 6) AS calib_gap
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for `value`-as-a-score against the
    purchase label — the calibration companion to ``eval_auc_roc``
    (AUC measures ranking; calibration measures whether score deciles
    mean what they claim). Scores are the integer-exact percent_rank
    of value (ties broken on event_id so the rank is total), folded
    into 10 equal-width bins; per-bin positive rate is an exact
    integer ratio. The global rank window is the honest cost of exact
    calibration — at 100 TB swap it for decile boundaries from one
    percentile reduce (the ``feat_quantile_bucketize`` shape) and keep
    the per-bin aggregates identical. The rank's integer numerator k
    rides along so the bin's mean score is sum(k)/(n-1)/count — a fixed
    expression over exact integers, never a float accumulation.
    Unscored (NULL-value) rows are excluded, same rule as
    ``eval_auc_roc``."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    total = ev.agg(F.count(F.lit(1)).alias("n_all"))
    w = Window.orderBy("value", "event_id")
    scored = ev.crossJoin(F.broadcast(total)).select(
        (F.col("event_type") == "purchase").cast("int").alias("pos"),
        (F.row_number().over(w) - 1).cast("bigint").alias("k"),
        "n_all",
    )
    binned = scored.select(
        F.least(
            F.floor(
                F.col("k").cast("double")
                / F.nullif(F.col("n_all") - 1, F.lit(0))
                * 10
            ).cast("int"),
            F.lit(9),
        ).alias("bin"),
        "pos",
        "k",
        "n_all",
    )
    pos_rate = F.sum("pos").cast("double") / F.count(F.lit(1))
    mean_score = F.round(
        F.sum("k").cast("double")
        / F.nullif(F.max("n_all") - 1, F.lit(0))
        / F.count(F.lit(1)),
        6,
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            mean_score.alias("mean_score"),
            pos_rate.alias("pos_rate"),
            F.round(F.abs(mean_score - pos_rate), 6).alias("calib_gap"),
        )
        .orderBy("bin")
    )


@REG.add(
    "ts_stl_decompose",
    # Integer-exact decomposition: hourly means become e6 integers, the
    # 24h trend window sums integers, detrended values are the integer
    # 24*m - sum24, and the seasonal means are exact integer ratios —
    # every emitted double is a fixed expression over exact integers.
    oracle=f"""
    WITH hourly AS (
        -- finite gate (functions/finite.py): one NaN reading made
        -- avg(value) NaN and the ANSI e6-integer cast ABORTED the whole
        -- decomposition job (r10 sf_nan probe); corrupt readings are
        -- excluded from the hourly mean like NULLs.
        SELECT date_trunc('hour', ts) AS h,
               CAST(round(round(avg({sql_finite("value")}), 6) * 1000000, 0)
                    AS BIGINT) AS m_e6
        FROM events WHERE ts IS NOT NULL
        GROUP BY date_trunc('hour', ts)
    ),
    win AS (
        SELECT h, m_e6,
               sum(m_e6) OVER w AS sum24,
               count(*) OVER w AS cnt
        FROM hourly
        WINDOW w AS (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
    ),
    det AS (
        SELECT h, m_e6, sum24,
               24 * m_e6 - sum24 AS d_x24
        FROM win WHERE cnt = 24
    ),
    seas AS (
        SELECT CAST(hour(h) AS INTEGER) AS hod,
               sum(d_x24) AS s_sum, count(*) AS s_n
        FROM det GROUP BY hour(h)
    )
    SELECT strftime(d.h, '{TS_FMT_DUCK}') AS hour,
           CAST(d.m_e6 AS DOUBLE) / 1000000 AS observed,
           CAST(d.sum24 AS DOUBLE) / 24 / 1000000 AS trend,
           CAST(s.s_sum AS DOUBLE) / s.s_n / 24 / 1000000 AS seasonal,
           CAST(d.d_x24 AS DOUBLE) / 24 / 1000000
               - CAST(s.s_sum AS DOUBLE) / s.s_n / 24 / 1000000 AS residual
    FROM det d JOIN seas s ON s.hod = CAST(hour(d.h) AS INTEGER)
    ORDER BY hour
    """,
)
def ts_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive STL-style decomposition of the global hourly value series:
    trend = centered 24h moving average, seasonal = hour-of-day mean of
    the detrended series, residual = remainder — the standard first
    look at any metrics stream (and the feature split behind seasonal
    anomaly detection; ``ts_seasonal_naive_error`` measures what this
    removes). Kept integer-exact end to end: hourly means are fixed to
    e6 integers, the moving window sums integers (complete 24-row
    frames only, so edges are excluded rather than biased), detrending
    uses 24*m − sum24, and seasonal means are integer ratios — so the
    float emission is a fixed expression, not an accumulation. Cost:
    one hourly rollup, one ordered window over the HOURLY grid (720
    rows here; grid-bounded, not row-bounded, at 100 TB), one
    24-group seasonal aggregate broadcast back."""
    # NULL-ts readings belong to no hour (family seven): a NULL bucket
    # would enter the 24-row trend window at a different end per engine.
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    # finite(): see the oracle comment — a NaN mean would ANSI-abort
    # the e6-integer cast.
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.round(F.round(F.avg(finite("value")), 6) * 1000000, 0)
        .cast("bigint")
        .alias("m_e6")
    )
    w = Window.orderBy("h").rowsBetween(-12, 11)
    win = hourly.select(
        "h",
        "m_e6",
        F.sum("m_e6").over(w).alias("sum24"),
        F.count(F.lit(1)).over(w).alias("cnt"),
    )
    det = win.filter(F.col("cnt") == 24).select(
        "h", "m_e6", "sum24", (24 * F.col("m_e6") - F.col("sum24")).alias("d_x24")
    )
    seas = det.groupBy(F.hour("h").cast("int").alias("hod")).agg(
        F.sum("d_x24").alias("s_sum"), F.count(F.lit(1)).alias("s_n")
    )
    seasonal = F.col("s_sum").cast("double") / F.col("s_n") / 24 / 1000000
    return (
        det.join(F.broadcast(seas), F.hour("h").cast("int") == F.col("hod"))
        .select(
            F.date_format("h", TS_FMT_SPARK).alias("hour"),
            (F.col("m_e6").cast("double") / 1000000).alias("observed"),
            (F.col("sum24").cast("double") / 24 / 1000000).alias("trend"),
            seasonal.alias("seasonal"),
            (
                F.col("d_x24").cast("double") / 24 / 1000000 - seasonal
            ).alias("residual"),
        )
        .orderBy("hour")
    )


@REG.add(
    "quality_join_skew_audit",
    # Key-frequency statistics are integers; the shares and ratios are
    # single divisions of integers — exact cross-engine.
    oracle="""
    WITH freqs AS (
        SELECT 'orders.o_custkey' AS key_col, o_custkey AS k, count(*) AS c
        FROM orders GROUP BY o_custkey
        UNION ALL
        SELECT 'lineitem.l_suppkey', l_suppkey, count(*)
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT key_col,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(max(c) AS BIGINT) AS top_key_rows,
           CAST(max(c) AS DOUBLE) / sum(c) AS top_key_share,
           CAST(max(c) AS DOUBLE) * count(*) / sum(c) AS skew_factor
    FROM freqs
    GROUP BY key_col
    ORDER BY key_col
    """,
)
def quality_join_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit for the two hottest shuffle keys — the
    pre-flight a 100 TB join plan actually needs: ``skew_factor`` =
    (hottest key's rows) / (mean rows per key); anything far above ~5
    means the naive hash join straggles on one task and the plan
    should salt that key or lean on AQE's skew-join split
    (``join_salted_skew`` is the remedy operator; this is the
    detector). One count aggregate per key column, unioned, then a
    second tiny rollup — the audit costs two partial-aggregated
    shuffles regardless of table size, and its output is O(keys
    audited)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    freqs = (
        o.groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.lit("orders.o_custkey").alias("key_col"), "k", "c")
        .unionByName(
            li.groupBy(F.col("l_suppkey").alias("k"))
            .agg(F.count(F.lit(1)).alias("c"))
            .select(F.lit("lineitem.l_suppkey").alias("key_col"), "k", "c")
        )
    )
    return (
        freqs.groupBy("key_col")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("c").alias("n_rows"),
            F.max("c").alias("top_key_rows"),
            (F.max("c").cast("double") / F.sum("c")).alias("top_key_share"),
            (
                F.max("c").cast("double") * F.count(F.lit(1)) / F.sum("c")
            ).alias("skew_factor"),
        )
        .orderBy("key_col")
    )


@REG.add(
    "eval_adversarial_validation",
    # Same integer-exact pair-counting AUC as eval_auc_roc, but the
    # LABEL is the md5 train/heldout split and the SCORE is a document
    # feature — drift shows up as AUC far from 0.5.
    oracle="""
    WITH lab AS (
        SELECT n_chars,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
                    THEN 1 ELSE 0 END AS is_train
        FROM documents
    ),
    g AS (
        SELECT n_chars,
               sum(is_train) AS np,
               sum(1 - is_train) AS nn
        FROM lab GROUP BY n_chars
    ),
    c AS (
        SELECT np, nn,
               COALESCE(sum(nn) OVER (ORDER BY n_chars
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_nn
        FROM g
    )
    SELECT CAST(sum(np) AS BIGINT) AS n_train,
           CAST(sum(nn) AS BIGINT) AS n_heldout,
           CAST(sum(2 * np * cum_nn) + sum(np * nn) AS DOUBLE)
               / (2 * sum(np) * sum(nn)) AS drift_auc,
           CAST(abs(CAST(sum(2 * np * cum_nn) + sum(np * nn) AS DOUBLE)
                    / (2 * sum(np) * sum(nn)) - 0.5) < 0.05
                AS BOOLEAN) AS split_is_unbiased
    FROM c
    """,
)
def eval_adversarial_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adversarial validation, classifier-free form: can a document
    feature (length) distinguish the train shard from the heldout
    shard? AUC ≈ 0.5 means the split is exchangeable; AUC far from
    0.5 means leakage or drift between shards — checked here for the
    portable md5 split the engine's other entries rely on, with the
    ±0.05 unbiasedness flag emitted (and pinned by the oracle, since a
    hash split over an id-independent feature must pass). Same
    integer-exact pair-counting machinery as ``eval_auc_roc``: one
    groupBy on the score grid, one ordered window over distinct
    values, one final division."""
    d = load_table(spark, sf_dir, "documents")
    lab = d.select(
        "n_chars",
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) <= "b")
        .cast("long")
        .alias("is_train"),
    )
    g = lab.groupBy("n_chars").agg(
        F.sum("is_train").alias("np"),
        F.sum(1 - F.col("is_train")).alias("nn"),
    )
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, -1)
    c = g.select(
        "np", "nn", F.coalesce(F.sum("nn").over(w), F.lit(0)).alias("cum_nn")
    )
    auc = (
        F.sum(2 * F.col("np") * F.col("cum_nn")) + F.sum(F.col("np") * F.col("nn"))
    ).cast("double") / F.nullif(2 * F.sum("np") * F.sum("nn"), F.lit(0))
    return c.agg(
        F.sum("np").cast("long").alias("n_train"),
        F.sum("nn").cast("long").alias("n_heldout"),
        auc.alias("drift_auc"),
        (F.abs(auc - 0.5) < 0.05).alias("split_is_unbiased"),
    )
