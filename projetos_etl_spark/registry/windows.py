"""Window-function family + sort/limit (SURVEY.md §2B "Window",
"Sort/limit").

Window ops shuffle once on the partition key then sort within partitions
(spillable). Every ordering carries an explicit unique tie-break key so
results are deterministic across engines and partition layouts. The
global top-k queries deliberately use ``orderBy().limit(k)`` so Catalyst
plans TakeOrderedAndProject — per-partition heaps + driver merge, never a
full global sort (the difference between seconds and hours at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from projetos_etl_spark.functions.finite import finite, sql_finite
from projetos_etl_spark.operators.sessionize import sessionize
from projetos_etl_spark.registry._core import TS_FMT_DUCK, TS_FMT_SPARK, Registry
from projetos_etl_spark.sources.io import distributed_prefix_sum, load_table

REG = Registry()

SESSION_GAP_SECONDS = 4 * 3600


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@REG.add(
    "win_rank_topk_per_group",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey, o_orderkey,
               round(o_totalprice, 2) AS totalprice,
               CAST(row_number() OVER (PARTITION BY o_custkey
                                       ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        FROM orders)
    WHERE rn <= 3
    """,
)
def win_rank_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the canonical top-k-per-group window."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "rn",
        )
    )


@REG.add(
    "win_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running spend, explicit ROWS frame."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@REG.add(
    "win_lag_delta",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN ts IS NULL THEN NULL
                ELSE round(value - lag(value) OVER
                     (PARTITION BY user_id ORDER BY ts ASC NULLS LAST, event_id), 6)
           END AS delta
    FROM events
    """,
)
def win_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta vs previous event of the same user (NULL on first).

    NULL-ts convention (family seven, SCALE.md): an un-timestamped event
    has no position in the series, so its delta is NULL — and it must
    not shift anyone ELSE's lag. Both engines pin ``ts ASC NULLS LAST``
    (Spark defaults NULLS FIRST, DuckDB NULLS LAST — unpinned, each
    engine hands lag() a different sequence), which also parks the
    NULL-ts rows AFTER every timed row so no preceding frame sees them;
    their own output is then nulled."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), "event_id"
    )
    return _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.when(
            F.col("ts").isNotNull(),
            F.round(F.col("value") - F.lag("value").over(w), 6),
        ).alias("delta"),
    )


@REG.add(
    "win_moving_avg_frame",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN ts IS NULL THEN NULL
                ELSE round(avg(value) OVER
                     (PARTITION BY user_id ORDER BY ts ASC NULLS LAST, event_id
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6)
           END AS moving_avg
    FROM events
    """,
)
def win_moving_avg_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-event moving average (explicit ROWS frame). NULL-ts rows sort
    last (pinned both sides) so no timed row's frame consumes them, and
    their own positionless average is NULL — family-seven convention."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc_nulls_last(), "event_id")
        .rowsBetween(-3, 0)
    )
    return _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.when(
            F.col("ts").isNotNull(), F.round(F.avg("value").over(w), 6)
        ).alias("moving_avg"),
    )


@REG.add(
    "win_range_frame",
    oracle="""
    WITH o AS (
        SELECT o_custkey, o_orderkey,
               CAST(epoch(o_orderdate) // 86400 AS BIGINT) AS day,
               o_totalprice
        FROM orders
    )
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER w, 2)   AS spend_30d,
           round(min(o_totalprice) OVER w, 2) AS min_in_window
    FROM o
    WINDOW w AS (PARTITION BY o_custkey ORDER BY day
                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, vs the row-count frames elsewhere in
    this family): per customer, total spend over the trailing 30 days of
    each order. Range frames bound state by *value distance*, so a burst
    of same-day orders stays in one frame — the semantics row frames
    can't express. One shuffle on the customer key.

    All frame aggregates here (sum/min) are peer-order-insensitive —
    positional functions like first_value would be nondeterministic when
    several orders share the frame-start day."""
    orders = _t(spark, sf_dir, "orders")
    day = (F.unix_timestamp("o_orderdate") / 86400).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-30, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_30d"),
        F.round(F.min("o_totalprice").over(w), 2).alias("min_in_window"),
    )


@REG.add(
    "win_ntile",
    oracle="""
    SELECT o_orderkey,
           CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS decile
    FROM orders
    """,
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global decile assignment. NOTE: an un-partitioned window is a
    single-reducer sort — acceptable for rank-into-k buckets on bounded
    outputs; at 100 TB use approx quantile cutoffs + a broadcast range
    join instead.

    r12 (sf_nulls holing o_totalprice): the sort key is pinned
    ``asc_nulls_last`` — Spark's default NULLS FIRST would park every
    unpriced order in decile 1 while DuckDB's default puts them in
    decile 10; an unknown price ranks AFTER every known one on both
    engines (the windows.py:102 convention)."""
    w = Window.orderBy(F.col("o_totalprice").asc_nulls_last(), "o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.ntile(10).over(w).alias("decile")
    )


def ntile_of_rank(k: int) -> Column:
    """SQL ``ntile(k)`` of the 1-based global rank ``cum`` among
    ``total`` rows (``distributed_prefix_sum`` of 1): base = total div k
    rows per bucket, the first total % k buckets take base+1.
    All-integer arithmetic (`div`, never a double division that could
    truncate wrong near 2^53 at scale); greatest() guards the
    unreachable base=0 branch under ANSI."""
    return F.expr(
        f"CASE WHEN cum <= (total % {k}) * (total div {k} + 1)"
        f" THEN (cum - 1) div (total div {k} + 1) + 1"
        f" ELSE (total % {k}) + (cum - 1 - (total % {k}) * (total div {k} + 1))"
        f"      div greatest(total div {k}, 1) + 1 END"
    ).cast("int")


@REG.add(
    "win_ntile_scale",
    # Same assignments as the exact variant, so the oracle IS the exact
    # ntile — proving the distributed-rank plan computes identical
    # buckets at fixture scale.
    oracle="""
    SELECT o_orderkey,
           CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS INTEGER)
               AS decile
    FROM orders
    """,
)
def win_ntile_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-safe twin of ``win_ntile``: EXACT global decile
    assignment with no single-partition window over the input. The
    global rank is ``distributed_prefix_sum`` of 1 over the unique total
    sort key (one range shuffle, parallel local sorts, broadcast
    per-range offsets); SQL ntile's bucket arithmetic (first n%k buckets
    take one extra row) is then a pure integer expression. The sort key
    is ``asc_nulls_last``: unpriced orders rank last, matching DuckDB's
    default and the exact twin. The exact-variant oracle pins that the
    assignments are identical, not merely approximate."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return distributed_prefix_sum(
        orders,
        [F.col("o_totalprice").asc_nulls_last(), F.col("o_orderkey")],
        F.lit(1),
    ).select("o_orderkey", ntile_of_rank(10).alias("decile"))


@REG.add(
    "sessionize_events",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_SECONDS}
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
        SELECT user_id, ts, value,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM gaps)
    SELECT user_id, session_id,
           count(*)                              AS n_events,
           strftime(min(ts), '{TS_FMT_DUCK}')    AS session_start,
           strftime(max(ts), '{TS_FMT_DUCK}')    AS session_end,
           round(sum(value), 6)                  AS total_value
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gap > 4h starts a new session) — the batch
    twin of streaming ``session_window``; see operators/sessionize.py."""
    ev = sessionize(
        _t(spark, sf_dir, "events"), key="user_id", ts_col="ts",
        gap_seconds=SESSION_GAP_SECONDS,
    )
    return ev.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), TS_FMT_SPARK).alias("session_start"),
        F.date_format(F.max("ts"), TS_FMT_SPARK).alias("session_end"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


@REG.add(
    "limit_topk",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS totalprice, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 — plans as TakeOrderedAndProject (heap per partition,
    merge on driver): no full sort, no full shuffle, 100 TB-safe."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "o_orderpriority",
        )
    )


@REG.add(
    "sort_multi",
    oracle="""
    SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS acctbal
    FROM customer
    ORDER BY c_nationkey DESC, c_acctbal ASC, c_custkey
    LIMIT 100
    """,
)
def sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key mixed-direction sort with deterministic tie-break."""
    return (
        _t(spark, sf_dir, "customer")
        .orderBy(F.col("c_nationkey").desc(), F.col("c_acctbal").asc(), F.col("c_custkey"))
        .limit(100)
        .select("c_custkey", "c_nationkey", F.round("c_acctbal", 2).alias("acctbal"))
    )


@REG.add(
    "win_percent_dist",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cume_d
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def win_percent_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (percent_rank / cume_dist) per
    market segment — the rank-normalization step behind percentile
    cutoffs (e.g. "top 5% balances per segment"). One shuffle on the
    partition key; the unique tie-break (c_custkey) pins both engines
    to identical ranks."""
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_d"),
    )


@REG.add(
    "win_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey)  OVER w AS latest_order,
           round(o_totalprice - first_value(o_totalprice) OVER w, 2) AS delta_vs_first
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value over an explicit full-partition frame:
    each order beside the customer's first and latest order. The
    UNBOUNDED..UNBOUNDED frame is spelled out because last_value's
    default frame (ending CURRENT ROW) silently returns the current
    row — the classic window-frame footgun, pinned here by the oracle."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("latest_order"),
        F.round(
            F.col("o_totalprice") - F.first("o_totalprice").over(w), 2
        ).alias("delta_vs_first"),
    )


@REG.add(
    "sort_paginate",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
    FROM orders
    ORDER BY o_orderkey
    LIMIT 50 OFFSET 100
    """,
)
def sort_paginate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset-free pagination (ORDER BY + OFFSET/LIMIT) on a unique sort
    key — page 3 of 50. Spark plans the offset+limit together (the
    driver takes offset+limit rows then drops the prefix); for deep
    pages at scale prefer keyset pagination (WHERE key > last_seen),
    which ``filter_pred``'s pushdown pattern covers — this entry pins
    the OFFSET surface a reference BI user expects to exist."""
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("totalprice")
        )
        .orderBy("o_orderkey")
        .offset(100)
        .limit(50)
    )


@REG.add(
    "win_rolling_distinct",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN ts IS NULL THEN NULL
                ELSE CAST(count(DISTINCT event_type) OVER (
                     PARTITION BY user_id ORDER BY ts ASC NULLS LAST, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)
           END AS n_types_so_far
    FROM events
    """,
)
def win_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct count per user (how many distinct event types has
    this user produced up to now): Spark has no DISTINCT window
    aggregate, so the portable formulation is ``size(collect_set())``
    over the running frame.

    BOUNDED-DOMAIN CONTRACT: per-row set state is O(distinct values in
    the partition) — right for enum-like columns (event types, status
    codes, country codes), wrong for domains that grow with the data
    (URLs, user agents, doc hashes), where the set itself becomes the
    memory bottleneck. For unbounded domains use
    ``win_rolling_distinct_unbounded`` — same semantics, exact, O(1)
    window state via a running sum of first-occurrence flags."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc_nulls_last(), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Family-seven NULL-ts convention: "so far" is undefined for a row
    # with no position in time — NULLS-LAST ordering (pinned both sides)
    # keeps such rows out of every timed row's frame, and their own
    # running count is NULL.
    return _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.when(
            F.col("ts").isNotNull(),
            F.size(F.collect_set("event_type").over(w)),
        ).alias("n_types_so_far"),
    )


@REG.add(
    "funnel_conversion",
    oracle=f"""
    WITH first_signup AS (
        SELECT user_id, min(ts) AS signup_ts
        FROM events WHERE event_type = 'signup'
        GROUP BY user_id
    )
    SELECT f.user_id,
           strftime(f.signup_ts, '{TS_FMT_DUCK}')   AS signup_ts,
           CAST(count(e.event_id) AS BIGINT)        AS purchases_after,
           CASE WHEN count(e.event_id) > 0 THEN 1 ELSE 0 END AS converted
    FROM first_signup f
    LEFT JOIN events e
      ON e.user_id = f.user_id AND e.event_type = 'purchase'
     AND e.ts > f.signup_ts
    GROUP BY f.user_id, f.signup_ts
    ORDER BY f.user_id
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis (signup -> purchase): each user's first signup and
    the purchases that happened AFTER it. The anchor step is one
    aggregation; the conversion step is a left join with the time
    predicate in the JOIN condition (a WHERE would drop never-converted
    users — the rows a funnel exists to count). Both steps shuffle on
    user_id only."""
    ev = _t(spark, sf_dir, "events")
    first_signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("event_id"), F.col("ts").alias("p_ts")
    )
    return (
        first_signup.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") > F.col("signup_ts")),
            "left",
        )
        .groupBy("user_id", "signup_ts")
        .agg(F.count("event_id").alias("purchases_after"))
        .select(
            "user_id",
            F.date_format("signup_ts", TS_FMT_SPARK).alias("signup_ts"),
            "purchases_after",
            F.when(F.col("purchases_after") > 0, 1).otherwise(0).alias("converted"),
        )
        .orderBy("user_id")
    )


@REG.add(
    "cohort_retention",
    oracle="""
    WITH first_day AS (
        SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
        FROM events GROUP BY user_id
    )
    SELECT strftime(f.cohort_day, '%Y-%m-%d')                         AS cohort_day,
           CAST(date_diff('day', f.cohort_day, date_trunc('day', e.ts)) AS INTEGER)
               AS day_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT)                  AS active_users
    FROM events e JOIN first_day f ON e.user_id = f.user_id
    GROUP BY 1, 2
    ORDER BY cohort_day, day_offset
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day, and
    for each (cohort, day-offset) how many of them were active — the
    standard BI retention triangle. The cohort anchor broadcasts back
    onto the event stream (bounded: one row per user), then a single
    count-distinct aggregation builds the matrix."""
    ev = _t(spark, sf_dir, "events")
    first_day = ev.groupBy(F.col("user_id").alias("f_user")).agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    return (
        ev.join(F.broadcast(first_day), ev.user_id == F.col("f_user"))
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff(F.date_trunc("day", "ts"), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_day", "day_offset")
    )


@REG.add(
    "win_percentiles_rank",
    oracle="""
    SELECT c_custkey,
           c_mktsegment,
           round(percent_rank() OVER w, 6) AS bal_pct_rank,
           round(cume_dist() OVER w, 6)    AS bal_cume_dist,
           CAST(ntile(4) OVER w AS INTEGER) AS bal_quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY round(c_acctbal, 2), c_custkey)
    ORDER BY c_custkey
    """,
)
def win_percentiles_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-position window functions (percent_rank / cume_dist /
    ntile): each customer's balance position within its market segment.
    The ORDER BY carries an explicit c_custkey tie-break so rank-based
    results are engine-invariant (percent_rank on a tied sort is
    underdetermined). One sort per segment partition — the same
    single-shuffle shape as every ranking window; ntile adds no extra
    pass (it rides the same sorted partition)."""
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.round("c_acctbal", 2), "c_custkey"
    )
    return (
        _t(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.round(F.percent_rank().over(w), 6).alias("bal_pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("bal_cume_dist"),
            F.ntile(4).over(w).alias("bal_quartile"),
        )
        .orderBy("c_custkey")
    )


@REG.add(
    "win_rolling_distinct_unbounded",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN ts IS NULL THEN NULL
                ELSE CAST(count(DISTINCT event_type) OVER (
                     PARTITION BY user_id ORDER BY ts ASC NULLS LAST, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)
           END AS n_types_so_far
    FROM events
    """,
)
def win_rolling_distinct_unbounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct count, scale tier for UNBOUNDED value domains
    (URLs, doc hashes): identical semantics to ``win_rolling_distinct``
    but EXACT with O(1) window state. ``collect_set`` over a running
    frame carries a per-position set of size O(distinct values) — fine
    for enum-like domains (the bounded-domain contract documented on
    ``win_rolling_distinct``), quadratic-ish memory when the domain
    grows with the data. Here the distinct count is decomposed into a
    running SUM of first-occurrence flags: row_number over
    (user, value) marks each value's first row, then a plain running
    sum over (user) accumulates them — two window passes whose state is
    one counter each. Costs one extra shuffle (by (user_id, event_type)
    then by user_id) in exchange for memory that no longer depends on
    the value domain; both engines agree exactly, so the oracle is the
    same COUNT(DISTINCT ... ) window as the bounded variant."""
    # NULLS-LAST on both window passes (family-seven convention, pinned
    # in the oracle too): a type first seen only on un-timestamped rows
    # gets its flag parked after every timed row, so timed frames never
    # count it; NULL-ts rows' own running count is NULL. A NULL
    # event_type is NOT a type: COUNT(DISTINCT) skips NULLs, but
    # row_number over the all-NULL partition would still flag its first
    # row, so the flag is additionally gated on a non-NULL type (r10
    # ADVICE).
    first = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc_nulls_last(), "event_id"
    )
    run = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc_nulls_last(), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        _t(spark, sf_dir, "events")
        .withColumn(
            "__first",
            (
                (F.row_number().over(first) == 1)
                & F.col("event_type").isNotNull()
            ).cast("int"),
        )
        .select(
            "event_id",
            "user_id",
            F.when(
                F.col("ts").isNotNull(),
                F.sum("__first").over(run).cast("int"),
            ).alias("n_types_so_far"),
        )
    )


@REG.add(
    "win_gap_islands",
    oracle=f"""
    WITH hrs AS (
        SELECT DISTINCT user_id, time_bucket(INTERVAL '1 hour', ts) AS h
        FROM events
    ),
    grp AS (
        SELECT user_id, h,
               CAST(epoch(h) AS BIGINT) // 3600
                   - row_number() OVER (PARTITION BY user_id ORDER BY h) AS g
        FROM hrs
    )
    SELECT user_id,
           strftime(min(h), '{TS_FMT_DUCK}') AS island_start,
           strftime(max(h), '{TS_FMT_DUCK}') AS island_end,
           CAST(count(*) AS BIGINT)          AS n_hours
    FROM grp GROUP BY user_id, g
    """,
)
def win_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: collapse each user's activity into maximal runs
    of consecutive active hours (the classic sequence-reconstruction
    shape behind uptime spans, streak analytics, and contiguous-coverage
    checks). The island key is the Tarjan difference trick — hour-index
    minus row_number is constant within a consecutive run — so the whole
    operator is one distinct, one window pass, and one hash aggregate,
    all on the same user_id partitioning: Catalyst reuses a single
    shuffle for the window and the final groupBy. No self-join, no
    iteration — at 100 TB the alternative LEAD-based gap detection costs
    the same one shuffle but a second window pass. Hour buckets (not raw
    ts) bound island cardinality per user; deterministic because the
    bucket grid is fixed."""
    hrs = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("hour", F.col("ts")).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("h")
    grp = hrs.withColumn(
        "g",
        (F.unix_timestamp("h") / 3600).cast("bigint") - F.row_number().over(w),
    )
    return grp.groupBy("user_id", "g").agg(
        F.date_format(F.min("h"), TS_FMT_SPARK).alias("island_start"),
        F.date_format(F.max("h"), TS_FMT_SPARK).alias("island_end"),
        F.count(F.lit(1)).alias("n_hours"),
    ).drop("g")


@REG.add(
    "win_rolling_median",
    # The median's history rides the finite gate (functions/finite.py):
    # one NaN in the trailing frame crashes DuckDB's quantile_cont
    # (std::exception) and lands Spark's percentile on the
    # engine-divergent NaN-sorts-greatest rank (r10 sf_nan probe).
    # Corrupt readings are not history; n_prev counts USABLE history.
    oracle=f"""
    WITH w AS (
        SELECT user_id, ts, event_id, value,
               quantile_cont({sql_finite("value")}, 0.5) OVER frame AS med,
               count({sql_finite("value")})              OVER frame AS n_prev
        FROM events
        WHERE ts IS NOT NULL
        WINDOW frame AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, strftime(ts, '{TS_FMT_DUCK}') AS ts,
           round(value, 6) AS value, round(med, 6) AS rolling_median
    FROM w WHERE n_prev >= 5
    ORDER BY user_id, ts, event_id
    """,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling MEDIAN over each user's trailing-10 frame (self-excluding)
    — the robust companion to ``anomaly_zscore_rolling``'s mean/stddev:
    a single spike in the history corrupts a rolling mean for 10 rows
    but moves the rolling median at most one rank, which is why
    monitoring baselines prefer it. Exact interpolated percentile as a
    WINDOW aggregate — O(frame) state per row, same single user_id
    exchange as every other per-user window; at 100 TB frames stay
    O(1) and the cost profile is identical to the moving average."""
    # Family-seven NULL-ts convention: an un-timestamped reading has no
    # position, so it can be no one's trailing history and has no frame
    # of its own — excluded from the series like a non-finite value
    # (mirrored in the oracle's WHERE).
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, -1)
    )
    # finite(): see the oracle comment — corrupt readings are not
    # history.
    fv = finite("value")
    scored = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.percentile(fv, F.lit(0.5)).over(w).alias("med"),
        F.count(fv).over(w).alias("n_prev"),
    )
    return (
        scored.filter(F.col("n_prev") >= 5)
        .select(
            "user_id",
            F.date_format("ts", TS_FMT_SPARK).alias("ts"),
            F.round("value", 6).alias("value"),
            F.round("med", 6).alias("rolling_median"),
            F.col("event_id").alias("_eid"),
        )
        .orderBy("user_id", "ts", "_eid")
        .drop("_eid")
    )


@REG.add(
    "win_time_range_frame",
    oracle=f"""
    SELECT user_id,
           strftime(ts, '{TS_FMT_DUCK}') AS ts,
           CAST(count(*) OVER w AS BIGINT)   AS n_last_hour,
           round(sum(value) OVER w, 2)       AS sum_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, ts, event_id
    """,
)
def win_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-based window frame (everything within the trailing HOUR of
    each event, however many rows that is) — the frame row-based
    windows cannot express on irregular streams: a burst contributes
    many rows to its neighbors' hour, a quiet stretch few, and
    ``ROWS BETWEEN N`` would silently mix timescales. Expressed as
    RANGE over integer epoch seconds in BOTH engines (Spark's
    rangeBetween needs a numeric ordering key; the integer cast also
    sidesteps the DuckDB epoch-rounding trap documented at
    ``join_interval_overlap``). Same single user-key shuffle as every
    per-user window; frame state is O(events-in-window), bounded by
    the stream's peak hourly rate, which is the same bound a streaming
    sliding window would hold."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.expr("unix_micros(ts) div 1000000")
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-3600, Window.currentRow)
    )
    return (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.count(F.lit(1)).over(w).cast("long").alias("n_last_hour"),
            F.round(F.sum("value").over(w), 2).alias("sum_last_hour"),
        )
        .select(
            "user_id",
            F.date_format("ts", TS_FMT_SPARK).alias("ts"),
            "n_last_hour",
            "sum_last_hour",
            F.col("event_id").alias("_eid"),
        )
        .orderBy("user_id", "ts", "_eid")
        .drop("_eid")
    )


@REG.add(
    "win_skyline_frontier",
    oracle="""
    WITH pts AS (
        SELECT DISTINCT p_size AS x, p_retailprice AS y FROM part
    ),
    swept AS (
        SELECT x, y,
               max(y) OVER (ORDER BY x DESC, y DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS best_y_right
        FROM pts
    )
    SELECT x AS p_size, round(y, 2) AS p_retailprice
    FROM swept
    WHERE best_y_right IS NULL OR y > best_y_right
    ORDER BY p_size, p_retailprice
    """,
)
def win_skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): the parts no other part dominates
    on (size, retail price) — the multi-criteria shortlist operator
    behind 'best tradeoff' queries (price/quality, latency/cost). The
    naive spelling is a quadratic NOT EXISTS self-join; the engine uses
    the SWEEP formulation instead: sort by x descending and keep a
    running max of y over STRICTLY PRECEDING rows — a point is on the
    frontier iff it beats every y seen at larger-or-equal x. One
    distinct-reduce plus ONE window pass; the (y DESC) secondary sort
    makes equal-x groups resolve to their best y, and the 1 PRECEDING
    frame keeps a point from being compared against itself. The global
    ORDER BY window serializes onto one task — correct here because
    the window input is the DISTINCT (x, y) reduce (bounded by the
    value-pair domain, not the fact count); at 100 TB with a large
    domain, pre-filter per x-bucket to local maxima first (same
    sweep per bucket, then one merge pass over bucket frontiers)."""
    pts = (
        _t(spark, sf_dir, "part")
        .select(F.col("p_size").alias("x"), F.col("p_retailprice").alias("y"))
        .distinct()
    )
    w = (
        Window.orderBy(F.col("x").desc(), F.col("y").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    swept = pts.select("x", "y", F.max("y").over(w).alias("best_y_right"))
    return (
        swept.filter(F.col("best_y_right").isNull() | (F.col("y") > F.col("best_y_right")))
        .select(F.col("x").alias("p_size"), F.round("y", 2).alias("p_retailprice"))
        .orderBy("p_size", "p_retailprice")
    )


@REG.add(
    "win_topk_with_ties",
    oracle="""
    SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS acctbal, rk
    FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               CAST(rank() OVER (PARTITION BY c_mktsegment
                                 ORDER BY round(c_acctbal, 2) DESC)
                    AS INTEGER) AS rk
        FROM customer
    )
    WHERE rk <= 3
    ORDER BY c_mktsegment, rk, c_custkey
    """,
)
def win_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH TIES (``rank()``, the ``FETCH FIRST k ROWS WITH
    TIES`` semantics) beside the row_number top-k
    (``win_rank_topk_per_group``): when rank 3 is shared, EVERY holder
    is returned — the correct leaderboard/threshold semantics where an
    arbitrary tie victim would be a silent bug. Ranking runs on the
    ROUNDED value so tie groups are engine-identical; the output set is
    then deterministic with no tie-break needed (that's the point)."""
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.round(F.col("c_acctbal"), 2).desc()
    )
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.rank().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
        .orderBy("c_mktsegment", "rk", "c_custkey")
    )


@REG.add(
    "win_percent_rank_cume_dist",
    # percent_rank = (rank-1)/(n-1) and cume_dist = n_le/n are single
    # divisions of integers — bit-identical cross-engine, no rounding.
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cume
    FROM customer
    WHERE c_nationkey < 5
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    ORDER BY c_nationkey, c_acctbal, c_custkey
    """,
)
def win_percent_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing window functions — percent_rank and cume_dist
    of each customer's balance inside its nation (the normalized-rank
    features fed to scale-free models, and the SQL way to read 'this
    account is in the top 3% of its cohort'). The (balance, key) order
    makes ranks total, so both ratios are integer-exact; one shuffle on
    the partition key serves both functions from the same sort."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 5)
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_nationkey",
        "c_custkey",
        "c_acctbal",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    ).orderBy("c_nationkey", "c_acctbal", "c_custkey")


CONC_GAP_SECONDS = 4 * 3600


#: Shared by ``win_max_concurrency`` and its scale twin: the +1/-1
#: sweep is integer arithmetic over an explicit total order
#: (ts, delta, user) — ends sort before starts at equal ts (half-open
#: sessions), so the running level and its argmax are exact in both
#: engines, and BOTH Spark plans must reproduce it bit-for-bit.
_MAX_CONCURRENCY_ORACLE = f"""
    WITH marks AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w)
                            > {CONC_GAP_SECONDS}
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id,
               ts
        FROM marks
    ),
    spans AS (
        SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
        FROM sess GROUP BY user_id, session_id
    ),
    deltas AS (
        SELECT s AS at_ts, 1 AS delta, user_id FROM spans
        UNION ALL
        SELECT e, -1, user_id FROM spans
    ),
    level AS (
        SELECT at_ts,
               sum(delta) OVER (ORDER BY at_ts, delta, user_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS concurrent
        FROM deltas
    )
    SELECT CAST(max(concurrent) AS BIGINT) AS max_concurrent,
           strftime(min(at_ts) FILTER (concurrent =
               (SELECT max(concurrent) FROM level)), '{TS_FMT_DUCK}')
               AS first_peak_ts
    FROM level
    """


def _peak_argmax(level: DataFrame) -> DataFrame:
    """(max concurrency, first time it was reached) in ONE aggregate.

    Replaces the two-pass scalar-crossJoin shape (peak agg + broadcast
    + a second traversal of the level stream; r13 optimization): the
    argmax rides a single ``max(struct(concurrent, -micros))`` — struct
    ordering maximizes the level and, within the peak level, the most
    NEGATIVE micros, i.e. the EARLIEST timestamp, exactly the
    ``min(at_ts) FILTER (concurrent = max)`` the oracle computes.
    ``at_ts`` is never NULL (sessionize drops NULL timestamps, spans
    are min/max over non-null), and an empty stream yields a NULL
    struct -> (NULL, NULL), identical to the old two-pass result."""
    t = F.max(
        F.struct(
            F.col("concurrent").alias("c"),
            (-F.unix_micros(F.col("at_ts"))).alias("nts"),
        )
    )
    return level.agg(t.alias("t")).select(
        F.col("t.c").alias("max_concurrent"),
        F.date_format(
            F.timestamp_micros(-F.col("t.nts")), TS_FMT_SPARK
        ).alias("first_peak_ts"),
    )


@REG.add("win_max_concurrency", oracle=_MAX_CONCURRENCY_ORACLE)
def win_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent user sessions — the interval-counting classic
    (capacity planning, licensing audits): sessionize each user's
    events ({CONC_GAP_SECONDS // 3600}h gap), emit +1 at session start
    and −1 at session end, and the running sum over (ts, delta, user)
    — ends before starts at the same instant, i.e. half-open spans —
    is the live concurrency level; its max and first peak time fall
    out of the same ordered pass. The sweep sorts 2 rows per SESSION
    (not per event) — at 100 TB the event->span rollup does the data
    reduction, and the global ordered prefix-sum runs over the
    span-bounded set (range-partitioned sort; per-partition offsets
    compose because + is associative)."""
    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev, "user_id", "ts", CONC_GAP_SECONDS)
    spans = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    deltas = spans.select(
        F.col("s").alias("at_ts"), F.lit(1).alias("delta"), "user_id"
    ).unionByName(
        spans.select(F.col("e").alias("at_ts"), F.lit(-1).alias("delta"), "user_id")
    )
    w = Window.orderBy("at_ts", "delta", "user_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    level = deltas.select(
        "at_ts", F.sum("delta").over(w).alias("concurrent")
    )
    return _peak_argmax(level)


@REG.add("win_max_concurrency_scale", oracle=_MAX_CONCURRENCY_ORACLE)
def win_max_concurrency_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-safe twin of ``win_max_concurrency``: the SAME peak /
    first-peak answer (identical oracle pins it bit-for-bit) with NO
    un-partitioned window over the delta stream. The running level is
    ``distributed_prefix_sum`` of the deltas over the total order
    (at_ts, delta, user_id) — unique by construction: a user's sessions
    are disjoint, so no two deltas share all three. The only
    single-partition work is the per-range offsets window and the final
    1-row argmax — constant-size metadata at any input scale. The
    event→span rollup before the sweep keeps the stream at 2 rows per
    session, so materializing it is cheap at any scale."""
    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev, "user_id", "ts", CONC_GAP_SECONDS)
    spans = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    deltas = spans.select(
        F.col("s").alias("at_ts"), F.lit(1).alias("delta"), "user_id"
    ).unionByName(
        spans.select(F.col("e").alias("at_ts"), F.lit(-1).alias("delta"), "user_id")
    )
    # Materialized under the caller's AQE first: the primitive builds its
    # input inside a non-adaptive checkpoint, where the sessionize and
    # rollup shuffles would run uncoalesced at the session's raw
    # shuffle-partition count (200 in a stock session: 2x slower at
    # sf0.1 on local[4]).
    level = distributed_prefix_sum(
        deltas.localCheckpoint(eager=True),
        [F.col("at_ts"), F.col("delta"), F.col("user_id")],
        F.col("delta"),
    ).select("at_ts", F.col("cum").alias("concurrent"))
    return _peak_argmax(level)
