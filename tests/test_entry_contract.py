"""Driver-sim session-contract probe, pinned in CI.

The driver hands registry entries ITS SparkSession — arbitrary host time
zone, stock confs. Entries pin the engine session contract
(``registry/_core.ENGINE_SESSION_CONFS``: UTC rendering + nanosAsLong)
at invocation, and that pin is what keeps timestamp-rendering queries
hash-identical to the DuckDB oracle. This file simulates the hostile
caller: force a non-UTC session TZ, run timestamp-heavy entries, and
require oracle parity anyway. If someone removes the `_core` wrapper or
an entry bypasses the registry decorator, THIS fails — previously the
probe lived only in the manual verify recipe
(`.claude/skills/verify/SKILL.md`).
"""

from __future__ import annotations

import pytest

from projetos_etl_spark.registry import all_oracle_sql, all_queries
from tests.conftest import SF_DIR, assert_oracle_match

#: Entries whose output renders timestamps or depends on session TZ —
#: the ones a TZ leak would corrupt first (events.ts formatting, date
#: arithmetic, hourly spine generation).
TZ_SENSITIVE = [
    "fn_date",
    "win_lag_delta",
    "sessionize_events",
    "ts_resample_ffill",
    "join_asof_events",
]


@pytest.mark.parametrize("name", TZ_SENSITIVE)
def test_entry_parity_under_foreign_tz(name, spark, duck):
    queries, oracles = all_queries(), all_oracle_sql()
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        # The entry itself must re-pin UTC; we do NOT reset it here.
        assert_oracle_match(queries[name](spark, SF_DIR), duck, oracles[name])
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_contract_is_applied_by_decorator(spark):
    from projetos_etl_spark.registry._core import ENGINE_SESSION_CONFS

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        all_queries()["q1_pricing_summary"](spark, SF_DIR)
        for k, v in ENGINE_SESSION_CONFS.items():
            assert spark.conf.get(k) == v
    finally:
        # On assertion failure the foreign TZ must not leak into the
        # session-scoped fixture and cascade into unrelated tests.
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


@pytest.mark.parametrize("n", [1, "above_max"])
def test_rows_df_accepts_the_same_rows_on_both_paths(spark, n):
    # One row builds the literal plan; ROWS_DF_MAX + 1 rows fall back to
    # createDataFrame, which verifies Python types. Both must take an int
    # in a DOUBLE field and a float in a BIGINT field, cast alike.
    from projetos_etl_spark.registry._core import ROWS_DF_MAX, rows_df

    n_rows = ROWS_DF_MAX + 1 if n == "above_max" else n
    rows = [(i, 2.9, None) for i in range(n_rows)]
    df = rows_df(spark, rows, "x double, k bigint, y double")
    assert df.schema.simpleString() == "struct<x:double,k:bigint,y:double>"
    got = sorted(tuple(r) for r in df.collect())
    assert got == [(float(i), 2, None) for i in range(n_rows)]
    assert all(type(x) is float for x, _, _ in got)
