"""Registry plumbing for the driver contract (``__spark_entry__.py``).

Each query family module builds a ``Registry``: named PySpark callables
``(spark, sf_dir) -> DataFrame`` plus, where SQL-expressible, a DuckDB
oracle twin. Column names/types are aligned between the two on purpose —
the driver's compare sorts columns by name and value-hashes.

Determinism conventions used across all families (so the hash compare is
stable across engines and across partition orderings):
- money-scale SUMs over many rows are rounded to 0 decimals; small-group
  sums to 2; AVGs and ratios to 6 (floating-point accumulation order
  differs between Spark partials and DuckDB, so unrounded doubles would
  hash-mismatch at the last ulp);
- timestamps are emitted as formatted strings (engine-neutral);
- every top-k uses an explicit deterministic tie-break key.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

#: The engine session contract, applied when a registry entry is invoked on
#: a caller-owned session (the driver hands us ITS session — arbitrary host
#: TZ, stock configs). Deliberately NOT restored on return: entries return
#: lazy DataFrames whose execution (collect/write) happens after the entry
#: returns, so the contract must outlive the call. This is the engine's
#: public API boundary — pinned here once, documented, instead of as hidden
#: side effects inside scan helpers (sources/io.py keeps only the
#: required-for-read nanos toggle).
#:
#: - UTC session time zone: timestamp->string rendering must be engine- and
#:   host-TZ-neutral or oracle hash compares diverge (caught by the
#:   foreign-TZ driver-sim probe, tests/test_entry_contract.py).
#: - nanosAsLong: the fixture ``events`` table stores TIMESTAMP(NANOS),
#:   which Spark's vectorized parquet reader otherwise rejects.
ENGINE_SESSION_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def apply_session_contract(spark: SparkSession) -> None:
    for k, v in ENGINE_SESSION_CONFS.items():
        spark.conf.set(k, v)


class Registry:
    def __init__(self) -> None:
        self.queries: dict[str, QueryFn] = {}
        self.oracle: dict[str, str] = {}

    def add(self, name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
        """Register ``fn`` under ``name``; ``oracle`` is the DuckDB SQL twin
        (omit for non-SQL-expressible ops -> driver does a rows-only check).
        The registered callable pins :data:`ENGINE_SESSION_CONFS` on entry."""

        def deco(fn: QueryFn) -> QueryFn:
            if name in self.queries:
                raise ValueError(f"duplicate query name: {name}")

            @functools.wraps(fn)
            def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
                apply_session_contract(spark)
                return fn(spark, sf_dir)

            self.queries[name] = wrapped
            if oracle is not None:
                self.oracle[name] = oracle
            return wrapped

        return deco

    def merge(self, *others: "Registry") -> "Registry":
        for other in others:
            for name in other.queries:
                if name in self.queries:
                    raise ValueError(f"duplicate query name across families: {name}")
            self.queries.update(other.queries)
            self.oracle.update(other.oracle)
        return self


#: rows_df literal-plan cap: codegen of a fresh ~N*cols literal tree is
#: fixed cost per CALL (values differ per run, so it never caches);
#: measured 3-5 s at 256 rows vs ~0.4 s for createDataFrame — the
#: crossover sits near a few dozen rows (docstring below).
ROWS_DF_MAX = 48


def rows_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Small driver-assembled result set as a LITERAL DataFrame.

    ``spark.createDataFrame(rows, ...)`` routes tiny result tables
    through applySchemaToPythonRDD: executing the returned frame spins
    up Python workers to evaluate a pickled RDD — measured ~0.4 s per
    entry for a <=256-row result, pure fixed cost (r13 optimization).
    This helper instead builds ``range(1) -> inline(array(struct...))``
    from literals: the whole relation constant-folds inside the JVM,
    no Python worker ever starts, and values are the same exact
    literals. ONLY for tiny results (<~32 rows x a few columns): each
    call's literal plan is unique, so its codegen never caches — at
    256 rows the compile cost measured 3-5 s/call, 10x WORSE than
    createDataFrame. Keep createDataFrame for larger frames, empty
    frames (``inline`` needs at least one struct), and genuinely
    external row sources."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    st = T.StructType.fromDDL(schema)
    if not rows or len(rows) > ROWS_DF_MAX:
        # Self-enforcing contract: above the measured crossover the
        # literal plan's one-off codegen is ~10x WORSE than the Python
        # worker it avoids — fall back instead of trusting every future
        # caller to re-read this docstring. createDataFrame verifies
        # Python types where lit(v).cast(type) coerces, so numbers are
        # first converted to their field's type: both paths accept the
        # same rows (an int in a DOUBLE field, say).
        return spark.createDataFrame(
            [tuple(_as_field_type(v, f.dataType) for v, f in zip(row, st.fields)) for row in rows],
            st,
        )
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(row, st.fields)
            ]
        )
        for row in rows
    ]
    return spark.range(1).select(F.inline(F.array(*structs)))


def _as_field_type(v, dt):
    """``v`` converted as ``lit(v).cast(dt)`` converts a number: to float
    for FLOAT/DOUBLE, truncated to int for the integral types; anything
    else unchanged."""
    from pyspark.sql import types as T

    if v is None:
        return v
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return float(v)
    if isinstance(dt, T.IntegralType) and isinstance(v, float):
        return int(v)
    return v


# Engine-neutral timestamp rendering (Spark pattern <-> DuckDB strftime):
TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"
DATE_FMT_SPARK = "yyyy-MM-dd"
DATE_FMT_DUCK = "%Y-%m-%d"
