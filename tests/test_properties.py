"""Property-based tests (hypothesis): engine operators vs independent
pure-Python reference implementations on randomized inputs.

Each property batches all generated examples into ONE DataFrame per case
so Spark job count stays bounded; examples are capped because every
hypothesis case is a distributed job.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from projetos_etl_spark.medallion import clean_currency_col

PROP = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _brl_string_py(cents: int) -> str:
    """Reference-style currency rendering, mirroring registry/medallion."""
    dollars, rem = divmod(cents, 100)
    th, un = divmod(dollars, 1000)
    return f"R${th},{un:03d}.{rem:02d}"


@PROP
@given(st.lists(st.integers(0, 10**13), min_size=1, max_size=40, unique=True))
def test_currency_clean_roundtrip(spark, cents_list):
    rows = [(c, _brl_string_py(c)) for c in cents_list]
    df = spark.createDataFrame(rows, ["cents", "s"])
    out = df.select(
        "cents", clean_currency_col(F.col("s"), "R$").alias("parsed")
    ).collect()
    for r in out:
        assert r.parsed == r.cents / 100.0


def _min_rolling_hash_py(text: str, k: int = 8, base: int = 131, mod: int = 2147483647) -> int:
    best = mod + 1
    for i in range(len(text) - k + 1):
        h = 0
        for ch in text[i : i + k]:
            h = (h * base + ord(ch)) % mod
        best = min(best, h)
    return best


@PROP
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=8,
            max_size=120,
        ),
        min_size=1,
        max_size=25,
    )
)
def test_rolling_hash_matches_python(spark, texts):
    from projetos_etl_spark.registry.text import REG  # noqa: F401 — expr lives there

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    # Reuse the registry's expression by temp-view + the same SQL shape.
    codes = (
        "transform(sequence(1, length(text)),"
        " i -> cast(ascii(substring(text, i, 1)) as bigint))"
    )
    expr = (
        "aggregate(transform(sequence(1, size(cs) - 7),"
        " i -> aggregate(slice(cs, i, 8), cast(0 as bigint),"
        " (h, c) -> (h * 131 + c) % 2147483647)),"
        " cast(2147483648 as bigint), (acc, x) -> least(acc, x))"
    )
    out = (
        df.filter(F.length("text") >= 8)
        .select("doc_id", F.expr(codes).alias("cs"))
        .select("doc_id", F.expr(expr).alias("h"))
        .collect()
    )
    for r in out:
        assert r.h == _min_rolling_hash_py(texts[r.doc_id])


@PROP
@given(
    st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100)), min_size=1, max_size=60),
    st.lists(st.tuples(st.integers(0, 5), st.text(alphabet="abc", max_size=2)),
             min_size=1, max_size=12),
)
def test_salted_join_equals_plain_join(spark, big_rows, small_rows):
    from projetos_etl_spark.operators.salt import salted_join

    big = spark.createDataFrame(big_rows, ["k", "v"])
    small = spark.createDataFrame(small_rows, ["k", "s"]).dropDuplicates(["k"])
    got = sorted(
        tuple(r) for r in salted_join(big, small, on=["k"], n_salts=4).collect()
    )
    want = sorted(tuple(r) for r in big.join(small, on="k").collect())
    assert got == want


@PROP
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 10**6)),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 10**6)),
        min_size=1,
        max_size=40,
        unique=True,
    ),
)
def test_asof_join_matches_naive(spark, left_rows, right_rows):
    """asof_join == 'most recent right at-or-before left ts per key'."""
    from projetos_etl_spark.operators.asof import asof_join

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("ts", T.LongType())]
    )
    left = spark.createDataFrame(left_rows, schema)
    right = spark.createDataFrame(right_rows, schema).withColumn("rv", F.col("ts"))
    got = {
        (r.k, r.ts): r.rv
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_value_cols=["rv"], suffix="",
        ).collect()
    }
    assert len(got) == len(left_rows)
    for lk, lts in left_rows:
        best = max(
            (ts for k, ts in right_rows if k == lk and ts <= lts), default=None
        )
        assert got[(lk, lts)] == best


@PROP
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 10**6)),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 10**6)),
        min_size=1,
        max_size=40,
        unique=True,
    ),
)
def test_asof_forward_matches_naive(spark, left_rows, right_rows):
    """direction='forward' == 'nearest right at-or-after left ts per key'
    (ties inclusive, no future row -> NULL)."""
    from projetos_etl_spark.operators.asof import asof_join

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("ts", T.LongType())]
    )
    left = spark.createDataFrame(left_rows, schema)
    right = spark.createDataFrame(right_rows, schema).withColumn("rv", F.col("ts"))
    got = {
        (r.k, r.ts): r.rv
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_value_cols=["rv"], suffix="", direction="forward",
        ).collect()
    }
    assert len(got) == len(left_rows)
    for lk, lts in left_rows:
        best = min(
            (ts for k, ts in right_rows if k == lk and ts >= lts), default=None
        )
        assert got[(lk, lts)] == best


@PROP
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 200)),
        min_size=1,
        max_size=30,
        unique=True,
    ),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 200)),
        min_size=1,
        max_size=30,
        unique=True,
    ),
    st.integers(1, 30),
    st.sampled_from(["backward", "forward"]),
)
def test_asof_tolerance_gates_stale_matches(spark, left_rows, right_rows, tol, direction):
    """Bounded-staleness as-of: the carried value must be exactly the
    plain as-of match when its age is <= tolerance and NULL when
    STRICTLY older, in both directions — the boundary case (age ==
    tolerance, still a match) is the one hypothesis will find."""
    from projetos_etl_spark.operators.asof import asof_join

    def mk(rows):
        return spark.createDataFrame(rows, "k long, sec long").select(
            "k", F.timestamp_seconds("sec").alias("ts"), "sec"
        )

    left = mk(left_rows)  # keeps `sec` as a pass-through left column
    right = mk(right_rows).select("k", "ts", F.col("sec").alias("rv"))
    got = {
        (r.k, r.sec): r.rv
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            right_value_cols=["rv"], suffix="", direction=direction,
            tolerance_seconds=float(tol),
        ).collect()
    }
    assert len(got) == len(left_rows)
    for lk, lsec in left_rows:
        if direction == "backward":
            best = max(
                (s for k, s in right_rows if k == lk and s <= lsec), default=None
            )
            ok = best is not None and (lsec - best) <= tol
        else:
            best = min(
                (s for k, s in right_rows if k == lk and s >= lsec), default=None
            )
            ok = best is not None and (best - lsec) <= tol
        assert got[(lk, lsec)] == (best if ok else None), (lk, lsec, best, ok)


def _cc_reference(n_vertices, edges):
    """Union-find reference for connected components."""
    parent = list(range(n_vertices))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # fully compress, then label = min id of the set
    comp = {}
    for v in range(n_vertices):
        r = find(v)
        comp.setdefault(r, min(r, v))
    return {v: min(w for w in range(n_vertices) if find(w) == find(v)) for v in range(n_vertices)}


@PROP
@given(
    st.integers(2, 12).flatmap(
        lambda n: st.tuples(
            st.just(n),
            st.lists(
                st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
                max_size=18,
            ),
        )
    )
)
def test_connected_components_matches_union_find(spark, case):
    from projetos_etl_spark.operators.components import connected_components

    n, edges = case
    verts = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    if edges:
        edf = spark.createDataFrame(edges, ["src", "dst"])
    else:
        edf = spark.createDataFrame([], "src INT, dst INT")
    got = {r.id: r.component for r in connected_components(verts, edf).collect()}
    assert got == _cc_reference(n, edges)


@PROP
@given(
    st.lists(
        st.tuples(
            st.integers(0, 15),              # key
            st.sampled_from(["I", "U", "D"]),
            st.integers(1, 5),               # seq
            st.integers(0, 999),             # payload
        ),
        max_size=20,
    )
)
def test_cdc_apply_matches_reference(spark, changes):
    """apply_cdc vs a dict-based reference: latest seq wins per key;
    ties on (key, seq) are excluded by construction (dedup below)."""
    from projetos_etl_spark.operators.cdc import apply_cdc

    seen = set()
    uniq = []
    for k, op, seq, val in changes:
        if (k, seq) not in seen:
            seen.add((k, seq))
            uniq.append((k, op, seq, val))
    base_rows = [(k, k * 10) for k in range(8)]

    ref = {k: v for k, v in base_rows}
    latest = {}
    for k, op, seq, val in uniq:
        if k not in latest or seq > latest[k][0]:
            latest[k] = (seq, op, val)
    for k, (seq, op, val) in latest.items():
        if op == "D":
            ref.pop(k, None)
        else:
            ref[k] = val

    base = spark.createDataFrame(base_rows, "key INT, payload INT")
    if uniq:
        chg = spark.createDataFrame(
            [(k, op, seq, v) for k, op, seq, v in uniq],
            "key INT, op STRING, seq INT, payload INT",
        )
    else:
        chg = spark.createDataFrame([], "key INT, op STRING, seq INT, payload INT")
    got = {
        r.key: r.payload
        for r in apply_cdc(base, chg, key="key").collect()
    }
    assert got == ref


def _weighted_median_py(pairs: list[tuple[float, int]]) -> float:
    """Reference: smallest value whose cumulative weight reaches half
    the total (matching the engine's cum >= tot/2 rule)."""
    total = sum(w for _, w in pairs)
    cum = 0
    for v, w in sorted(pairs):
        cum += w
        if cum >= total / 2:
            return v
    return sorted(pairs)[-1][0]


@PROP
@given(
    st.lists(
        st.tuples(
            st.integers(1, 500),  # value (int-valued double: exact compare)
            st.integers(1, 20),  # weight
        ),
        min_size=1,
        max_size=60,
    )
)
def test_weighted_median_matches_python(spark, pairs):
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(float(v), w) for v, w in pairs], "price double, w int"
    )
    # Same shape as registry agg_weighted_median: pre-agg -> cum window.
    g = df.groupBy("price").agg(F.sum("w").alias("w"))
    wo = Window.orderBy("price")
    c = g.select(
        "price",
        F.sum("w").over(wo).alias("cum"),
        F.sum("w").over(Window.partitionBy()).alias("tot"),
    )
    got = (
        c.filter(F.col("cum") >= F.col("tot") / 2)
        .agg(F.min("price"))
        .collect()[0][0]
    )
    assert got == _weighted_median_py([(float(v), w) for v, w in pairs])


def _moments_py(xs: list[int]) -> tuple[float, float]:
    import math

    n = len(xs)
    mu = sum(xs) / n
    m2 = sum((x - mu) ** 2 for x in xs) / n
    m3 = sum((x - mu) ** 3 for x in xs) / n
    m4 = sum((x - mu) ** 4 for x in xs) / n
    if m2 == 0:
        return float("nan"), float("nan")
    return m3 / m2**1.5, m4 / m2**2 - 3


@PROP
@given(st.lists(st.integers(0, 50), min_size=3, max_size=80))
def test_power_sum_moments_match_python(spark, xs):
    # Degenerate constant lists divide by zero variance; reference
    # returns nan and the engine null — both mean "undefined", skip.
    df = spark.createDataFrame([(float(x),) for x in xs], "q double")
    q = F.col("q")
    m = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(q).alias("mu"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
        F.sum(q).alias("s1"),
    )
    n, mu = F.col("n"), F.col("mu")
    m2 = (F.col("s2") - n * mu * mu) / n
    cm3 = F.col("s3") - 3 * mu * F.col("s2") + 3 * mu * mu * F.col("s1") - n * mu * mu * mu
    cm4 = (
        F.col("s4")
        - 4 * mu * F.col("s3")
        + 6 * mu * mu * F.col("s2")
        - 4 * mu * mu * mu * F.col("s1")
        + n * mu * mu * mu * mu
    )
    row = m.select(
        ((cm3 / n) / F.nullif(F.pow(m2, 1.5), F.lit(0.0))).alias("skew"),
        ((cm4 / n) / F.nullif(m2 * m2, F.lit(0.0)) - 3).alias("kurt"),
    ).collect()[0]
    ref_skew, ref_kurt = _moments_py(xs)
    import math

    if math.isnan(ref_skew):
        assert row.skew is None or math.isnan(row.skew)
    else:
        # Power-sum algebra cancels catastrophically near zero variance;
        # the integer-valued inputs here keep both forms well within 1e-6.
        assert abs(row.skew - ref_skew) < 1e-6, (row.skew, ref_skew)
        assert abs(row.kurt - ref_kurt) < 1e-6, (row.kurt, ref_kurt)


def _triangles_py(edges: set[tuple[int, int]]) -> int:
    nodes = {a for a, _ in edges} | {b for _, b in edges}
    adj = {v: set() for v in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    count = 0
    for a, b in edges:
        count += len(adj[a] & adj[b])
    # Every triangle counted once per edge = 3 times.
    return count // 3


@PROP
@given(
    st.sets(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(
            lambda t: t[0] != t[1]
        ),
        min_size=0,
        max_size=40,
    )
)
def test_triangle_join_matches_python(spark, raw_edges):
    edges = {(min(a, b), max(a, b)) for a, b in raw_edges}
    if not edges:
        return
    e = spark.createDataFrame(sorted(edges), "a int, b int")
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(e3, (F.col("e1.a") == F.col("e3.a")) & (F.col("e2.b") == F.col("e3.b")))
    )
    assert tri.count() == _triangles_py(edges)


@PROP
@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), st.text(alphabet="abcxyz", min_size=0, max_size=8)),
        min_size=1,
        max_size=50,
        unique_by=lambda t: t[0],
    ),
    st.randoms(),
)
def test_table_checksum_is_order_insensitive_and_content_sensitive(spark, rows, rnd):
    """The commutative md5 fold must be invariant under row order (the
    property that lets two 100 TB copies be compared without sorting)
    and must move when any row's content changes."""

    def checksum(data):
        df = spark.createDataFrame(data, "k long, s string")
        row_str = F.concat_ws("|", F.col("k").cast("string"), F.col("s"))
        term = F.conv(
            F.substring(F.md5(row_str.cast("binary")), 1, 14), 16, 10
        ).cast("long")
        return df.agg(
            (F.sum(term.cast("decimal(38,0)")) % F.lit(9007199254740993)).cast("long")
        ).collect()[0][0]

    shuffled = list(rows)
    rnd.shuffle(shuffled)
    base = checksum(rows)
    assert checksum(shuffled) == base
    mutated = [(k + 1, s) if i == 0 else (k, s) for i, (k, s) in enumerate(rows)]
    assert checksum(mutated) != base


def _gini_py(xs: list[int]) -> float:
    xs = sorted(xs)
    n = len(xs)
    total = sum(xs)
    if total == 0:
        return 0.0
    return sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs)) / (n * total)


@PROP
@given(st.lists(st.integers(0, 1000), min_size=2, max_size=60))
def test_gini_rank_formula_matches_python(spark, xs):
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(float(x), i) for i, x in enumerate(xs)], "x double, id int"
    )
    wo = Window.orderBy("x", "id")
    wp = Window.partitionBy()
    ranked = df.select(
        "x",
        F.row_number().over(wo).alias("i"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    got = ranked.agg(
        (
            F.sum((2.0 * F.col("i") - F.col("n") - 1) * F.col("x"))
            / (F.max("n") * F.nullif(F.sum("x"), F.lit(0.0)))
        ).alias("g")
    ).collect()[0][0]
    ref = _gini_py(xs)
    if sum(xs) == 0:
        assert got is None
    else:
        assert abs(got - ref) < 1e-9, (got, ref)


def _near_pairs_py(vals: list[int], max_dist: int) -> set[tuple[int, int]]:
    return {
        (i, j)
        for i in range(len(vals))
        for j in range(i + 1, len(vals))
        if bin(vals[i] ^ vals[j]).count("1") <= max_dist
    }


@PROP
@given(st.lists(st.integers(0, 65535), min_size=2, max_size=14))
def test_simhash_pigeonhole_blocking_is_complete(spark, vals):
    """The Manku pigeonhole guarantee on ARBITRARY signatures, not just
    the corpus distribution the fixture oracle exercises: the union of
    the three segment equi-joins followed by the exact Hamming filter
    must find EXACTLY the brute-force pair set within radius 2 —
    including duplicate signatures (distance 0) and adversarial
    near-boundary patterns hypothesis likes to generate."""
    from projetos_etl_spark.operators.simhash import hamming_distance
    from projetos_etl_spark.registry.dedup import HAMMING_MAX_DIST, _SH_SEGMENTS

    sigs = spark.createDataFrame(
        [(i, format(v, "016b")) for i, v in enumerate(vals)],
        "doc_id long, simhash string",
    )
    segs = None
    for i, (start, length) in enumerate(_SH_SEGMENTS):
        t = sigs.select(
            "doc_id",
            "simhash",
            F.lit(i).alias("seg_id"),
            F.substring("simhash", start, length).alias("seg_val"),
        )
        segs = t if segs is None else segs.unionByName(t)
    a, b = segs.alias("a"), segs.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.seg_id") == F.col("b.seg_id"))
            & (F.col("a.seg_val") == F.col("b.seg_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in cands.filter(
            hamming_distance("sig_a", "sig_b") <= HAMMING_MAX_DIST
        ).collect()
    }
    assert got == _near_pairs_py(vals, HAMMING_MAX_DIST)


def _kcore_py(edges: set[tuple[int, int]], k: int) -> dict[int, int]:
    """Peel to the fixpoint; returns {survivor: degree-within-core}."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    while True:
        doomed = {v for v in alive if len(adj[v] & alive) < k}
        if not doomed:
            return {v: len(adj[v] & alive) for v in alive}
        alive -= doomed


@PROP
@given(
    st.sets(
        st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(
            lambda t: t[0] != t[1]
        ),
        min_size=1,
        max_size=16,
    ),
    st.integers(1, 3),
)
def test_kcore_peeling_reaches_true_fixpoint(spark, raw_edges, k):
    """Synchronous distributed peeling (the graph_kcore_decomposition
    loop shape: edge-join degree count + alive mask per round) must
    converge to the unique k-core — the maximal subgraph of min degree
    >= k — for arbitrary graphs and k, with survivor degrees matching a
    sequential peel. n rounds always suffice: a non-converged round
    kills at least one node."""
    edges = {(min(a, b), max(a, b)) for a, b in raw_edges}
    und_rows = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
    und = spark.createDataFrame(und_rows, "src long, dst long")
    alive = (
        und.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.lit(True).alias("alive"))
    )
    n_nodes = len({v for e in edges for v in e})
    for _ in range(n_nodes):
        deg = (
            und.join(
                alive.select(F.col("id").alias("dst"), F.col("alive").alias("da")),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum(F.col("da").cast("int")).alias("deg"))
        )
        alive = alive.join(deg, "id", "left").select(
            "id",
            (F.col("alive") & (F.coalesce("deg", F.lit(0)) >= k)).alias("alive"),
        )
    deg_fin = (
        und.join(
            alive.select(F.col("id").alias("dst"), F.col("alive").alias("da")),
            "dst",
        )
        .groupBy(F.col("src").alias("id"))
        .agg(F.sum(F.col("da").cast("int")).alias("d"))
    )
    got = {
        r.id: r.d
        for r in alive.join(deg_fin, "id", "left")
        .filter(F.col("alive"))
        .collect()
    }
    assert got == _kcore_py(edges, k)


@PROP
@given(st.lists(st.integers(0, 50), min_size=1, max_size=40))
def test_ntile_scale_arithmetic_matches_builtin(spark, values):
    """win_ntile_scale's decile path (distributed_prefix_sum of 1 +
    ntile_of_rank) must assign the IDENTICAL bucket as built-in
    ntile(10) for every n — including n < 10, heavy ties on the value
    (the id tiebreak makes the total key unique), and more ranges than
    rows (the session's 8), which leaves range partitions empty."""
    from pyspark.sql import Window

    from projetos_etl_spark.registry.windows import ntile_of_rank
    from projetos_etl_spark.sources.io import distributed_prefix_sum

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(values)], "id long, v double"
    )
    ranked = distributed_prefix_sum(df, [F.col("v"), F.col("id")], F.lit(1))
    got = {
        r.id: r.decile
        for r in ranked.select("id", ntile_of_rank(10).alias("decile")).collect()
    }
    want = {
        r.id: r.decile
        for r in df.select(
            "id", F.ntile(10).over(Window.orderBy("v", "id")).alias("decile")
        ).collect()
    }
    assert got == want


@PROP
@given(
    st.lists(
        st.tuples(st.one_of(st.none(), st.integers(0, 5)), st.integers(-50, 50)),
        min_size=1,
        max_size=40,
    )
)
def test_distributed_prefix_sum_matches_builtin_running_sum(spark, rows):
    """distributed_prefix_sum(value=...) equals the built-in running sum
    row for row: ties and NULLs on the leading key (one asc_nulls_last
    Column drives partitioner and local sort), signed values."""
    from pyspark.sql import Window

    from projetos_etl_spark.sources.io import distributed_prefix_sum

    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], "id long, k int, v long"
    )
    order = [F.col("k").asc_nulls_last(), F.col("id")]
    got = {
        r.id: (r.cum, r.total)
        for r in distributed_prefix_sum(df, order, F.col("v")).collect()
    }
    run = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    total = sum(v for _, v in rows)
    want = {
        r.id: (r.cum, total)
        for r in df.select("id", F.sum("v").over(run).alias("cum")).collect()
    }
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["append", "overwrite"]),
            st.lists(
                st.tuples(st.integers(0, 9), st.integers(0, 99)),
                min_size=1,
                max_size=5,
            ),
        ),
        min_size=1,
        max_size=4,
    )
)
def test_tablelog_time_travel_replays_every_version(spark, ops):
    """Randomized append/overwrite sequences: after the whole sequence
    commits, reading EVERY historical version must return exactly the
    row multiset that was visible when that version was published —
    append accumulates, overwrite resets, and later commits never
    disturb earlier snapshots."""
    import shutil
    import tempfile

    from projetos_etl_spark.operators.tablelog import commit, read

    t = tempfile.mkdtemp(prefix="pes_prop_tlog_")
    try:
        expected_by_version: dict[int, list[tuple[int, int]]] = {}
        state: list[tuple[int, int]] = []
        for mode, rows in ops:
            df = spark.createDataFrame(rows, "k int, v int")
            ver = commit(df, t, mode=mode)
            state = (state + rows) if mode == "append" else list(rows)
            expected_by_version[ver] = sorted(state)
        assert sorted(expected_by_version) == list(
            range(1, len(ops) + 1)
        )
        for ver, want in expected_by_version.items():
            got = sorted(
                (r.k, r.v) for r in read(spark, t, version=ver).collect()
            )
            assert got == want, (ver, got, want)
    finally:
        shutil.rmtree(t, ignore_errors=True)


def _minhash_sigs_py(text: str, k: int = 16) -> list[str]:
    import hashlib

    toks = text.split(" ")
    sh = (
        {text}
        if len(toks) < 3
        else {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    )
    out = []
    for i in range(k):
        digest_prefix = f"mh{i // 4}|"
        lo = 8 * (i % 4)
        out.append(
            min(
                hashlib.md5((digest_prefix + s).encode()).hexdigest()[lo : lo + 8]
                for s in sh
            )
        )
    return out


def _lsh_candidates_py(
    sigs: dict[int, list[str]], band_size: int, max_bucket: int
) -> set[tuple[int, int]]:
    buckets: dict[tuple[int, tuple[str, ...]], list[int]] = {}
    for doc, sig in sigs.items():
        for b in range(len(sig) // band_size):
            key = (b, tuple(sig[b * band_size : (b + 1) * band_size]))
            buckets.setdefault(key, []).append(doc)
    pairs = set()
    for members in buckets.values():
        kept = sorted(members)[:max_bucket]
        pairs.update(
            (a, b) for i, a in enumerate(kept) for b in kept[i + 1 :]
        )
    return pairs


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=8),
        min_size=2,
        max_size=10,
    ),
    st.integers(1, 3),
)
def test_minhash_stack_matches_python(spark, word_lists, cap):
    """The full MinHash stack vs an independent Python re-derivation:
    (1) every signature slice is exactly the Python md5 minimum — the
    engine-portable construction really is engine-portable; (2) the
    banded-LSH candidate set with a hot-bucket cap equals the Python
    bucket simulation, including which members a capped bucket keeps
    (lowest ids). The tiny vocab forces shingle collisions, identical
    docs, and shared bands."""
    from projetos_etl_spark.operators.minhash import (
        lsh_candidate_ids,
        minhash_signatures,
    )

    texts = [" ".join(ws) for ws in word_lists]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sigs_df = minhash_signatures(df, "doc_id", "text")
    got_sigs = {
        r.doc_id: [r[f"sig_{i}"] for i in range(16)] for r in sigs_df.collect()
    }
    want_sigs = {i: _minhash_sigs_py(t) for i, t in enumerate(texts)}
    assert got_sigs == want_sigs

    got_pairs = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_ids(sigs_df, "doc_id", max_bucket=cap).collect()
    }
    assert got_pairs == _lsh_candidates_py(want_sigs, 4, cap)


def _sessionize_py(
    rows: list[tuple[int, int]], gap: int
) -> dict[tuple[int, int], int]:
    out = {}
    by_key: dict[int, list[int]] = {}
    for k, ts in rows:
        by_key.setdefault(k, []).append(ts)
    for k, tss in by_key.items():
        sid = 0
        prev = None
        for ts in sorted(tss):
            if prev is None or ts - prev > gap:
                sid += 1
            out[(k, ts)] = sid
            prev = ts
    return out


@PROP
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500)),
        min_size=1,
        max_size=50,
        unique=True,
    ),
    st.integers(1, 50),
)
def test_sessionize_matches_python(spark, rows, gap):
    """Gap-rule session assignment == a sequential per-key reference:
    1-based ids in time order, a new session iff the gap STRICTLY
    exceeds gap_seconds (boundary gaps stay in-session)."""
    from projetos_etl_spark.operators.sessionize import sessionize

    df = spark.createDataFrame(
        [(k, float(ts)) for k, ts in rows], "user_id int, ts double"
    )
    got = {
        (r.user_id, int(r.ts)): r.session_id
        for r in sessionize(df, key="user_id", ts_col="ts", gap_seconds=gap).collect()
    }
    assert got == _sessionize_py(rows, gap)


def _scd2_py(dim_rows, upd_rows, batch_ts):
    """Reference: dim_rows = (k, a, vf, vt); upd_rows = (k, a)."""
    out = [r for r in dim_rows if r[3] is not None]  # history passes through
    current = {r[0]: r for r in dim_rows if r[3] is None}
    upd = dict(upd_rows)
    for k, row in current.items():
        if k not in upd or upd[k] == row[1]:
            out.append(row)
        else:
            out.append((k, row[1], row[2], batch_ts))
    for k, a in upd.items():
        if k not in current or current[k][1] != a:
            out.append((k, a, batch_ts, None))
    return sorted(out, key=lambda r: (r[0], str(r[2]), str(r[3])))


@PROP
@given(
    st.dictionaries(st.integers(0, 6), st.integers(0, 3), min_size=1, max_size=6),
    st.dictionaries(st.integers(0, 9), st.integers(0, 3), max_size=6),
)
def test_scd2_apply_matches_python(spark, current_attrs, updates):
    """SCD2 upsert vs a dict reference across random overlap patterns:
    no-op updates pass through untouched, real changes close + reopen,
    unseen keys insert as current, and pre-existing closed history rows
    ride along unmodified."""
    from projetos_etl_spark.operators.scd2 import scd2_apply

    t0, t1, batch = "2020-01-01 00:00:00", "2020-02-01 00:00:00", "2020-06-01 00:00:00"
    dim_rows = [(k, a, t0, None) for k, a in current_attrs.items()]
    # one closed history row per current key, attr value shifted
    dim_rows += [(k, a + 100, t0, t1) for k, a in current_attrs.items()]
    dim = spark.createDataFrame(
        dim_rows, "k int, a int, valid_from string, valid_to string"
    ).select(
        "k",
        "a",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
    )
    upd = spark.createDataFrame(
        list(updates.items()) or [(None, None)], "k int, a int"
    )
    if not updates:
        upd = upd.filter(F.lit(False))
    res = scd2_apply(dim, upd, key="k", attrs=["a"], batch_ts=batch)
    fmt = "yyyy-MM-dd HH:mm:ss"
    got = sorted(
        (
            (r.k, r.a, r.valid_from, r.valid_to)
            for r in res.select(
                "k",
                "a",
                F.date_format("valid_from", fmt).alias("valid_from"),
                F.date_format("valid_to", fmt).alias("valid_to"),
            ).collect()
        ),
        key=lambda r: (r[0], str(r[2]), str(r[3])),
    )
    want = _scd2_py(dim_rows, list(updates.items()), batch)
    assert got == want


def _shingle_set_py(text: str) -> set[str]:
    toks = text.split(" ")
    if len(toks) < 3:
        return {text}
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=8),
        min_size=2,
        max_size=10,
    ),
    st.sampled_from([0.2, 0.5]),
)
def test_exact_jaccard_and_containment_match_python(spark, word_lists, threshold):
    """The inverted-index exact tiers vs Python set arithmetic: the
    shingle-join pair set, the Jaccard/containment values (6dp), and the
    threshold filter must all agree — including identical docs (J=1),
    subsumed docs (containment 1, small Jaccard), and pairs that share
    no shingle (absent entirely, never 0-scored)."""
    from projetos_etl_spark.operators.minhash import (
        exact_containment_pairs,
        exact_ngram_jaccard_pairs,
    )

    texts = [" ".join(ws) for ws in word_lists]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sets = {i: _shingle_set_py(t) for i, t in enumerate(texts)}

    want_j, want_c = {}, {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            inter = len(sets[a] & sets[b])
            if not inter:
                continue
            j = round(inter / len(sets[a] | sets[b]), 6)
            c = round(inter / min(len(sets[a]), len(sets[b])), 6)
            if j >= threshold:
                want_j[(a, b)] = j
            if c >= threshold:
                want_c[(a, b)] = c

    got_j = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in exact_ngram_jaccard_pairs(
            df, "doc_id", "text", threshold=threshold
        ).collect()
    }
    got_c = {
        (r.doc_a, r.doc_b): r.containment
        for r in exact_containment_pairs(
            df, "doc_id", "text", threshold=threshold
        ).collect()
    }
    assert got_j == want_j
    assert got_c == want_c


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.sets(
        st.tuples(st.integers(0, 8), st.integers(0, 8)).filter(
            lambda t: t[0] != t[1]
        ),
        min_size=1,
        max_size=20,
    )
)
def test_pagerank_conserves_mass_with_dangling_nodes(spark, edges):
    """Invariant: with the dangling-aware formulation, total rank mass
    stays exactly N (the vertex count) every run — random directed
    graphs, dangling sinks included. Also every rank >= (1 - d), the
    teleport floor."""
    from projetos_etl_spark.operators.pagerank import DAMPING, pagerank

    e = spark.createDataFrame(sorted(edges), "src long, dst long")
    ranks = pagerank(e, iters=3).collect()
    n = len({v for t in edges for v in t})
    assert len(ranks) == n
    assert abs(sum(r.rank for r in ranks) - n) < 1e-9 * max(n, 1)
    assert all(r.rank >= (1 - DAMPING) - 1e-12 for r in ranks)


@PROP
@given(
    st.lists(
        st.tuples(
            st.integers(0, 9),  # user
            st.integers(0, 60),  # start
            st.integers(0, 20),  # length (0 = degenerate point session)
        ),
        min_size=1,
        max_size=30,
    )
)
def test_concurrency_sweep_matches_interval_overlap(spark, raw_spans):
    """The win_max_concurrency sweep shape (+1 at start / -1 at end,
    ends-before-starts at equal ts) vs two independent references: a
    sequential replay of the same total order, and the brute-force
    half-open interval-overlap maximum — zero-length spans must never
    register, and sessions meeting end-to-start at the same instant
    must not count as concurrent."""
    from pyspark.sql import Window

    spans = [(u, s, s + ln) for u, s, ln in raw_spans]
    df = spark.createDataFrame(spans, "user_id int, s long, e long")
    deltas = df.select(
        F.col("s").alias("at_ts"), F.lit(1).alias("delta"), "user_id"
    ).unionByName(
        df.select(F.col("e").alias("at_ts"), F.lit(-1).alias("delta"), "user_id")
    )
    w = Window.orderBy("at_ts", "delta", "user_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    level = deltas.select("at_ts", F.sum("delta").over(w).alias("concurrent"))
    peak = level.agg(F.max("concurrent").alias("m"))
    row = (
        level.crossJoin(F.broadcast(peak))
        .agg(
            F.max("concurrent").alias("max_concurrent"),
            F.min(
                F.when(F.col("concurrent") == F.col("m"), F.col("at_ts"))
            ).alias("first_peak_ts"),
        )
        .collect()[0]
    )

    events = sorted(
        [(s, 1, u) for u, s, e in spans] + [(e, -1, u) for u, s, e in spans],
        key=lambda t: (t[0], t[1], t[2]),
    )
    lvl, seq_max, first_ts = 0, None, None
    for ts, d, _u in events:
        lvl += d
        if seq_max is None or lvl > seq_max:
            seq_max, first_ts = lvl, ts
    assert row.max_concurrent == seq_max
    assert row.first_peak_ts == first_ts

    brute = max(
        sum(1 for _u, s, e in spans if s <= t < e)
        for t in {s for _u, s, _e in spans}
    )
    assert seq_max == brute  # the sweep max IS the interval-overlap max


def _bdays_py(start, end) -> int:
    import datetime

    n = 0
    d = start
    while d <= end:
        if d.isoweekday() <= 5:
            n += 1
        d += datetime.timedelta(days=1)
    return n


@PROP
@given(
    st.lists(
        st.tuples(st.integers(0, 4000), st.integers(0, 40)),
        min_size=1,
        max_size=50,
    )
)
def test_business_day_closed_form_matches_sequence(spark, spans):
    """The interval-overlap closed form in ts_business_days_to_ship must
    equal the explicit day-by-day weekday count for every (start date,
    span) — including spans that start on weekends and sub-week spans."""
    import datetime

    base = datetime.date(2020, 1, 1)
    rows = [
        (base + datetime.timedelta(days=o), base + datetime.timedelta(days=o + span))
        for o, span in spans
    ]
    df = spark.createDataFrame(rows, "d0 date, d1 date")
    nd = F.datediff("d1", "d0") + 1
    iso = F.weekday("d0") + 1
    rem = nd % 7
    wkend = F.greatest(
        F.lit(0), F.least(iso + rem - 1, F.lit(7)) - F.greatest(iso, F.lit(6)) + 1
    )
    bdays = ((nd - rem) / 7 * 5 + rem - wkend).cast("long")
    out = df.select("d0", "d1", bdays.alias("b")).collect()
    for r in out:
        assert r.b == _bdays_py(r.d0, r.d1), (r.d0, r.d1, r.b)


@PROP
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 40)),
        min_size=1,
        max_size=60,
    )
)
def test_gap_islands_difference_trick_matches_run_detection(spark, pairs):
    """The Tarjan hour-index-minus-row_number island key (win_gap_islands)
    must produce exactly the maximal consecutive runs a sequential scan
    finds — including single-hour islands, duplicate activity within an
    hour (distinct-collapsed), and users with one island spanning the
    whole range."""
    from pyspark.sql import Window

    df = spark.createDataFrame(pairs, "u int, h int").distinct()
    w = Window.partitionBy("u").orderBy("h")
    grp = df.withColumn("g", F.col("h") - F.row_number().over(w))
    out = (
        grp.groupBy("u", "g")
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    spark_islands = {(r.u, r.lo, r.hi, r.n) for r in out}

    by_user: dict = {}
    for u, h in set(pairs):
        by_user.setdefault(u, set()).add(h)
    py_islands = set()
    for u, hours in by_user.items():
        hs = sorted(hours)
        lo = prev = hs[0]
        for h in hs[1:]:
            if h == prev + 1:
                prev = h
            else:
                py_islands.add((u, lo, prev, prev - lo + 1))
                lo = prev = h
        py_islands.add((u, lo, prev, prev - lo + 1))
    assert spark_islands == py_islands


@PROP
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=50,
    )
)
def test_skyline_sweep_matches_brute_force_dominance(spark, raw_pts):
    """The single-window sweep formulation (win_skyline_frontier) must
    return exactly the non-dominated set the quadratic NOT-EXISTS
    definition yields — dominance being (x'>x AND y'>=y) OR
    (x'=x AND y'>y) — including duplicate-coordinate collapse and
    all-collinear degenerate inputs."""
    from pyspark.sql import Window

    pts = spark.createDataFrame(raw_pts, "x int, y int").distinct()
    w = Window.orderBy(F.col("x").desc(), F.col("y").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    swept = pts.select("x", "y", F.max("y").over(w).alias("best"))
    out = swept.filter(F.col("best").isNull() | (F.col("y") > F.col("best"))).collect()
    spark_front = {(r.x, r.y) for r in out}

    uniq = set(raw_pts)
    py_front = {
        (x, y)
        for x, y in uniq
        if not any(
            (x2 > x and y2 >= y) or (x2 == x and y2 > y) for x2, y2 in uniq
        )
    }
    assert spark_front == py_front


def _interp_median_py(vals: list) -> float:
    s = sorted(vals)
    n = len(s)
    if n % 2:
        return float(s[n // 2])
    return (s[n // 2 - 1] + s[n // 2]) / 2.0


@PROP
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(-1000, 1000)),
        min_size=6,
        max_size=60,
    )
)
def test_rolling_median_frame_matches_python(spark, rows):
    """The self-excluding trailing-10 percentile frame
    (win_rolling_median) must equal a sequential exact interpolated
    median of each row's previous <=10 values, with the n_prev >= 5
    warm-up gate — integer inputs keep the .5 interpolation points
    binary-exact in both engines."""
    from pyspark.sql import Window

    data = [(u, i, v) for i, (u, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "u int, i int, v int")
    w = Window.partitionBy("u").orderBy("i").rowsBetween(-10, -1)
    out = (
        df.select(
            "u",
            "i",
            F.expr("percentile(v, 0.5D)").over(w).alias("med"),
            F.count(F.lit(1)).over(w).alias("n_prev"),
        )
        .filter(F.col("n_prev") >= 5)
        .collect()
    )

    hist: dict = {}
    expect = {}
    for u, i, v in data:
        prev = hist.setdefault(u, [])
        if len(prev) >= 5:
            expect[(u, i)] = _interp_median_py(prev[-10:])
        prev.append(v)
    assert {(r.u, r.i) for r in out} == set(expect)
    for r in out:
        assert r.med == expect[(r.u, r.i)], (r.u, r.i)


@PROP
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20)),
        min_size=1,
        max_size=60,
    )
)
def test_topk_with_ties_matches_python_rank(spark, rows):
    """rank()<=3 (win_topk_with_ties) must return EVERY holder of the
    first three distinct values per group — never an arbitrary tie
    victim — and the rank numbers must match the 1-based count of
    strictly-greater values."""
    from pyspark.sql import Window

    data = [(g, i, v) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g int, i int, v int")
    w = Window.partitionBy("g").orderBy(F.col("v").desc())
    out = (
        df.select("g", "i", "v", F.rank().over(w).alias("rk"))
        .filter(F.col("rk") <= 3)
        .collect()
    )
    spark_set = {(r.g, r.i, r.rk) for r in out}

    by_g: dict = {}
    for g, i, v in data:
        by_g.setdefault(g, []).append((i, v))
    py_set = set()
    for g, members in by_g.items():
        vals = [v for _i, v in members]
        for i, v in members:
            rk = 1 + sum(1 for x in vals if x > v)
            if rk <= 3:
                py_set.add((g, i, rk))
    assert spark_set == py_set


@PROP
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 12000), st.integers(-50, 50)),
        min_size=1,
        max_size=60,
    )
)
def test_time_range_frame_matches_python(spark, rows):
    """The RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW frame over
    integer seconds (win_time_range_frame) must equal the explicit
    'all rows of this key with sec in [s-3600, s]' set — including
    peer rows sharing the current row's ordering key, which a ROWS
    frame would miscount."""
    from pyspark.sql import Window

    df = spark.createDataFrame(rows, "u int, sec long, v int")
    w = Window.partitionBy("u").orderBy("sec").rangeBetween(-3600, Window.currentRow)
    out = df.select(
        "u",
        "sec",
        "v",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("v").over(w).alias("s"),
    ).collect()
    for r in out:
        frame = [v for u, sec, v in rows if u == r.u and r.sec - 3600 <= sec <= r.sec]
        assert r.n == len(frame) and r.s == sum(frame), (r.u, r.sec)


@PROP
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 15)),
        min_size=2,
        max_size=60,
    )
)
def test_percent_rank_cume_dist_closed_forms(spark, rows):
    """percent_rank and cume_dist (win_percent_rank_cume_dist) must
    equal their closed forms — (rank-1)/(n-1) and |{<= v}|/n — bitwise,
    since both engines evaluate the identical IEEE division."""
    from pyspark.sql import Window

    data = [(g, i, v) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g int, i int, v int")
    w = Window.partitionBy("g").orderBy("v")
    out = df.select(
        "g",
        "i",
        "v",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    ).collect()

    by_g: dict = {}
    for g, _i, v in data:
        by_g.setdefault(g, []).append(v)
    for r in out:
        vals = by_g[r.g]
        n = len(vals)
        rk = 1 + sum(1 for x in vals if x < r.v)
        assert r.pr == (0.0 if n == 1 else (rk - 1) / (n - 1)), (r.g, r.i)
        assert r.cd == sum(1 for x in vals if x <= r.v) / n, (r.g, r.i)


@PROP
@given(
    st.lists(st.integers(0, 8), min_size=0, max_size=40),
    st.lists(st.integers(0, 8), min_size=0, max_size=40),
)
def test_bag_setops_match_counter_arithmetic(spark, xs, ys):
    """INTERSECT ALL / EXCEPT ALL (set_intersect_all, set_except_all)
    are multiset operations: each value survives min(na, nb) /
    max(0, na-nb) times — Counter arithmetic, not boolean membership."""
    from collections import Counter

    a = spark.createDataFrame([(x,) for x in xs], "v int")
    b = spark.createDataFrame([(y,) for y in ys], "v int")
    inter = Counter(r.v for r in a.intersectAll(b).collect())
    exc = Counter(r.v for r in a.exceptAll(b).collect())
    ca, cb = Counter(xs), Counter(ys)
    assert inter == (ca & cb)
    assert exc == (ca - cb)


@PROP
@given(
    st.lists(st.one_of(st.none(), st.integers(0, 4)), min_size=1, max_size=40),
    st.lists(st.one_of(st.none(), st.integers(0, 4)), min_size=1, max_size=10),
)
def test_null_safe_join_pairs_null_keys(spark, left_keys, right_keys):
    """eqNullSafe (join_null_safe) must pair NULL with NULL exactly as
    Python's None == None, while the plain equi-join must drop every
    NULL-keyed row — on the same randomized input."""
    ldf = spark.createDataFrame([(i, k) for i, k in enumerate(left_keys)], "i int, k int")
    rdf = spark.createDataFrame([(j, k) for j, k in enumerate(right_keys)], "j int, k int")
    safe = ldf.join(rdf, ldf["k"].eqNullSafe(rdf["k"])).select(ldf["i"], rdf["j"]).collect()
    plain = ldf.join(rdf, ldf["k"] == rdf["k"]).select(ldf["i"], rdf["j"]).collect()

    py_safe = {
        (i, j)
        for i, lk in enumerate(left_keys)
        for j, rk in enumerate(right_keys)
        if lk == rk
    }
    py_plain = {
        (i, j)
        for i, lk in enumerate(left_keys)
        for j, rk in enumerate(right_keys)
        if lk is not None and lk == rk
    }
    assert {(r.i, r.j) for r in safe} == py_safe
    assert {(r.i, r.j) for r in plain} == py_plain


@PROP
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=25,
    )
)
def test_recursive_cte_bfs_matches_python(spark, raw_edges):
    """The WITH RECURSIVE reachability shape (sql_recursive_cte) must
    compute the same min-hops-within-3 map a sequential BFS finds —
    including cycles (the hop guard bounds path re-expansion) and
    unreachable nodes (absent, not infinite)."""
    edges = sorted({(s, d) for s, d in raw_edges if s != d})
    if not edges:
        return
    spark.createDataFrame(edges, "src int, dst int").createOrReplaceTempView(
        "prop_edges"
    )
    out = spark.sql(
        """
        WITH RECURSIVE reach(dst, hop) AS (
            SELECT dst, 1 AS hop FROM prop_edges WHERE src = 0
            UNION ALL
            SELECT e.dst, r.hop + 1
            FROM reach r JOIN prop_edges e ON r.dst = e.src
            WHERE r.hop < 3
        )
        SELECT dst, CAST(min(hop) AS INT) AS min_hops
        FROM reach GROUP BY dst
        """
    ).collect()
    spark.catalog.dropTempView("prop_edges")

    adj: dict = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    expect: dict = {}
    frontier = [0]
    for hop in (1, 2, 3):
        nxt = []
        for u in frontier:
            for v in adj.get(u, []):
                nxt.append(v)
                if v not in expect:
                    expect[v] = hop
        frontier = nxt
    assert {r.dst: r.min_hops for r in out} == expect


@PROP
@given(
    st.lists(st.one_of(st.none(), st.integers(0, 5)), min_size=1, max_size=30),
    st.lists(st.one_of(st.none(), st.integers(0, 5)), min_size=1, max_size=10),
)
def test_not_exists_vs_not_in_null_semantics(spark, probe, pool):
    """The NOT IN null trap (subquery_not_exists_vs_not_in): NOT EXISTS
    computes the anti-join on randomized inputs, while NOT IN returns
    ZERO rows the moment the subquery contains a single NULL — 3VL
    making `x <> NULL` unknown for every x."""
    spark.createDataFrame(
        [(i, v) for i, v in enumerate(probe)], "i int, v int"
    ).createOrReplaceTempView("prop_probe")
    spark.createDataFrame([(v,) for v in pool], "v int").createOrReplaceTempView(
        "prop_pool"
    )
    ne = spark.sql(
        "SELECT i FROM prop_probe p WHERE NOT EXISTS "
        "(SELECT 1 FROM prop_pool q WHERE q.v = p.v)"
    ).collect()
    ni = spark.sql(
        "SELECT i FROM prop_probe WHERE v NOT IN (SELECT v FROM prop_pool)"
    ).collect()
    spark.catalog.dropTempView("prop_probe")
    spark.catalog.dropTempView("prop_pool")

    pool_vals = {v for v in pool if v is not None}
    py_ne = {i for i, v in enumerate(probe) if v not in pool_vals}
    assert {r.i for r in ne} == py_ne
    if None in pool:
        assert ni == []
    else:
        py_ni = {i for i, v in enumerate(probe) if v is not None and v not in pool_vals}
        assert {r.i for r in ni} == py_ni


@PROP
@given(
    st.lists(
        st.tuples(
            st.one_of(
                st.integers(-10**6, 10**6).map(str),
                st.text(alphabet="abc$. ", max_size=6),
            ),
            st.integers(-5, 5),
            st.integers(-100, 100),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_try_arith_matches_python_guards(spark, rows):
    """try_cast and try_divide (fn_try_arith) must yield NULL exactly
    where a guarded Python parse/divide yields None — never an error,
    never a wrong value — over randomized dirty strings and zero
    divisors."""
    data = [(i, s, d, n) for i, (s, d, n) in enumerate(rows)]
    df = spark.createDataFrame(data, "i int, s string, d int, n int")
    out = df.select(
        "i",
        F.expr("try_cast(s AS bigint)").alias("parsed"),
        F.expr("try_divide(n, d)").alias("ratio"),
    ).collect()

    def parse_py(s: str):
        t = s.strip()
        try:
            return int(t)
        except ValueError:
            return None

    for r in out:
        _i, s, d, n = data[r.i]
        assert r.parsed == parse_py(s), (s, r.parsed)
        expect = None if d == 0 else n / d
        assert r.ratio == expect, (n, d, r.ratio)


@PROP
@given(
    st.lists(
        st.text(alphabet="ab ba01 xsz", max_size=40),
        min_size=1,
        max_size=30,
    )
)
def test_regexp_extract_all_matches_python_findall(spark, texts):
    """regexp_extract_all (fn_regex_extract_all) must agree with
    Python's re.findall for the word-boundary pattern class the entry
    uses — same matches, same order, same count."""
    import re

    pat = r"\b(ba[a-z0-9]*)\b"
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    out = df.select(
        "i", F.regexp_extract_all("t", F.lit(pat)).alias("ms")
    ).collect()
    for r in out:
        assert list(r.ms) == re.findall(pat, texts[r.i]), texts[r.i]


@PROP
@given(
    st.lists(
        st.lists(st.text(alphabet="abcdefgh", min_size=1, max_size=9), min_size=1, max_size=12),
        min_size=1,
        max_size=25,
    )
)
def test_map_functions_match_python_dict_ops(spark, token_lists):
    """The MapType pipeline (fn_map_functions): map_from_arrays over
    distinct tokens + map_filter + value-fold must equal plain Python
    dict construction, filtering, and summation on the same tokens."""
    df = spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(token_lists)], "i int, toks array<string>"
    )
    toks = F.array_distinct("toks")
    m = F.map_from_arrays(toks, F.transform(toks, lambda t: F.length(t)))
    filtered = F.map_filter(m, lambda k, v: v >= 4)
    out = df.select(
        "i",
        F.size(F.map_keys(m)).alias("n_keys"),
        F.aggregate(F.map_values(m), F.lit(0), lambda a, v: a + v).alias("sum_len"),
        F.array_sort(F.map_keys(filtered)).alias("long_keys"),
    ).collect()
    for r in out:
        d = {t: len(t) for t in dict.fromkeys(token_lists[r.i])}
        assert r.n_keys == len(d)
        assert r.sum_len == sum(d.values())
        assert list(r.long_keys) == sorted(k for k, v in d.items() if v >= 4)


@PROP
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.booleans()),
        min_size=2,
        max_size=60,
    )
)
def test_auc_tally_formula_matches_pair_counting(spark, rows):
    """The integer-tally Mann-Whitney AUC (eval_auc_roc): one
    groupBy(score) + ordered window must equal brute-force pair
    counting (ties = 1/2) — the same integer numerator and denominator,
    hence the same double, on randomized scores with arbitrary tie
    structure."""
    from hypothesis import assume
    from pyspark.sql import Window

    labels = [l for _s, l in rows]
    assume(any(labels) and not all(labels))

    df = spark.createDataFrame(rows, "score int, pos boolean")
    g = df.groupBy("score").agg(
        F.sum(F.col("pos").cast("long")).alias("np"),
        F.sum((~F.col("pos")).cast("long")).alias("nn"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    c = g.select("np", "nn", F.coalesce(F.sum("nn").over(w), F.lit(0)).alias("cum_nn"))
    row = c.agg(
        (
            (F.sum(2 * F.col("np") * F.col("cum_nn")) + F.sum(F.col("np") * F.col("nn")))
            .cast("double")
            / (2 * F.sum("np") * F.sum("nn"))
        ).alias("auc")
    ).collect()[0]

    pos = [s for s, l in rows if l]
    neg = [s for s, l in rows if not l]
    above = sum(1 for p in pos for q in neg if p > q)
    ties = sum(1 for p in pos for q in neg if p == q)
    assert row.auc == (2 * above + ties) / (2 * len(pos) * len(neg))


@PROP
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.booleans()),
        min_size=2,
        max_size=60,
    )
)
def test_ks_ecdf_gap_matches_python(spark, rows):
    """The windowed two-sample KS statistic (quality_ks_two_sample)
    must equal the explicit max-over-values ECDF gap — ties evaluated
    at <= v on BOTH sides (the RANGE-default frame), integer cumulative
    counts making the doubles bit-identical."""
    from hypothesis import assume
    from pyspark.sql import Window

    flags = [a for _v, a in rows]
    assume(any(flags) and not all(flags))

    df = spark.createDataFrame(rows, "v int, a boolean")
    s = df.select("v", F.col("a").cast("int").alias("a"))
    wo = Window.orderBy("v")
    tot = s.agg(F.sum("a").alias("n_a"), F.sum(1 - F.col("a")).alias("n_b"))
    e = s.select(
        F.sum("a").over(wo).alias("ca"), F.sum(1 - F.col("a")).over(wo).alias("cb")
    )
    row = (
        e.crossJoin(F.broadcast(tot))
        .agg(F.max(F.abs(F.col("ca") / F.col("n_a") - F.col("cb") / F.col("n_b"))).alias("ks"))
        .collect()[0]
    )

    n_a = sum(flags)
    n_b = len(flags) - n_a
    ks_py = max(
        abs(
            sum(1 for v, a in rows if a and v <= t) / n_a
            - sum(1 for v, a in rows if not a and v <= t) / n_b
        )
        for t in {v for v, _a in rows}
    )
    assert row.ks == ks_py


def _round_half_up_9(x: float) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(x).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP))


@PROP
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(-20, 20)),
        min_size=1,
        max_size=50,
    )
)
def test_ewma_jvm_fold_matches_python_recursion(spark, rows):
    """The per-key F.aggregate EWMA fold with 9dp HALF_UP per-step
    fixing (ts_ewma_anomaly) must walk the identical trajectory as a
    sequential Python recursion using the same rounding — bitwise, the
    determinism contract the oracle replay relies on."""
    thresh = 5.0
    data = [(u, i, float(x)) for i, (u, x) in enumerate(rows)]
    df = spark.createDataFrame(data, "u int, i int, x double")
    series = df.groupBy("u").agg(
        F.array_sort(F.collect_list(F.struct("i", "x"))).alias("s")
    )
    row_t = "array<struct<i:int,x:double,ewma:double,anom:boolean>>"
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
        anom = acc["started"] & (F.abs(e["x"] - acc["last"]) > thresh)
        r = F.struct(
            e["i"].alias("i"), e["x"].alias("x"), new_e.alias("ewma"), anom.alias("anom")
        )
        return F.struct(
            F.concat(acc["rows"], F.array(r)).alias("rows"),
            new_e.alias("last"),
            F.lit(True).alias("started"),
        ).cast(acc_t)

    out = (
        series.select("u", F.explode(F.aggregate("s", init, step).getField("rows")).alias("r"))
        .select("u", "r.i", "r.ewma", "r.anom")
        .collect()
    )

    expect: dict = {}
    state: dict = {}
    for u, i, x in data:
        if u in state:
            ew = _round_half_up_9(0.2 * x + 0.8 * state[u])
            expect[(u, i)] = (ew, abs(x - state[u]) > thresh)
        else:
            ew = x
            expect[(u, i)] = (ew, False)
        state[u] = ew
    assert {(r.u, r.i): (r.ewma, r.anom) for r in out} == expect


@PROP
@given(
    st.lists(
        st.tuples(st.integers(-3, 3), st.integers(-3, 3), st.booleans()),
        min_size=4,
        max_size=40,
    )
)
def test_logreg_gd_matches_numpy_replay(spark, rows):
    """The distributed full-batch GD (operators/logreg.py) must track a
    numpy replay of the same descent (zero init, same lr, same 9dp
    gradient fixing) to within amplified-rounding tolerance over 5
    iterations — the engine computes one mergeable aggregate per step,
    numpy computes the same mean gradient in closed form."""
    import numpy as np

    from projetos_etl_spark.operators.logreg import logreg_gd

    data = [(float(a), float(b), 1.0, 1.0 if y else 0.0) for a, b, y in rows]
    df = spark.createDataFrame(data, "f1 double, f2 double, bias double, y double")
    w_spark = logreg_gd(df, ["f1", "f2", "bias"], "y", iters=5, lr=2.0)

    X = np.array([[a, b, c] for a, b, c, _y in data])
    y = np.array([lab for *_f, lab in data])
    w = np.zeros(3)
    for _ in range(5):
        p = 1.0 / (1.0 + np.exp(-(X @ w)))
        g = np.round(((p - y)[:, None] * X).mean(axis=0), 9)
        w = w - 2.0 * g
    assert np.allclose(np.array(w_spark), w, atol=1e-6), (w_spark, w.tolist())


def _half_up(x: float, decimals: int) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(x).quantize(Decimal(f"1e-{decimals}"), rounding=ROUND_HALF_UP))


@PROP
@given(
    st.lists(
        st.tuples(st.integers(-8, 8), st.integers(-8, 8)),
        min_size=3,
        max_size=30,
        unique=True,
    )
)
def test_kmeans_lloyd_matches_python_replay(spark, pts):
    """kmeans_lloyd (operators/kmeans.py) must walk the identical
    centroid trajectory as a sequential Python replay of the same
    contract: k-lowest-id init, (distance, cid) lexicographic argmin,
    per-dimension mean with 9dp HALF_UP fixing, empty clusters dropped.
    Integer coordinates keep every distance exact."""
    from projetos_etl_spark.operators.kmeans import kmeans_lloyd

    k, iters = 2, 3
    data = [(i, [float(a), float(b)]) for i, (a, b) in enumerate(pts)]
    df = spark.createDataFrame(data, "vid int, vec array<double>")
    got = kmeans_lloyd(df, "vid", "vec", k=k, iters=iters)

    cents = {i: list(v) for i, v in data[:k]}
    for _ in range(iters):
        members: dict = {}
        for i, v in data:
            d_best = min(
                (sum((a - b) * (a - b) for a, b in zip(v, c)), cid)
                for cid, c in sorted(cents.items())
            )
            members.setdefault(d_best[1], []).append(v)
        cents = {
            cid: [
                _half_up(sum(v[p] for v in vs) / len(vs), 9)
                for p in range(len(vs[0]))
            ]
            for cid, vs in members.items()
        }
    assert {int(c): list(v) for c, v in got.items()} == cents


@PROP
@given(
    st.lists(
        st.tuples(st.integers(-5, 5), st.integers(-5, 5), st.integers(-5, 5)),
        min_size=3,
        max_size=25,
        unique=True,
    )
)
def test_brute_force_topk_matches_python(spark, raw_vecs):
    """brute_force_topk (operators/cosine.py) must equal a Python
    replay: cosine in the same left-fold order, 6dp HALF_UP rounding,
    (sim desc, neighbor_id) tie-break, self excluded — the contract
    every ANN tier's recall is measured against."""
    import math

    from projetos_etl_spark.operators.cosine import brute_force_topk

    # trailing 1.0 guarantees nonzero norms
    vecs = [(i, [float(a), float(b), float(c), 1.0]) for i, (a, b, c) in enumerate(raw_vecs)]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    out = brute_force_topk(df.limit(2), df, k=3).collect()

    def cos(u, v):
        d = 0.0
        for x, y in zip(u, v):
            d += x * y
        nu = su = 0.0
        for x in u:
            nu += x * x
        for y in v:
            su += y * y
        return _half_up(d / (math.sqrt(nu) * math.sqrt(su)), 6)

    expect = set()
    qs = vecs[:2]
    for qid, qv in qs:
        scored = sorted(
            ((-cos(qv, cv), nid) for nid, cv in vecs if nid != qid),
        )[:3]
        for rank, (neg_sim, nid) in enumerate(scored, 1):
            expect.add((qid, nid, -neg_sim, rank))
    assert {(r.query_id, r.neighbor_id, r.cosine_sim, r.rank) for r in out} == expect


@PROP
@given(
    st.lists(
        st.tuples(st.integers(-9, 9), st.integers(-9, 9), st.integers(-9, 9)),
        min_size=2,
        max_size=40,
    )
)
def test_distributed_covariance_matches_numpy(spark, raw_vecs):
    """The one-pass Arrow Gram-partial covariance (operators/pca.py)
    must equal numpy's full-matrix G/n - mu*mu' with the same HALF_UP
    moment fixing — the distributed partial-sum reduce introduces no
    drift on exact-integer inputs."""
    import numpy as np

    from projetos_etl_spark.operators.pca import MOMENT_DECIMALS, covariance_matrix

    df = spark.createDataFrame(
        [(i, [float(a), float(b), float(c)]) for i, (a, b, c) in enumerate(raw_vecs)],
        "vid int, vec array<double>",
    )
    n, mu, cov = covariance_matrix(df, "vec", 3)

    X = np.array([list(v) for v in raw_vecs], dtype=np.float64)
    assert n == len(raw_vecs)
    mu_py = np.array([_half_up(m, MOMENT_DECIMALS) for m in X.sum(axis=0) / n])
    raw = (X.T @ X) / n - np.outer(mu_py, mu_py)
    scale = 10**MOMENT_DECIMALS
    cov_py = np.sign(raw) * (np.floor(np.abs(raw) * scale + 0.5) / scale)
    assert np.array_equal(mu, mu_py)
    assert np.array_equal(cov, cov_py)


# --- supervised-encoder / drift / packing / retrieval-metric shapes ----------
#
# These five families' registry entries and their DuckDB oracles were written
# by the same hand, so oracle parity cannot catch a formula MISUNDERSTANDING
# shared by both engines. Each property below rebuilds the registry shape on
# constructed data and checks it against the canonical textbook definition
# implemented independently in Python.


def _loo_py(rows: list[tuple[str, float]]) -> list[float | None]:
    """Canonical leave-one-out mean: mean of the OTHER rows in the
    category; undefined (None) for singleton categories."""
    from collections import defaultdict

    tot: dict[str, float] = defaultdict(float)
    n: dict[str, int] = defaultdict(int)
    for c, v in rows:
        tot[c] += v
        n[c] += 1
    return [
        None if n[c] == 1 else round((tot[c] - v) / (n[c] - 1), 6) for c, v in rows
    ]


@PROP
@given(
    rows=st.lists(
        st.tuples(st.sampled_from("abcd"), st.integers(0, 10**6)),
        min_size=1,
        max_size=60,
    )
)
def test_loo_target_encode_matches_python(spark, rows):
    """feat_target_encode_loo's (sum - own) / (n - 1) over an exact
    DECIMAL sum must equal the canonical LOO mean, and a singleton
    category must yield NULL (0/0), never the row's own value leaking
    through."""
    data = [(i, c, float(v)) for i, (c, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, cat string, y double")
    stats = df.groupBy("cat").agg(
        F.sum(F.col("y").cast("decimal(18,2)")).alias("tot"),
        F.count(F.lit(1)).alias("n"),
    )
    got = {
        r["id"]: r["loo"]
        for r in df.join(F.broadcast(stats), "cat")
        .select(
            "id",
            F.when(
                F.col("n") > 1,
                F.round(
                    (F.col("tot").cast("double") - F.col("y")) / (F.col("n") - 1),
                    6,
                ),
            ).alias("loo"),
        )
        .collect()
    }
    want = _loo_py([(c, float(v)) for c, v in rows])
    for i, w in enumerate(want):
        if w is None:
            assert got[i] is None
        else:
            assert got[i] == pytest.approx(w, abs=1e-6)


def _woe_py(rows: list[tuple[str, int]]) -> dict[str, tuple[float, float]]:
    """Canonical weight of evidence with 0.5 Laplace smoothing:
    woe_c = ln(((pos_c+0.5)/P) / ((neg_c+0.5)/N)); iv term
    (pos_share - neg_share) * woe."""
    import math
    from collections import defaultdict

    pos: dict[str, int] = defaultdict(int)
    neg: dict[str, int] = defaultdict(int)
    for c, y in rows:
        (pos if y else neg)[c] += 0 or 1
    cats = set(pos) | set(neg)
    p_tot, n_tot = sum(pos.values()), sum(neg.values())
    out = {}
    for c in cats:
        ps = (pos[c] + 0.5) / p_tot
        ns = (neg[c] + 0.5) / n_tot
        w = math.log(ps / ns)
        out[c] = (round(w, 6), round((ps - ns) * w, 9))
    return out


@PROP
@given(
    rows=st.lists(
        st.tuples(st.sampled_from("abc"), st.integers(0, 1)),
        min_size=2,
        max_size=60,
    ).filter(lambda r: any(y for _, y in r) and any(1 - y for _, y in r))
)
def test_woe_encoding_matches_python(spark, rows):
    """feat_woe_encoding's smoothed log-odds and IV term must equal the
    credit-scoring textbook formula — including categories with ZERO
    positives or zero negatives, which only the 0.5 smoothing keeps
    finite (the fixtures never produce an empty class)."""
    df = spark.createDataFrame(rows, "cat string, y int")
    cat = df.groupBy("cat").agg(
        F.sum("y").alias("pos"), (F.count(F.lit(1)) - F.sum("y")).alias("neg")
    )
    tot = cat.agg(F.sum("pos").alias("p_tot"), F.sum("neg").alias("n_tot"))
    ps = (F.col("pos") + 0.5) / F.col("p_tot")
    ns = (F.col("neg") + 0.5) / F.col("n_tot")
    woe = F.log(ps / ns)
    got = {
        r["cat"]: (r["woe"], r["iv"])
        for r in cat.crossJoin(F.broadcast(tot))
        .select(
            "cat",
            F.round(woe, 6).alias("woe"),
            F.round((ps - ns) * woe, 9).alias("iv"),
        )
        .collect()
    }
    want = _woe_py(rows)
    assert set(got) == set(want)
    for c, (w_woe, w_iv) in want.items():
        assert got[c][0] == pytest.approx(w_woe, abs=1e-6)
        assert got[c][1] == pytest.approx(w_iv, abs=1e-8)


@PROP
@given(
    early=st.lists(st.sampled_from("abc"), min_size=1, max_size=40),
    late=st.lists(st.sampled_from("abd"), min_size=1, max_size=40),
)
def test_psi_term_matches_python(spark, early, late):
    """quality_psi_drift's per-category term must equal the canonical
    (p_e - p_l) * ln(p_e / p_l) with shares normalized WITHIN each half,
    and a category present in only one half must be absent from the
    output (the entry's inner-join semantics) — not NaN, not ±inf."""
    import math
    from collections import Counter
    from pyspark.sql import Window

    rows = [(c, "early") for c in early] + [(c, "late") for c in late]
    df = spark.createDataFrame(rows, "cat string, half string")
    c = df.groupBy("cat", "half").agg(F.count(F.lit(1)).alias("n"))
    shares = c.select(
        "cat",
        "half",
        (F.col("n") / F.sum("n").over(Window.partitionBy("half"))).alias("p"),
    )
    e = shares.filter(F.col("half") == "early").select("cat", F.col("p").alias("pe"))
    l = shares.filter(F.col("half") == "late").select("cat", F.col("p").alias("pl"))
    got = {
        r["cat"]: r["psi"]
        for r in e.join(l, "cat")
        .select(
            "cat",
            F.round(
                (F.col("pe") - F.col("pl")) * F.log(F.col("pe") / F.col("pl")), 6
            ).alias("psi"),
        )
        .collect()
    }
    ce, cl = Counter(early), Counter(late)
    both = set(ce) & set(cl)
    assert set(got) == both
    for cat in both:
        pe, pl = ce[cat] / len(early), cl[cat] / len(late)
        assert got[cat] == pytest.approx((pe - pl) * math.log(pe / pl), abs=1e-6)


@PROP
@given(
    docs=st.lists(
        st.tuples(st.sampled_from("st"), st.integers(1, 700)),
        min_size=1,
        max_size=50,
    ),
    cap=st.sampled_from([16, 512]),
)
def test_pack_bins_matches_python_running_sum(spark, docs, cap):
    """corpus_pack_bins' windowed bin assignment must equal the
    sequential packing reference: walk each source in doc_id order,
    each doc starts at the running token offset, bin = offset // cap,
    offset-in-bin = offset % cap — including docs LONGER than the
    capacity (which straddle bins) and exact-boundary hits."""
    data = [(s, i, n) for i, (s, n) in enumerate(docs)]
    df = spark.createDataFrame(data, "source string, doc_id long, n_tokens long")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    got = {
        r["doc_id"]: (r["bin_id"], r["bin_offset"])
        for r in df.select(
            "doc_id",
            F.floor(start / cap).cast("int").alias("bin_id"),
            (start % cap).cast("int").alias("bin_offset"),
        ).collect()
    }
    offsets: dict[str, int] = {}
    for s, i, n in sorted(data, key=lambda t: (t[0], t[1])):
        off = offsets.get(s, 0)
        assert got[i] == (off // cap, off % cap)
        offsets[s] = off + n


def _ndcg_py(rels: list[int]) -> float:
    """Canonical binary NDCG over a ranked list: DCG with log2(rank+1)
    discounts vs the ideal (relevant-first) ordering; 0 when nothing is
    relevant."""
    import math

    dcg = sum(r / math.log2(i + 2) for i, r in enumerate(rels))
    ideal = sorted(rels, reverse=True)
    idcg = sum(r / math.log2(i + 2) for i, r in enumerate(ideal))
    return 0.0 if idcg == 0 else dcg / idcg


@PROP
@given(
    rels=st.lists(
        st.lists(st.integers(0, 1), min_size=1, max_size=10),
        min_size=1,
        max_size=8,
    )
)
def test_ndcg_shape_matches_python(spark, rels):
    """eval_ndcg_at_k's window-ranked DCG/IDCG must equal textbook NDCG
    per query — including the all-irrelevant query, which must score
    exactly 0 (the explicit guard), never NULL from 0/0."""
    from pyspark.sql import Window

    data = [
        (q, rank + 1, r)
        for q, qs in enumerate(rels)
        for rank, r in enumerate(qs)
    ]
    df = spark.createDataFrame(data, "query_id long, rank int, rel int")
    ideal = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.col("rel").desc(), "rank")
    )
    scored = df.withColumn("ideal_rank", ideal)
    dcg = F.sum(F.col("rel") / F.log2(F.col("rank") + 1.0))
    idcg = F.sum(F.col("rel") / F.log2(F.col("ideal_rank") + 1.0))
    got = {
        r["query_id"]: r["ndcg"]
        for r in scored.groupBy("query_id")
        .agg(
            F.when(F.sum("rel") == 0, F.lit(0.0)).otherwise(dcg / idcg).alias("ndcg")
        )
        .collect()
    }
    for q, qs in enumerate(rels):
        assert got[q] == pytest.approx(_ndcg_py(qs), abs=1e-9)
