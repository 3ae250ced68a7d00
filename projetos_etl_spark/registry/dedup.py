"""Deduplication family (BASELINE.json north star: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup).

The oracle SQL strings are *generated* from the same constants as the
Spark operators (hash count, band size, shingle width, bit count) so the
two can't drift. All hashing is md5-digest based — identical bytes in
both engines — which is what makes these oracle-checkable at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from projetos_etl_spark.operators.cosine import as_double_array, cosine
from projetos_etl_spark.operators.minhash import (
    BAND_SIZE,
    DEFAULT_MAX_BUCKET,
    NUM_HASHES,
    SHINGLE_WORDS,
    exact_containment_pairs,
    exact_ngram_jaccard_pairs,
    lsh_band_buckets,
    lsh_candidate_pairs,
    minhash_signatures,
)
from projetos_etl_spark.operators.simhash import NUM_BITS, simhash_signatures
from projetos_etl_spark.registry._core import Registry
from projetos_etl_spark.sources.io import aqe_off, checkpoint_partitioned, load_table

REG = Registry()

NGRAM_JACCARD_THRESHOLD = 0.2
COSINE_DUP_THRESHOLD = 0.45

_TOKS = "string_split(text, ' ')"
_SHINGLES_SQL = (
    f"CASE WHEN len({_TOKS}) < {SHINGLE_WORDS} THEN [text] "
    f"ELSE list_transform(generate_series(1, len({_TOKS}) - {SHINGLE_WORDS - 1}), "
    f"i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]) END"
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ lineitem on the order key with NULL ``o_custkey`` /
    ``l_suppkey`` dropped: the purchases every purchase-graph entry
    selects its customer -> supplier edges from.

    A NULL key is not a vertex (family seven, SCALE.md): an edge needs
    two identities. The gate also dodges an engine trap — concat('c',
    NULL) is NULL in Spark but 'c' in DuckDB (which skips NULL args), so
    ungated NULL keys would mint a different phantom vertex per
    engine."""
    o = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .filter(F.col("o_custkey").isNotNull())
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .filter(F.col("l_suppkey").isNotNull())
    )
    return o.join(li, o.o_orderkey == li.l_orderkey)


def _bands_cte_sql() -> str:
    """Shared CTE prefix (shingles -> signatures -> band keys) used by the
    minhash pair oracle and the bucket-stats oracle — generated from the
    same constants as operators/minhash.py so the twins can't drift."""
    sig_cols = ",\n               ".join(
        f"min(substr(md5('mh{i // 4}|' || shingle), {8 * (i % 4) + 1}, 8)) AS sig_{i}"
        for i in range(NUM_HASHES)
    )
    n_bands = NUM_HASHES // BAND_SIZE
    band_selects = "\n        UNION ALL\n        ".join(
        "SELECT doc_id, {b} AS band_id, md5({expr}) AS band_key FROM sig".format(
            b=b,
            expr=" || '|' || ".join(
                f"sig_{i}" for i in range(b * BAND_SIZE, (b + 1) * BAND_SIZE)
            ),
        )
        for b in range(n_bands)
    )
    return f"""sh AS (
        SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
    ), sig AS (
        SELECT doc_id,
               {sig_cols}
        FROM sh GROUP BY doc_id
    ), bands AS (
        {band_selects}
    )"""


def _minhash_oracle() -> str:
    match_sum = " + ".join(
        f"CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END"
        for i in range(NUM_HASHES)
    )
    # bands_capped mirrors the Spark-side hot-bucket guard exactly:
    # keep the DEFAULT_MAX_BUCKET lowest doc_ids per (band_id, band_key).
    return f"""
    WITH {_bands_cte_sql()}, bands_capped AS (
        SELECT doc_id, band_id, band_key FROM (
            SELECT doc_id, band_id, band_key,
                   row_number() OVER (PARTITION BY band_id, band_key
                                      ORDER BY doc_id) AS brn
            FROM bands
        ) WHERE brn <= {DEFAULT_MAX_BUCKET}
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands_capped a JOIN bands_capped b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(({match_sum}) / {float(NUM_HASHES)}, 4) AS est_jaccard
    FROM pairs
    JOIN sig sa ON sa.doc_id = pairs.doc_a
    JOIN sig sb ON sb.doc_id = pairs.doc_b
    """


@REG.add("dedup_near_minhash", oracle=_minhash_oracle())
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 md5-min signatures over 3-word shingles) + 4x4 banded
    LSH candidate pairs with estimated Jaccard. See operators/minhash.py
    for the scale analysis."""
    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "doc_id", "text")
    return lsh_candidate_pairs(sigs, "doc_id")


def _ngram_oracle() -> str:
    return f"""
    WITH sh AS (
        SELECT doc_id, source, unnest(list_distinct({_SHINGLES_SQL})) AS sh
        FROM documents
    ), sizes AS (
        SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM sh a JOIN sh b
          ON a.sh = b.sh AND a.source = b.source AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT * FROM (
        SELECT doc_a, doc_b,
               round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = inter.doc_a
        JOIN sizes sb ON sb.doc_id = inter.doc_b
    ) WHERE jaccard >= {NGRAM_JACCARD_THRESHOLD}
    """


@REG.add("dedup_ngram_jaccard", oracle=_ngram_oracle())
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set Jaccard over an inverted index, blocked by
    ``source`` — the verify stage that LSH candidates feed at scale."""
    docs = _t(spark, sf_dir, "documents")
    return exact_ngram_jaccard_pairs(
        docs, "doc_id", "text", block_col="source", threshold=NGRAM_JACCARD_THRESHOLD
    )


def _simhash_oracle() -> str:
    high = ", ".join(f"'{h}'" for h in ["8", "9", "a", "b", "c", "d", "e", "f"])
    votes = ",\n               ".join(
        f"sum(CASE WHEN substr(digest, {i + 1}, 1) IN ({high}) THEN 1 ELSE -1 END) AS v_{i}"
        for i in range(NUM_BITS)
    )
    bits = ", ".join(
        f"CASE WHEN v_{i} > 0 THEN '1' ELSE '0' END" for i in range(NUM_BITS)
    )
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ), d AS (
        SELECT doc_id, md5('sh|' || tok) AS digest FROM tok
    ), v AS (
        SELECT doc_id,
               {votes}
        FROM d GROUP BY doc_id
    )
    SELECT doc_id, concat({bits}) AS simhash FROM v
    """


@REG.add("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprints (near-dups land at small Hamming
    distance; distance join tested in tests/test_dedup.py)."""
    return simhash_signatures(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _cosine_pairs_oracle() -> str:
    # sql_cosine (registry/_sqlvec.py) mirrors Spark's zip_with+fold
    # NULL semantics: a ragged/NULL-holed vector pins to 0.0 similarity
    # against everything (< threshold, so it never pairs) in BOTH
    # engines — while two IDENTICALLY-truncated near-dups still get
    # their real cosine in both (equal lengths fold cleanly), which is
    # the right dedup answer for vectors malformed the same way.
    from projetos_etl_spark.registry._sqlvec import sql_cosine

    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT * FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {sql_cosine("a.v", "b.v")} AS cosine_sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
    ) WHERE cosine_sim >= {COSINE_DUP_THRESHOLD}
    """


@REG.add("dedup_embedding_cosine", oracle=_cosine_pairs_oracle())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs above a cosine threshold. All-pairs
    here (correctness tier; fixture vectors are few); the 100 TB path is
    the SRP-LSH bucketed variant in similarity.py which only scores
    within-bucket pairs."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= COSINE_DUP_THRESHOLD)
    )


NEAR_DUP_THRESHOLD = 0.5
MIN_QUALITY_CHARS = 100
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def _training_corpus_oracle() -> str:
    stop_list = ", ".join(f"'{s}'" for s in _STOPWORDS)
    return f"""
    WITH ex AS (
        SELECT doc_id, lang, n_chars, text,
               row_number() OVER (PARTITION BY md5(lower(trim(text)))
                                  ORDER BY doc_id) AS rn
        FROM documents
    ), removed AS (
        SELECT DISTINCT doc_b AS doc_id
        FROM ({_minhash_oracle()}) p
        WHERE p.est_jaccard >= {NEAR_DUP_THRESHOLD}
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM ex
    WHERE rn = 1
      AND doc_id NOT IN (SELECT doc_id FROM removed)
      AND length(text) >= {MIN_QUALITY_CHARS}
      AND len(list_filter(string_split(text, ' '), t -> t IN ({stop_list}))) > 0
    """


@REG.add("pipeline_training_corpus", oracle=_training_corpus_oracle())
def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM training-data pipeline (BASELINE.json north star),
    end-to-end in one lazy plan: exact dedup (first doc per normalized
    md5) -> MinHash-LSH near-dup removal (drop the higher doc_id of any
    pair with estimated Jaccard >= 0.5) -> quality gate (length +
    stopword-density). Each stage is the same operator the standalone
    entries verify; this entry verifies their COMPOSITION against one
    DuckDB oracle.

    Scale: stage order matters — exact dedup (cheap hash shuffle) runs
    before MinHash (16 digests/shingle), and the near-dup *pair* set
    drives cost, not corpus size. The whole pipeline is one lineage: no
    intermediate materialization unless a layer write is asked for."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.lower(F.trim("text")).cast("binary"))).orderBy(
        "doc_id"
    )
    exact_kept = (
        docs.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    )
    sigs = minhash_signatures(docs, "doc_id", "text")
    removed = (
        lsh_candidate_pairs(sigs, "doc_id")
        .filter(F.col("est_jaccard") >= NEAR_DUP_THRESHOLD)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    stop_hits = F.size(F.filter(F.split("text", " "), lambda t: t.isin(*_STOPWORDS)))
    return (
        exact_kept.join(removed, "doc_id", "left_anti")
        .filter((F.length("text") >= MIN_QUALITY_CHARS) & (stop_hits > 0))
        .select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster assignment: connected components over blocking edges.
# ---------------------------------------------------------------------------

#: Two overlapping token-window blocking keys (tokens 1-6 and 4-9): a doc
#: pair sharing either window becomes an edge, and the OVERLAP between the
#: two windows lets clusters chain transitively (A~B on window 1, B~C on
#: window 2 -> one cluster), which is what makes connected components
#: necessary at all (single-key blocking would be a plain groupBy).
_CC_WINDOWS = ((1, 6), (4, 9))


def _cc_oracle() -> str:
    key_selects = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, array_to_string(ts[{lo}:{hi}], ' ') AS k FROM toks"
        for lo, hi in _CC_WINDOWS
    )
    return f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    keys AS (
        {key_selects}
    ),
    edges AS (
        SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        FROM keys a JOIN keys b USING (k)
        WHERE a.doc_id <> b.doc_id
    ),
    reach(src, lbl) AS (
        SELECT doc_id, doc_id FROM (SELECT DISTINCT doc_id FROM documents)
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.src
    )
    SELECT src AS doc_id, CAST(min(lbl) AS BIGINT) AS component
    FROM reach
    GROUP BY src
    ORDER BY doc_id
    """


@REG.add("dedup_connected_components", oracle=_cc_oracle())
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment via distributed connected components
    (``operators/components.py``): union two overlapping token-window
    blocking passes into an edge list, then iterate to the labeling
    fixpoint. component = min doc_id of the cluster = the canonical
    survivor id near-dup removal would keep. The DuckDB twin computes
    the same transitive closure with a recursive CTE — the iterative
    Spark loop and the recursive oracle must agree exactly, which pins
    the convergence logic. ``algorithm="label"`` deliberately: near-dup
    clusters have tiny diameter (2-4 hops), where per-hop label
    propagation's cheaper rounds beat the star variant's extra
    orient/distinct work; the O(log n)-round star path is the default
    for graphs of unknown/large diameter."""
    from projetos_etl_spark.operators.components import connected_components

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    d = docs.select("doc_id", toks.alias("ts"))
    keys = None
    for lo, hi in _CC_WINDOWS:
        part = d.select(
            "doc_id",
            F.array_join(F.slice("ts", lo, hi - lo + 1), " ").alias("k"),
        )
        keys = part if keys is None else keys.union(part)
    edges = (
        keys.alias("a")
        .join(keys.alias("b"), "k")
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    verts = docs.select(F.col("doc_id").alias("id")).distinct()
    return (
        connected_components(verts, edges, algorithm="label")
        .select(F.col("id").alias("doc_id"), F.col("component").cast("long"))
        .orderBy("doc_id")
    )


def _clustered_dedup_oracle() -> str:
    base = _minhash_oracle()
    # reuse the minhash CTE chain up to the scored pair list: strip the
    # final SELECT and rebuild it as a named CTE, then append the
    # recursive connected-components closure over threshold edges.
    cte_part, final_select = base.rsplit("\n    SELECT doc_a, doc_b,", 1)
    scored_select = "SELECT doc_a, doc_b," + final_select
    return f"""
    WITH RECURSIVE {cte_part.split("WITH", 1)[1]},
    scored AS (
        {scored_select}
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM scored
        WHERE est_jaccard >= {NEAR_DUP_THRESHOLD}
        UNION
        SELECT doc_b, doc_a FROM scored WHERE est_jaccard >= {NEAR_DUP_THRESHOLD}
    ),
    verts AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(src, lbl) AS (
        SELECT doc_id, doc_id FROM verts
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.src
    ),
    comp AS (SELECT src AS doc_id, min(lbl) AS canonical_id FROM reach GROUP BY src)
    SELECT doc_id,
           CAST(canonical_id AS BIGINT) AS canonical_id,
           CAST(count(*) OVER (PARTITION BY canonical_id) AS BIGINT) AS cluster_size
    FROM comp
    ORDER BY doc_id
    """


@REG.add("pipeline_dedup_clustered", oracle=_clustered_dedup_oracle())
def pipeline_dedup_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup clustering pipeline, composed end-to-end:
    MinHash signatures -> banded LSH candidate pairs -> threshold filter
    -> symmetric edge list -> distributed connected components ->
    canonical id (min doc_id) + cluster size per clustered document.
    Pair-based removal (``pipeline_training_corpus``) drops doc_b of
    every pair, which over-deletes on chains (A~B, B~C deletes B AND C
    even if A~C was never scored); cluster-based canonicalization keeps
    exactly one doc per transitive group — the correct semantics, and
    the reason connected components belongs in a dedup stack at all.
    The oracle recomputes the identical chain ending in a recursive CTE."""
    from projetos_etl_spark.operators.components import connected_components

    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(sigs, "doc_id").filter(
        F.col("est_jaccard") >= NEAR_DUP_THRESHOLD
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    comp = connected_components(verts, edges, algorithm="label")  # tiny-diameter graph
    w = Window.partitionBy("canonical_id")
    return (
        comp.select(
            F.col("id").alias("doc_id"),
            F.col("component").cast("long").alias("canonical_id"),
        )
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .orderBy("doc_id")
    )


def _incremental_oracle() -> str:
    match_sum = " + ".join(
        f"CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END"
        for i in range(NUM_HASHES)
    )
    return f"""
    WITH {_bands_cte_sql()}, corpus_capped AS (
        SELECT doc_id, band_id, band_key FROM (
            SELECT doc_id, band_id, band_key,
                   row_number() OVER (PARTITION BY band_id, band_key
                                      ORDER BY doc_id) AS brn
            FROM bands WHERE doc_id % 2 = 0
        ) WHERE brn <= {DEFAULT_MAX_BUCKET}
    ), batch_b AS (
        SELECT doc_id, band_id, band_key FROM bands WHERE doc_id % 2 = 1
    ), cand AS (
        SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
        FROM batch_b b JOIN corpus_capped c USING (band_id, band_key)
    ), dropped AS (
        SELECT DISTINCT batch_id
        FROM cand
        JOIN sig sa ON sa.doc_id = cand.batch_id
        JOIN sig sb ON sb.doc_id = cand.corpus_id
        WHERE ({match_sum}) / {float(NUM_HASHES)} >= {NEAR_DUP_THRESHOLD}
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    WHERE doc_id % 2 = 1
      AND doc_id NOT IN (SELECT batch_id FROM dropped)
    """


@REG.add("dedup_minhash_incremental", oracle=_incremental_oracle())
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup filtering — the shape a continuously-crawled
    corpus actually needs: a new batch is deduplicated AGAINST the
    existing corpus (batch docs that near-match any corpus doc are
    dropped; corpus is never rescanned against itself). Fixture split:
    even doc_ids = corpus, odd = incoming batch.

    Scale shape: the corpus side of the LSH join is its *band buckets* —
    at 100 TB those signatures/buckets are a persisted table keyed by
    (band_id, band_key), so each daily batch costs one signature pass
    over the BATCH plus an equi-join into the bucket table; nothing is
    ever all-pairs and the corpus is never re-shingled. The corpus
    bucket side carries the same ``DEFAULT_MAX_BUCKET`` hot-bucket cap
    as ``lsh_candidate_pairs`` (boilerplate buckets stay O(cap) per
    batch probe), mirrored in the oracle."""
    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "doc_id", "text")
    buckets = lsh_band_buckets(sigs, "doc_id")
    corpus_b = buckets.filter(F.col("doc_id") % 2 == 0)
    w = Window.partitionBy("band_id", "band_key").orderBy("doc_id")
    corpus_b = (
        corpus_b.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= DEFAULT_MAX_BUCKET)
        .drop("__rk")
    )
    batch_b = buckets.filter(F.col("doc_id") % 2 == 1)
    cand = (
        batch_b.alias("b")
        .join(corpus_b.alias("c"), ["band_id", "band_key"])
        .select(
            F.col("b.doc_id").alias("batch_id"),
            F.col("c.doc_id").alias("corpus_id"),
        )
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("batch_id"),
        *[F.col(f"sig_{i}").alias(f"a_{i}") for i in range(NUM_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("corpus_id"),
        *[F.col(f"sig_{i}").alias(f"b_{i}") for i in range(NUM_HASHES)],
    )
    matches = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(NUM_HASHES)
    )
    dropped = (
        cand.join(sa, "batch_id")
        .join(sb, "corpus_id")
        .filter(matches / F.lit(float(NUM_HASHES)) >= NEAR_DUP_THRESHOLD)
        .select("batch_id")
        .distinct()
    )
    return (
        docs.filter(F.col("doc_id") % 2 == 1)
        .join(dropped, docs.doc_id == dropped.batch_id, "left_anti")
        .select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))
    )


def _bucket_stats_oracle() -> str:
    return f"""
    WITH {_bands_cte_sql()}, occ AS (
        SELECT band_id, band_key, count(*) AS n FROM bands GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(n) AS BIGINT) AS max_occupancy,
           CAST(sum(CASE WHEN n > {DEFAULT_MAX_BUCKET} THEN 1 ELSE 0 END) AS BIGINT)
               AS overflow_buckets,
           CAST(sum(greatest(n - {DEFAULT_MAX_BUCKET}, 0)) AS BIGINT)
               AS overflow_members
    FROM occ
    """


@REG.add("dedup_lsh_bucket_stats", oracle=_bucket_stats_oracle())
def dedup_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability companion to the LSH hot-bucket guard: (band_id,
    band_key) occupancy rollup — bucket count, max occupancy, and how
    many buckets/members exceed DEFAULT_MAX_BUCKET (i.e. what the cap in
    ``lsh_candidate_pairs`` would truncate). At 100 TB this is the cheap
    pre-flight that tells you whether a corpus is boilerplate-skewed
    BEFORE paying for the pair join; it costs one extra groupBy on the
    same keys the join shuffles on anyway."""
    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "doc_id", "text")
    occ = (
        lsh_band_buckets(sigs, "doc_id")
        .groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cap = DEFAULT_MAX_BUCKET
    return occ.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("n").cast("long").alias("max_occupancy"),
        F.sum(F.when(F.col("n") > cap, 1).otherwise(0))
        .cast("long")
        .alias("overflow_buckets"),
        F.sum(F.greatest(F.col("n") - cap, F.lit(0)))
        .cast("long")
        .alias("overflow_members"),
    )


@REG.add(
    "er_blocking_join",
    oracle="""
    SELECT a.c_custkey AS left_key,
           b.c_custkey AS right_key,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
    FROM customer a
    JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND substring(a.c_name, 1, 15) = substring(b.c_name, 1, 15)
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY left_key, right_key
    """,
)
def er_blocking_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution with blocking: candidate record pairs meet via
    an EQUI-join on a cheap blocking key (nation + name prefix) and only
    those pairs pay the expensive similarity predicate (JVM
    ``levenshtein``, never a Python UDF). This is the canonical
    fuzzy-matching shape at scale — the blocking key turns an O(n²)
    cross join into a shuffle-partitioned self-join whose cost tracks
    block sizes, exactly like the LSH band join in
    ``dedup_near_minhash`` (blocking IS hand-rolled LSH for structured
    records). Skewed blocks get the same remedies: AQE skew split or a
    salted sub-block key."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", F.substring("c_name", 1, 15).alias("blk")
    )
    a = c.alias("a")
    b = c.alias("b")
    # Thresholded levenshtein (Spark 3.5+): the DP early-terminates once
    # the distance provably exceeds 1 — O(len*threshold) instead of
    # O(len^2) per candidate pair, and the candidate volume is the whole
    # cost of this operator (returns -1 above the threshold, so the
    # filter is `>= 0` and the surviving value IS the exact distance).
    dist = F.levenshtein(F.col("a.c_name"), F.col("b.c_name"), 1)
    return (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .filter(dist >= 0)
        .select(
            F.col("a.c_custkey").alias("left_key"),
            F.col("b.c_custkey").alias("right_key"),
            dist.cast("long").alias("edit_dist"),
        )
        .orderBy("left_key", "right_key")
    )


@REG.add(
    "graph_pagerank",
    # Fixed-iteration power method IS deterministic, so it oracles as a
    # DuckDB recursive CTE replaying the same 10 rounds (VERDICT r4 #8).
    # The recursive term mirrors the Spark plan's union-aggregate shape:
    # one scan of the previous iteration produces inbound contributions
    # (rank/deg over edges), base rows (degree carry), and the dangling
    # mass (window total over deg=0 rows), then one GROUP BY folds them.
    oracle="""
    WITH RECURSIVE
    edges AS (
        SELECT DISTINCT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_custkey IS NOT NULL AND l.l_suppkey IS NOT NULL
    ),
    deg AS (
        SELECT v.id, COALESCE(d.deg, 0) AS deg
        FROM (SELECT src AS id FROM edges UNION SELECT dst FROM edges) v
        LEFT JOIN (SELECT src, count(*) AS deg FROM edges GROUP BY src) d
          ON v.id = d.src
    ),
    pr AS (
        SELECT 0 AS it, id, deg, CAST(1.0 AS DOUBLE) AS rank FROM deg
        UNION ALL
        SELECT it, id, deg,
               0.15 + 0.85 * (inflow + dm / (SELECT count(*) FROM deg)) AS rank
        FROM (
            SELECT it + 1 AS it, id,
                   max(deg) AS deg,
                   sum(c) AS inflow,
                   max(dmtot) AS dm
            FROM (
                SELECT p.it, e.dst AS id, NULL::BIGINT AS deg,
                       p.rank / p.deg AS c, NULL::DOUBLE AS dmtot
                FROM pr p JOIN edges e ON p.id = e.src AND p.deg > 0
                UNION ALL
                SELECT p.it, p.id, p.deg, CAST(0.0 AS DOUBLE) AS c,
                       sum(CASE WHEN p.deg = 0 THEN p.rank ELSE 0 END)
                           OVER () AS dmtot
                FROM pr p
            ) u
            GROUP BY it, id
        )
        WHERE it <= 10
    )
    SELECT id, round(rank, 6) AS rank FROM pr WHERE it = 10 ORDER BY id
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer->supplier purchase graph (distinct
    (o_custkey, l_suppkey) edges from orders x lineitem) — the iterative
    power-method operator (``operators/pagerank.py``). On a crawl corpus
    the same call ranks the hyperlink graph for crawl-frontier/quality
    weighting. 10 fixed iterations for determinism; ranks rounded to 6
    (each engine sums float contributions in its own order; damping
    contracts the per-round ulp noise so ~1e-15 relative never reaches
    the 6th decimal at these rank magnitudes). Also cross-checked
    against a dense numpy power iteration on the same edge set in
    tests/test_dedup.py. NULL keys are not vertices (family seven):
    gated like every graph entry, so the NULL-vertex fate never depends
    on which engine's NULL-concat/NULL-join behavior it hits."""
    from projetos_etl_spark.operators.pagerank import pagerank

    edges = (
        _purchase_pairs(spark, sf_dir)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    pr = pagerank(edges, iters=10)
    return pr.select("id", F.round("rank", 6).alias("rank")).orderBy("id")


CONTAINMENT_THRESHOLD = 0.5


def _containment_oracle() -> str:
    return f"""
    WITH sh AS (
        SELECT doc_id, source, unnest(list_distinct({_SHINGLES_SQL})) AS sh
        FROM documents
    ), sizes AS (
        SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM sh a JOIN sh b
          ON a.sh = b.sh AND a.source = b.source AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT * FROM (
        SELECT doc_a, doc_b,
               round(n_inter / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE), 6)
                   AS containment
        FROM inter
        JOIN sizes sa ON sa.doc_id = inter.doc_a
        JOIN sizes sb ON sb.doc_id = inter.doc_b
    ) WHERE containment >= {CONTAINMENT_THRESHOLD}
    """


@REG.add("dedup_ngram_containment", oracle=_containment_oracle())
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection by shingle containment
    (``operators/minhash.exact_containment_pairs``): flags
    doc-subsumes-doc pairs — quoted-whole reposts, boilerplate-wrapped
    copies — whose Jaccard stays low because the union is dominated by
    the longer doc. The complement of ``dedup_ngram_jaccard`` in a
    training-corpus dedup stack; same inverted-index plan, different
    denominator (min set size, not union)."""
    docs = _t(spark, sf_dir, "documents")
    return exact_containment_pairs(
        docs, "doc_id", "text", block_col="source", threshold=CONTAINMENT_THRESHOLD
    )


def _minhash_verified_oracle() -> str:
    jac = (
        "len(list_intersect(sa.s, sb.s)) * 1.0 / "
        "(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))"
    )
    return f"""
    WITH {_bands_cte_sql()}, bands_capped AS (
        SELECT doc_id, band_id, band_key FROM (
            SELECT doc_id, band_id, band_key,
                   row_number() OVER (PARTITION BY band_id, band_key
                                      ORDER BY doc_id) AS brn
            FROM bands
        ) WHERE brn <= {DEFAULT_MAX_BUCKET}
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands_capped a JOIN bands_capped b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ), sets AS (
        SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS s FROM documents
    )
    SELECT p.doc_a, p.doc_b,
           round({jac}, 4) AS jaccard,
           {jac} >= 0.5    AS is_dup
    FROM pairs p
    JOIN sets sa ON sa.doc_id = p.doc_a
    JOIN sets sb ON sb.doc_id = p.doc_b
    ORDER BY p.doc_a, p.doc_b
    """


@REG.add("dedup_minhash_verified", oracle=_minhash_verified_oracle())
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production near-dup shape: banded-LSH candidate
    generation (sub-quadratic, hot-bucket-capped) followed by an EXACT
    Jaccard verification pass on the candidate pairs only — LSH decides
    WHAT to compare, the verify pass decides WHAT IS a duplicate, so
    band-collision false positives never reach the drop list (the
    precision guarantee ``dedup_near_minhash``'s signature estimate
    alone can't give). Cost model at 100 TB: candidates are O(collisions)
    not O(n²), and the exact pass touches only candidate docs' shingle
    sets — two hash joins on doc_id plus an O(|A|+|B|) per-pair array
    intersect, all JVM-side. Verdict column ``is_dup`` thresholds the
    TRUE Jaccard at 0.5."""
    docs = _t(spark, sf_dir, "documents")
    from projetos_etl_spark.operators.minhash import shingles

    from projetos_etl_spark.operators.minhash import lsh_candidate_ids

    sigs = minhash_signatures(docs, "doc_id", "text")
    # ids-only candidate generation: the est_jaccard score would be
    # discarded here (the exact pass re-scores), so don't pay its two
    # signature joins.
    cands = lsh_candidate_ids(sigs, "doc_id")
    # Join RAW text first, shingle AFTER: the exact pass only ever needs
    # shingle sets for candidate-pair docs (O(collisions) rows), so
    # computing them before the join would shingle the whole corpus
    # twice for nothing.
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter / (F.size("sa") + F.size("sb") - inter)
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.array_distinct(shingles(F.col("text_a"))).alias("sa"),
            F.array_distinct(shingles(F.col("text_b"))).alias("sb"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(jac, 4).alias("jaccard"),
            (jac >= 0.5).alias("is_dup"),
        )
        .orderBy("doc_a", "doc_b")
    )


@REG.add(
    "er_blocking_multipass",
    oracle="""
    WITH keyed AS (
        SELECT c_custkey, c_name, c_nationkey,
               substring(c_name, 1, 15) AS blk_pre,
               right(c_name, 4)         AS blk_suf
        FROM customer
    ),
    cand AS (
        SELECT a.c_custkey AS left_key, b.c_custkey AS right_key
        FROM keyed a JOIN keyed b
          ON a.c_nationkey = b.c_nationkey AND a.blk_pre = b.blk_pre
         AND a.c_custkey < b.c_custkey
        UNION
        SELECT a.c_custkey, b.c_custkey
        FROM keyed a JOIN keyed b
          ON a.c_nationkey = b.c_nationkey AND a.blk_suf = b.blk_suf
         AND a.c_custkey < b.c_custkey
    )
    SELECT c.left_key, c.right_key,
           CAST(levenshtein(ka.c_name, kb.c_name) AS BIGINT) AS edit_dist
    FROM cand c
    JOIN keyed ka ON ka.c_custkey = c.left_key
    JOIN keyed kb ON kb.c_custkey = c.right_key
    WHERE levenshtein(ka.c_name, kb.c_name) <= 1
    ORDER BY c.left_key, c.right_key
    """,
)
def er_blocking_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass blocking ER — the recall fix ``er_blocking_join``'s
    docstring promises: candidate pairs are the UNION of two
    complementary cheap block keys (nation + 15-char name prefix,
    nation + 4-char name suffix), so a true match whose single edit
    falls inside one key's span is still caught by the other pass (a
    one-key blocker structurally misses every pair whose difference is
    inside the key). Each pass is an equi-join shuffle on its own key;
    the union dedups candidates BEFORE the levenshtein so no pair pays
    the expensive predicate twice. This is exactly how production ER
    blockers are deployed (multiple redundant passes, each recall-
    partial, union'd), and the per-pass economics are the LSH band
    economics: cost tracks block sizes, skewed blocks get AQE/salting."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.substring("c_name", 1, 15).alias("blk_pre"),
        F.expr("right(c_name, 4)").alias("blk_suf"),
    )
    a, b = c.alias("a"), c.alias("b")

    def pass_pairs(key: str) -> DataFrame:
        return a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        ).select(
            F.col("a.c_custkey").alias("left_key"),
            F.col("b.c_custkey").alias("right_key"),
        )

    cand = pass_pairs("blk_pre").unionByName(pass_pairs("blk_suf")).distinct()
    ka = c.select(F.col("c_custkey").alias("left_key"), F.col("c_name").alias("name_a"))
    kb = c.select(F.col("c_custkey").alias("right_key"), F.col("c_name").alias("name_b"))
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"), 1)
    return (
        cand.join(ka, "left_key")
        .join(kb, "right_key")
        .filter(dist >= 0)
        .select("left_key", "right_key", dist.cast("long").alias("edit_dist"))
        .orderBy("left_key", "right_key")
    )


EVAL_JACCARD_THRESHOLD = 0.5


def _lsh_recall_oracle() -> str:
    return f"""
    WITH {_bands_cte_sql()}, bands_capped AS (
        SELECT doc_id, band_id, band_key FROM (
            SELECT doc_id, band_id, band_key,
                   row_number() OVER (PARTITION BY band_id, band_key
                                      ORDER BY doc_id) AS brn
            FROM bands
        ) WHERE brn <= {DEFAULT_MAX_BUCKET}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands_capped a JOIN bands_capped b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ), tsh AS (
        SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS sh
        FROM documents
    ), tsizes AS (
        SELECT doc_id, count(*) AS n_sh FROM tsh GROUP BY doc_id
    ), tinter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM tsh a JOIN tsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), truth AS (
        SELECT doc_a, doc_b FROM (
            SELECT doc_a, doc_b,
                   n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) AS j
            FROM tinter
            JOIN tsizes sa ON sa.doc_id = tinter.doc_a
            JOIN tsizes sb ON sb.doc_id = tinter.doc_b
        ) WHERE j >= {EVAL_JACCARD_THRESHOLD}
    )
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT count(*) FROM cand)  AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM truth t JOIN cand c
                 ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS BIGINT) AS n_hit,
           round((SELECT count(*) FROM truth t JOIN cand c
                  ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) * 1.0
                 / nullif((SELECT count(*) FROM truth), 0), 4)  AS recall,
           round((SELECT count(*) FROM truth t JOIN cand c
                  ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) * 1.0
                 / nullif((SELECT count(*) FROM cand), 0), 4)   AS precision_at_t
    """


@REG.add("dedup_lsh_recall_eval", oracle=_lsh_recall_oracle())
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured LSH quality, not asserted: exact shingle-Jaccard ground
    truth (inverted-index join — complete above threshold, since any
    pair with J ≥ 0.5 shares shingles) is compared against the banded-
    LSH candidate set, yielding RECALL (what fraction of true dups the
    bands surface) and PRECISION (what fraction of candidates are true
    dups) in one row. This is how LSH parameters (hashes, bands, cap)
    are validated before a corpus-scale run: execute THIS evaluation on
    a sample, read recall, then commit the parameters — the
    sample-then-sweep methodology, here as a first-class operator. All
    three inputs are bounded joins (no all-pairs anywhere: truth pairs
    form only on shared shingles, candidates only on shared band keys)."""
    from projetos_etl_spark.operators.minhash import lsh_candidate_ids

    docs = _t(spark, sf_dir, "documents")
    truth = exact_ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=EVAL_JACCARD_THRESHOLD
    ).select("doc_a", "doc_b")
    sigs = minhash_signatures(docs, "doc_id", "text")
    cand = lsh_candidate_ids(sigs, "doc_id")
    hit = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    t = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    c = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    h = hit.agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    return (
        t.crossJoin(c)  # three 1-row aggregates, not a real cross
        .crossJoin(h)
        .select(
            "n_truth",
            "n_candidates",
            "n_hit",
            F.round(
                F.col("n_hit") / F.nullif(F.col("n_truth"), F.lit(0)), 4
            ).alias("recall"),
            F.round(
                F.col("n_hit") / F.nullif(F.col("n_candidates"), F.lit(0)), 4
            ).alias("precision_at_t"),
        )
    )


@REG.add(
    "graph_degree_stats",
    oracle="""
    WITH e AS (
        SELECT DISTINCT concat('c', o_custkey)  AS src,
                        concat('s', l_suppkey)  AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
    ),
    deg AS (
        SELECT src AS id, count(*) AS degree FROM e GROUP BY src
        UNION ALL
        SELECT dst, count(*) FROM e GROUP BY dst
    )
    SELECT CAST(substr(id, 1, 1) = 'c' AS BOOLEAN) AS is_customer,
           CAST(degree AS BIGINT)                  AS degree,
           CAST(count(*) AS BIGINT)                AS n_vertices
    FROM deg
    GROUP BY 1, 2
    ORDER BY is_customer, degree
    """,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the purchase graph (out-degree per
    customer, in-degree per supplier) — the first diagnostic run on any
    graph before an iterative algorithm: the max degree bounds every
    per-vertex shuffle bucket, and a heavy-tailed histogram here is the
    advance warning that PageRank/components need the skew remedies
    (salting, AQE split) before they're launched on 100 TB of edges.
    Two mergeable aggregates over the deduped edge set (degree per
    vertex, then vertex count per degree) — the histogram shuffle
    carries one row per DISTINCT degree value, essentially nothing."""
    e = (
        _purchase_pairs(spark, sf_dir)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    deg = (
        e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("degree"))
        .unionByName(
            e.groupBy(F.col("dst").alias("id")).agg(
                F.count(F.lit(1)).alias("degree")
            )
        )
    )
    return (
        deg.groupBy(
            (F.substring("id", 1, 1) == "c").alias("is_customer"),
            F.col("degree").cast("long").alias("degree"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
        .orderBy("is_customer", "degree")
    )


#: Hamming radius for the simhash pair search; the pigeonhole blocking
#: below splits the 16-bit signature into HAMMING_MAX_DIST + 1 segments.
HAMMING_MAX_DIST = 2
_SH_SEGMENTS = [(1, 6), (7, 5), (12, 5)]  # (start, length), 1-based, covers 16 bits


def _simhash_pairs_oracle() -> str:
    ham = " + ".join(
        f"(CASE WHEN substr(a.simhash, {i}, 1) <> substr(b.simhash, {i}, 1)"
        " THEN 1 ELSE 0 END)"
        for i in range(1, NUM_BITS + 1)
    )
    return f"""
    WITH {_simhash_cte()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST({ham} AS BIGINT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE {ham} <= {HAMMING_MAX_DIST}
    ORDER BY doc_a, doc_b
    """


def _simhash_cte() -> str:
    """The simhash-signature CTE, shared with ``_simhash_oracle``'s
    logic (same constants, so the twins can't drift)."""
    high = ", ".join(f"'{h}'" for h in ["8", "9", "a", "b", "c", "d", "e", "f"])
    votes = ",\n               ".join(
        f"sum(CASE WHEN substr(digest, {i + 1}, 1) IN ({high}) THEN 1 ELSE -1 END) AS v_{i}"
        for i in range(NUM_BITS)
    )
    bits = ", ".join(
        f"CASE WHEN v_{i} > 0 THEN '1' ELSE '0' END" for i in range(NUM_BITS)
    )
    return f"""tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ), d AS (
        SELECT doc_id, md5('sh|' || tok) AS digest FROM tok
    ), v AS (
        SELECT doc_id,
               {votes}
        FROM d GROUP BY doc_id
    ), sigs AS (
        SELECT doc_id, concat({bits}) AS simhash FROM v
    )"""


@REG.add("dedup_simhash_hamming", oracle=_simhash_pairs_oracle())
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS within Hamming distance 2, found WITHOUT
    an all-pairs scan — the Manku/Jain/Das Sarma (WWW'07) pigeonhole
    design: the 16-bit signature splits into 3 segments (6/5/5 bits);
    any pair differing in ≤ 2 bits must agree EXACTLY on at least one
    segment (3 segments, 2 differences — one segment is untouched), so
    the union of three equi-joins on (segment index, segment value) is
    a COMPLETE candidate set, and the exact 16-bit Hamming check runs
    on candidates only. The oracle is the brute-force all-pairs filter
    — equality proves the pigeonhole recall guarantee, not just
    plausibility. At 100 TB: 64-bit simhash / radius 3 → 4 segment
    tables, same shape; candidates track true near-dup density, never
    n²."""
    docs = _t(spark, sf_dir, "documents")
    from projetos_etl_spark.operators.simhash import hamming_distance

    sigs = simhash_signatures(docs, "doc_id", "text").localCheckpoint(eager=True)
    seg_tables = [
        sigs.select(
            "doc_id",
            "simhash",
            F.lit(i).alias("seg_id"),
            F.substring("simhash", start, length).alias("seg_val"),
        )
        for i, (start, length) in enumerate(_SH_SEGMENTS)
    ]
    segs = seg_tables[0]
    for t in seg_tables[1:]:
        segs = segs.unionByName(t)
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
    ham = hamming_distance("sig_a", "sig_b")
    return (
        cands.filter(ham <= HAMMING_MAX_DIST)
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


@REG.add(
    "graph_triangle_count",
    oracle="""
    WITH trade AS (
        SELECT DISTINCT least(c.c_nationkey, s.s_nationkey)    AS a,
                        greatest(c.c_nationkey, s.s_nationkey) AS b
        FROM orders o
        JOIN customer c ON o.o_custkey  = c.c_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        JOIN supplier s ON l.l_suppkey  = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
          AND o.o_orderpriority = '1-URGENT'
          AND o.o_totalprice > 150000
    ),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM trade e1
        JOIN trade e2 ON e1.b = e2.a
        JOIN trade e3 ON e1.a = e3.a AND e2.b = e3.b
    ),
    pertri AS (
        SELECT x AS nationkey FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    )
    SELECT n.n_name,
           CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles
    FROM nation n
    LEFT JOIN (
        SELECT nationkey, count(*) AS n_triangles FROM pertri GROUP BY 1
    ) t ON n.n_nationkey = t.nationkey
    ORDER BY n.n_name
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counting on the international trade graph
    (nations linked by high-value urgent cross-border orders) — the
    clustering diagnostic behind community detection and spam-graph
    pruning. The algorithm is the standard distributed one: ORIENT each
    undirected edge low-id -> high-id (every triangle then appears
    exactly once as a<b<c), join the oriented edge list with itself on
    the wedge vertex (b), then verify the closing edge with a second
    equi-join. Orientation is the scale lever: it makes wedge counts
    depend on out-degree only, and at 100 TB you orient by DEGREE
    (low-degree -> high-degree, the node-iterator++ trick) so hub
    vertices generate no wedges — same two equi-joins, skew bounded by
    sqrt(|E|). Here the vertex set is 25 nations so id-orientation
    suffices; the edge build itself is the usual broadcast-dim star
    join, deduped to one row per nation pair."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 150000)
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .distinct()
        # Referenced three times (e1/e2/e3) — deliberately NOT
        # checkpointed: the three subtrees are identical, so runtime
        # exchange reuse serves one physical star join to all of them
        # (measured: an eager localCheckpoint here is ~1.8x SLOWER at
        # sf0.1 — it adds a barrier and hides the join from AQE).
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(e3, (F.col("e1.a") == F.col("e3.a")) & (F.col("e2.b") == F.col("e3.b")))
        .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z"))
    )
    pertri = (
        tri.select(F.col("x").alias("nationkey"))
        .unionByName(tri.select(F.col("y").alias("nationkey")))
        .unionByName(tri.select(F.col("z").alias("nationkey")))
    )
    counts = pertri.groupBy("nationkey").agg(F.count(F.lit(1)).alias("n_triangles"))
    return (
        n.join(counts, n.n_nationkey == counts.nationkey, "left")
        .select(
            "n_name",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
        )
        .orderBy("n_name")
    )


@REG.add(
    "er_golden_record",
    oracle="""
    WITH keyed AS (
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
               substring(c_name, 1, 15) AS blk
        FROM customer
    ),
    rep AS (
        SELECT c_nationkey, blk, min(c_custkey) AS rep_key
        FROM keyed GROUP BY 1, 2
    ),
    members AS (
        SELECT k.*, r.rep_key, rk.c_name AS rep_name
        FROM keyed k
        JOIN rep r ON k.c_nationkey = r.c_nationkey AND k.blk = r.blk
        JOIN keyed rk ON rk.c_custkey = r.rep_key
        WHERE levenshtein(k.c_name, rk.c_name) <= 1
    )
    SELECT rep_key,
           CAST(count(*) AS BIGINT)      AS n_members,
           min(c_name)                   AS golden_name,
           round(max(c_acctbal), 2)      AS golden_acctbal,
           min(c_mktsegment)             AS golden_segment
    FROM members
    GROUP BY rep_key
    HAVING count(*) > 1
    ORDER BY rep_key
    """,
)
def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution survivorship (MDM 'golden record'): after
    blocking finds duplicate customer identities, each cluster merges
    into ONE surviving record under explicit field rules (earliest key
    as stable id, lexicographic-min name, max balance — the
    most-complete-value policy). Clustering here is STAR-shaped: the
    block's minimum key is the hub and members attach by edit distance
    to it — one deterministic pass, no transitive closure (the
    full-closure variant is ``dedup_connected_components``; star is
    what production MDM runs when clusters are known-small). Cost:
    block-key hash agg + two broadcast-able joins + thresholded JVM
    levenshtein on block-mates only; survivorship itself is one
    mergeable aggregate per cluster. Only multi-member clusters
    surface (HAVING count > 1) — the audit of what merging changed."""
    c = load_table(spark, sf_dir, "customer")
    keyed = c.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
        F.substring("c_name", 1, 15).alias("blk"),
    )
    rep = keyed.groupBy("c_nationkey", "blk").agg(F.min("c_custkey").alias("rep_key"))
    rep_names = keyed.select(
        F.col("c_custkey").alias("rep_key"), F.col("c_name").alias("rep_name")
    )
    members = (
        keyed.join(rep, ["c_nationkey", "blk"])
        .join(F.broadcast(rep_names), "rep_key")
        .filter(F.levenshtein("c_name", "rep_name") <= 1)
    )
    return (
        members.groupBy("rep_key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("c_name").alias("golden_name"),
            F.round(F.max("c_acctbal"), 2).alias("golden_acctbal"),
            F.min("c_mktsegment").alias("golden_segment"),
        )
        .filter(F.col("n_members") > 1)
        .orderBy("rep_key")
    )


#: Bipartite-projection hub cap: customers linked to more suppliers than
#: this are excluded from pair generation (a hub contributes C(d,2)
#: pairs — one 10^6-degree node alone would emit 5*10^11 rows).
PROJ_HUB_CAP = 50
PROJ_TOP_K = 20


@REG.add(
    "graph_bipartite_projection",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_custkey IS NOT NULL AND l.l_suppkey IS NOT NULL
    ),
    kept AS (
        SELECT c, s FROM edges
        WHERE c IN (SELECT c FROM edges GROUP BY c
                    HAVING count(*) <= {PROJ_HUB_CAP})
    )
    SELECT a.s AS supp_a, b.s AS supp_b,
           CAST(count(*) AS BIGINT) AS shared_customers
    FROM kept a JOIN kept b ON a.c = b.c AND a.s < b.s
    GROUP BY 1, 2
    ORDER BY shared_customers DESC, supp_a, supp_b
    LIMIT {PROJ_TOP_K}
    """,
)
def graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection of the customer-supplier purchase graph onto
    suppliers: edge weight = number of shared customers — the
    co-occurrence projection behind "suppliers bought together"
    recommendations and, on a doc-entity graph, entity co-mention
    networks. Scale discipline: pair generation is a self-join keyed on
    the customer, so each customer of degree d emits C(d,2) pairs —
    hub customers above {PROJ_HUB_CAP} suppliers are EXCLUDED first
    (the degree filter is one mergeable count, and the cap is mirrored
    in the oracle), which bounds the blowup exactly like the
    hot-bucket cap in ``dedup_near_minhash``. Top-k pairs via
    TakeOrderedAndProject with an (a, b) tie-break."""
    # The edge set is referenced by the degree filter AND both self-join
    # sides; the static plan duplicated the scan+join+distinct subtree
    # per reference (r13 plan: 8 FileScans, 10 Exchanges, 0
    # ReusedExchange — and the quiet-host swing the r13 VERDICT flagged
    # tracks exactly which duplicates AQE's runtime reuse happened to
    # catch). r14: materialize the HUB-CAPPED edge set ONCE,
    # hash-partitioned on the customer key (checkpoint_partitioned) —
    # the degree filter is computed once against the c-partitioned edge
    # checkpoint (one node-scale aggregate, no extra exchange; its
    # output partitioning already matches the join), and the C(d,2)
    # pair self-join then runs on two CO-PARTITIONED scans of one
    # in-memory table: zero exchanges ahead of the pair aggregate, and
    # the 100 TB fact tables are scanned once regardless of reuse
    # heuristics.
    edges = checkpoint_partitioned(
        _purchase_pairs(spark, sf_dir)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct(),
        "c",
    )
    deg_ok = edges.groupBy("c").agg(F.count(F.lit(1)).alias("d")).filter(
        F.col("d") <= PROJ_HUB_CAP
    )
    # ``edges`` is already c-partitioned, the degree aggregate and the
    # cap join both reuse that layout — so this checkpoint passes NO key:
    # it materializes the kept set without adding an exchange, keeping
    # the join's c-partitioning for the self-join below.
    kept = checkpoint_partitioned(edges.join(deg_ok.select("c"), "c"))
    a = kept.select("c", F.col("s").alias("supp_a"))
    b = kept.select("c", F.col("s").alias("supp_b"))
    return (
        a.join(b, (a.c == b.c) & (F.col("supp_a") < F.col("supp_b")))
        .groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_customers"))
        .orderBy(F.col("shared_customers").desc(), "supp_a", "supp_b")
        .limit(PROJ_TOP_K)
    )


@REG.add(
    "dedup_exact_keep_best",
    # Survivor = max_by over a composite ordering struct; the oracle
    # spells the identical (n_chars DESC, doc_id ASC) policy as a
    # window rank. Integer-exact ordering keys, so the surviving id is
    # deterministic in both engines. The fixture ships duplicate-free,
    # so deterministic copies are injected (the text_pii_redact
    # device): case-mangled same-length copies exercise the tie-break,
    # whitespace-padded longer copies exercise the quality dimension.
    oracle="""
    WITH corpus AS (
        SELECT doc_id, n_chars, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, n_chars, upper(text)
        FROM documents WHERE doc_id % 20 = 0
        UNION ALL
        SELECT doc_id + 2000000, n_chars + 2, text || '  '
        FROM documents WHERE doc_id % 30 = 0
    ),
    fp AS (
        SELECT doc_id, n_chars,
               md5(lower(trim(text))) AS fingerprint
        FROM corpus
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY fingerprint
                                     ORDER BY n_chars DESC, doc_id) AS rn,
               count(*) OVER (PARTITION BY fingerprint) AS n_copies
        FROM fp
    )
    SELECT fingerprint,
           CAST(n_copies AS BIGINT) AS n_copies,
           CAST(doc_id AS BIGINT) AS kept_doc,
           CAST(n_chars AS BIGINT) AS kept_chars
    FROM ranked
    WHERE rn = 1 AND n_copies > 1
    ORDER BY fingerprint
    """,
)
def dedup_exact_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a SURVIVORSHIP POLICY: per normalized-text
    fingerprint keep the BEST copy (longest text, ties to the lowest
    id) instead of an arbitrary first — the policy question every real
    dedup ships with (dropDuplicates keeps whichever row the partition
    race hands it; training pipelines want the canonical copy chosen by
    quality). One hash aggregate with ``max_by`` over a composite
    ordering struct — same single-shuffle economics as ``dedup_exact``,
    zero extra passes. Reports only fingerprints that actually had
    duplicates (deterministically injected: case-mangled ties +
    padded longer copies — the fixture itself is duplicate-free)."""
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "text"
    )
    docs = base.unionByName(
        base.filter(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            "n_chars",
            F.upper("text").alias("text"),
        )
    ).unionByName(
        base.filter(F.col("doc_id") % 30 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            (F.col("n_chars") + 2).alias("n_chars"),
            F.concat(F.col("text"), F.lit("  ")).alias("text"),
        )
    )
    fp = docs.select(
        "doc_id",
        "n_chars",
        F.md5(F.lower(F.trim(F.col("text"))).cast("binary")).alias("fingerprint"),
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.max_by(
                "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nd"))
            )
            .cast("long")
            .alias("kept_doc"),
            F.max("n_chars").cast("long").alias("kept_chars"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy("fingerprint")
    )


LPA_ITERS = 4
LPA_SUPP_BASE = 1_000_000


def _undirected_purchases(spark: SparkSession, sf_dir: str, key: str) -> DataFrame:
    """The LPA / k-core edge table (src, dst): both directions of each
    distinct customer-supplier pair, suppliers offset by
    ``LPA_SUPP_BASE`` into one long id space. The loops join it on
    ``key`` every round, so it is shuffled onto that key once and
    checkpointed (``checkpoint_partitioned``)."""
    bip = (
        _purchase_pairs(spark, sf_dir)
        .select(
            F.col("o_custkey").cast("long").alias("c"),
            (F.col("l_suppkey") + F.lit(LPA_SUPP_BASE)).cast("long").alias("s"),
        )
        .distinct()
    )
    return checkpoint_partitioned(
        bip.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
            bip.select(F.col("s").alias("src"), F.col("c").alias("dst"))
        ),
        key,
    )


#: Packed (count, label) argmax base: cnt*2^32 + (2^32-1-label) orders a
#: LONG exactly like struct(cnt, -label) — max count first, ties to the
#: SMALLEST label — while staying hash-aggregable (max over struct falls
#: back to SortAggregate: sort per partition + no mutable agg buffer).
#: Exact only while 0 <= label < 2^32 (and cnt < 2^31, which a node's
#: degree bounds): a negative key carries into the count, a key >= 2^32
#: borrows from it. ``_lpa_packable`` checks the label domain once per
#: run; outside it the rounds use the exact struct argmax.
_LPA_PACK = 4294967296  # 2^32


def _lpa_packable(und: DataFrame) -> bool:
    """True iff every label of an LPA run over ``und`` fits the packed
    argmax: labels are node ids, i.e. ``src`` values. One min/max
    aggregate over the checkpointed edges, planned without AQE so it is
    one job rather than one per stage; an empty graph is packable."""
    with aqe_off(und.sparkSession):
        lo, hi = und.agg(F.min("src"), F.max("src")).first()
    return lo is None or (lo >= 0 and hi < _LPA_PACK)


def _lpa_step(
    und: DataFrame, labels: DataFrame | None, n: int, packed: bool
) -> DataFrame:
    """One synchronous LPA round: each node adopts its neighbors'
    most-frequent label (count DESC, label ASC).

    ``labels=None`` is the first round, where every node's label is its
    own id: the votes are the edges themselves, with no labels table and
    no join. ``und`` holds every edge in both directions, so "``src``
    hears ``dst``" is the same vote multiset as "``dst`` hears
    ``src``", and it already sits in the ``src`` partitions: the
    round's repartition matches the existing layout and plans no
    exchange at all.

    Shuffle shape (guide §2.4 — share one exchange between operations
    keyed the same way): ``und`` arrives hash-partitioned on ``src``
    into ``n`` partitions (checkpoint_partitioned, built once before the
    loop). The vote stream takes the round's ONE exchange, onto ``nid``
    with the same ``n``: hashpartitioning(nid, n) satisfies the
    clustering of BOTH aggregates (keys (nid,label) then (nid)), and the
    result, checkpointed keyless (AQE off), keeps it as
    hashpartitioning(id, n) — the same layout as ``und``, so the next
    round's label join needs no exchange on either side. The
    shuffled-hash hint keeps that join from sorting the edge side.
    ``packed`` (see ``_lpa_packable``) picks the packed-long argmax,
    which keeps both aggregates HashAggregates, over the exact struct
    argmax."""
    if labels is None:
        votes = und.select(F.col("src").alias("nid"), F.col("dst").alias("label"))
    else:
        # ``labels`` is the hash-join build side: held in memory per
        # partition, and Spark cannot spill it. Safe while one partition
        # of the node-scale label table fits in executor memory.
        votes = und.join(
            labels.hint("shuffle_hash"), und.src == labels.id
        ).select(F.col("dst").alias("nid"), "label")
    by_node = (
        votes.repartition(n, F.col("nid"))
        .groupBy("nid", "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("nid")
    )
    if packed:
        best = by_node.agg(
            F.max(
                F.col("cnt") * F.lit(_LPA_PACK)
                + (F.lit(_LPA_PACK - 1) - F.col("label"))
            ).alias("p")
        )
        label = F.lit(_LPA_PACK - 1) - F.pmod(F.col("p"), F.lit(_LPA_PACK))
    else:
        # ~label = -label-1 reverses the order of EVERY long (no overflow)
        best = by_node.agg(
            F.max(F.struct("cnt", F.bitwise_not("label").alias("nl"))).alias("p")
        )
        label = F.bitwise_not(F.col("p.nl"))
    return best.select(F.col("nid").alias("id"), label.alias("label"))


def _lpa_labels(und: DataFrame) -> DataFrame:
    """(id, label) after ``LPA_ITERS`` rounds over the src-partitioned
    edge checkpoint ``und``; each round is materialized by a keyless
    checkpoint, which truncates lineage and keeps the co-partitioned
    layout (see ``_lpa_step``)."""
    n = und.rdd.getNumPartitions()
    packed = _lpa_packable(und)
    labels = None
    for _ in range(LPA_ITERS):
        labels = checkpoint_partitioned(_lpa_step(und, labels, n, packed))
    return labels


@REG.add(
    "graph_label_propagation",
    # Synchronous LPA with the (count DESC, label ASC) deterministic
    # update is pure INTEGER arithmetic, so unlike float fixpoints it
    # hash-verifies directly: the oracle replays the same 4 rounds as a
    # recursive CTE (one self-reference; argmax via row_number).
    oracle=f"""
    WITH RECURSIVE
    bip AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_custkey IS NOT NULL AND l.l_suppkey IS NOT NULL
    ),
    und AS (
        SELECT c AS src, {LPA_SUPP_BASE} + s AS dst FROM bip
        UNION ALL
        SELECT {LPA_SUPP_BASE} + s, c FROM bip
    ),
    lab AS (
        SELECT 0 AS it, src AS id, src AS label FROM (SELECT DISTINCT src FROM und)
        UNION ALL
        SELECT it + 1, id, label FROM (
            SELECT l.it, e.dst AS id, l.label,
                   row_number() OVER (
                       PARTITION BY l.it, e.dst
                       ORDER BY count(*) DESC, l.label) AS rn
            FROM lab l JOIN und e ON l.id = e.src
            WHERE l.it < {LPA_ITERS}
            GROUP BY l.it, e.dst, l.label
        ) WHERE rn = 1
    )
    SELECT id AS node_id, label,
           count(*) OVER (PARTITION BY label) AS community_size
    FROM lab WHERE it = {LPA_ITERS}
    ORDER BY node_id
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    undirected customer<->supplier purchase graph (supplier ids offset
    to share one integer node space) — the raw-labels cousin of
    ``dedup_connected_components``: where CC converges to min-reachable
    labels, LPA's most-frequent-neighbor-label update finds densely
    connected purchase communities (the clustering used to group near-
    dup web domains or co-citation sets before per-community dedup).
    Deterministic by construction: the update argmax breaks count ties
    on the SMALLEST label, all-integer state, fixed {LPA_ITERS}
    synchronous rounds. The edge table is hash-partitioned on src ONCE,
    and every round's labels are kept hash-partitioned on id into the
    same partitions, so a round is ONE exchange (the vote shuffle onto
    the receiving node) plus one two-level aggregate: the label join
    reads both sides in place. The first round (every label is its
    node's id) votes straight off the edges, with no join and no
    exchange. Lineage is truncated per round, so the plan stays
    iteration-invariant."""
    und = _undirected_purchases(spark, sf_dir, "src")
    w = Window.partitionBy("label")
    return _lpa_labels(und).select(
        F.col("id").alias("node_id"),
        "label",
        F.count(F.lit(1)).over(w).alias("community_size"),
    ).orderBy("node_id")


LINKPRED_TOPK = 100


@REG.add(
    "graph_jaccard_link_prediction",
    # Jaccard = inter / (deg_a + deg_b - inter): single IEEE divisions
    # of exact integers are bit-identical cross-engine, so ordering and
    # values both hash-verify without rounding.
    oracle=f"""
    WITH bip AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_custkey IS NOT NULL AND l.l_suppkey IS NOT NULL
    ),
    keep AS (
        SELECT c FROM bip GROUP BY c HAVING count(*) <= {PROJ_HUB_CAP}
    ),
    deg AS (SELECT s, count(*) AS d FROM bip GROUP BY s),
    inter AS (
        SELECT a.s AS supp_a, b.s AS supp_b, count(*) AS n_shared
        FROM bip a JOIN bip b ON a.c = b.c AND a.s < b.s
        WHERE a.c IN (SELECT c FROM keep)
        GROUP BY a.s, b.s
    )
    SELECT supp_a, supp_b, n_shared,
           CAST(n_shared AS DOUBLE) / (da.d + db.d - n_shared) AS jaccard
    FROM inter
    JOIN deg da ON da.s = supp_a
    JOIN deg db ON db.s = supp_b
    ORDER BY jaccard DESC, supp_a, supp_b
    LIMIT {LINKPRED_TOPK}
    """,
)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighbor-set Jaccard over the customer->
    supplier bipartite graph: supplier pairs whose customer sets
    overlap most are the likeliest future co-purchase links (the same
    score ranks candidate duplicate entities or related crawl domains).
    Scale shape = the bipartite-projection discipline: pair generation
    rides the customer-keyed inverted index with hub customers above
    {PROJ_HUB_CAP} suppliers EXCLUDED before the C(d,2) blowup (cap
    mirrored in the oracle); degrees come from the full graph in one
    mergeable aggregate and broadcast-join back onto the pair list;
    top-k is TakeOrderedAndProject, never a global sort of all pairs."""
    bip = (
        _purchase_pairs(spark, sf_dir)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .localCheckpoint(eager=True)  # reused by keep/deg/pairs
    )
    keep = bip.groupBy("c").agg(F.count(F.lit(1)).alias("dc")).filter(
        F.col("dc") <= PROJ_HUB_CAP
    ).select("c")
    deg = bip.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    a = bip.join(F.broadcast(keep), "c").alias("a")
    b = bip.join(F.broadcast(keep), "c").alias("b")
    inter = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(
            F.col("a.s").alias("supp_a"), F.col("b.s").alias("supp_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    da = deg.select(F.col("s").alias("supp_a"), F.col("d").alias("da"))
    db = deg.select(F.col("s").alias("supp_b"), F.col("d").alias("db"))
    return (
        inter.join(F.broadcast(da), "supp_a")
        .join(F.broadcast(db), "supp_b")
        .select(
            "supp_a",
            "supp_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (F.col("da") + F.col("db") - F.col("n_shared"))
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "supp_a", "supp_b")
        .limit(LINKPRED_TOPK)
    )


KCORE_K = 8
KCORE_ROUNDS = 6


def _kcore_degrees(und: DataFrame, alive: DataFrame) -> DataFrame:
    """(id, deg) = per-node count of ALIVE neighbors. ``und`` arrives
    hash-partitioned on ``dst`` (checkpoint_partitioned, built once), so
    the join only shuffles the node-scale alive side — hinted
    shuffled-hash so the edge side is never sorted either; the single
    remaining edge-scale exchange is the mergeable groupBy(src). The
    hinted alive side is the hash-join build side, which Spark holds in
    memory per partition and cannot spill: safe while one partition of
    the node table fits in executor memory."""
    return (
        und.join(
            alive.select(F.col("id").alias("dst"), F.col("alive").alias("da")).hint(
                "shuffle_hash"
            ),
            "dst",
        )
        .groupBy(F.col("src").alias("id"))
        .agg(F.sum(F.col("da").cast("int")).alias("deg"))
    )


def _kcore_step(und: DataFrame, alive: DataFrame) -> DataFrame:
    """One synchronous peel round: drop nodes whose alive-degree is
    under k. Same exchange economics as :func:`_kcore_degrees` plus a
    node-scale left join back onto the alive table."""
    deg = _kcore_degrees(und, alive)
    return alive.join(deg, "id", "left").select(
        "id",
        (F.col("alive") & (F.coalesce(F.col("deg"), F.lit(0)) >= KCORE_K)).alias(
            "alive"
        ),
    )


@REG.add(
    "graph_kcore_decomposition",
    # Iterative peeling is pure integer arithmetic (alive flags +
    # within-subgraph degree counts), so the fixed-round replay is a
    # recursive CTE twin — the pagerank union-fold shape, but with no
    # float state at all.
    oracle=f"""
    WITH RECURSIVE
    bip AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_custkey IS NOT NULL AND l.l_suppkey IS NOT NULL
    ),
    und AS (
        SELECT c AS src, {LPA_SUPP_BASE} + s AS dst FROM bip
        UNION ALL
        SELECT {LPA_SUPP_BASE} + s, c FROM bip
    ),
    r AS (
        SELECT 0 AS it, src AS id, TRUE AS alive
        FROM (SELECT DISTINCT src FROM und)
        UNION ALL
        SELECT it + 1, id, alive AND deg >= {KCORE_K}
        FROM (
            SELECT it, id, bool_or(self_alive) AS alive,
                   sum(contrib) AS deg
            FROM (
                SELECT p.it, e.dst AS id, FALSE AS self_alive,
                       CAST(p.alive AS INTEGER) AS contrib
                FROM r p JOIN und e ON p.id = e.src
                UNION ALL
                SELECT p.it, p.id, p.alive, 0 FROM r p
            ) u
            GROUP BY it, id
        )
        WHERE it < {KCORE_ROUNDS}
    ),
    fin AS (SELECT id, alive FROM r WHERE it = {KCORE_ROUNDS}),
    prev AS (SELECT id, alive FROM r WHERE it = {KCORE_ROUNDS} - 1),
    deg_fin AS (
        SELECT e.src AS id, sum(CAST(f.alive AS INTEGER)) AS d
        FROM und e JOIN fin f ON f.id = e.dst
        GROUP BY e.src
    ),
    conv AS (
        SELECT (SELECT count(*) FROM fin WHERE alive)
               = (SELECT count(*) FROM prev WHERE alive) AS converged
    )
    SELECT f.id AS node_id,
           CAST(CASE WHEN f.alive THEN COALESCE(d.d, 0) ELSE 0 END
                AS BIGINT) AS core_degree,
           f.alive AS in_core,
           conv.converged
    FROM fin f LEFT JOIN deg_fin d ON d.id = f.id CROSS JOIN conv
    ORDER BY node_id
    """,
)
def graph_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_K}-core of the undirected purchase graph by iterative
    peeling: each round drops nodes whose degree WITHIN the surviving
    subgraph is under k, the classic dense-subgraph/spam-farm filter
    (on a crawl graph the deep cores are the link farms; on a
    co-purchase graph, the loyal clusters). All-integer state (alive
    flags, degree tallies) over {KCORE_ROUNDS} synchronous rounds —
    one edge-join shuffle + one aggregate per round, lineage truncated
    — plus a ``converged`` column comparing the last two rounds'
    survivor counts (computed identically in both engines, so it
    documents rather than gambles). Per-round cost tracks surviving
    edges, which only shrinks. NULL keys are not vertices (family
    seven): a NULL custkey would mint a NULL node whose edges silently
    vanish in the oracle's recursive equi-joins while surviving Spark's
    degree grouping."""
    # Joined on ``dst`` every round and once more for the final
    # core-degree pass.
    und = _undirected_purchases(spark, sf_dir, "dst")
    alive = und.select(F.col("src").alias("id")).distinct().select(
        "id", F.lit(True).alias("alive")
    ).localCheckpoint(eager=True)
    prev_alive_n = None
    for rnd in range(KCORE_ROUNDS):
        # ``converged`` needs only the LAST two rounds' survivor counts;
        # counting every round spent a full count job per round on a
        # value the next loop pass overwrote (r13: 6 count jobs -> 1).
        if rnd == KCORE_ROUNDS - 1:
            prev_alive_n = alive.filter(F.col("alive")).count()
        alive = _kcore_step(und, alive).localCheckpoint(eager=True)
    final_alive_n = alive.filter(F.col("alive")).count()
    deg_fin = _kcore_degrees(und, alive).select(
        "id", F.col("deg").cast("long").alias("d")
    )
    return (
        alive.join(deg_fin, "id", "left")
        .select(
            F.col("id").alias("node_id"),
            F.when(F.col("alive"), F.coalesce(F.col("d"), F.lit(0)))
            .otherwise(0)
            .cast("long")
            .alias("core_degree"),
            F.col("alive").alias("in_core"),
            F.lit(final_alive_n == prev_alive_n).alias("converged"),
        )
        .orderBy("node_id")
    )


@REG.add(
    "dedup_url_canonical",
    # The synthetic URL grid (source x path-bucket x utm variants) and
    # the canonicalization are pure string expressions with identical
    # regex semantics in Java regex and RE2, so groups and survivors
    # hash-verify exactly.
    oracle="""
    WITH urls AS (
        SELECT doc_id,
               'HTTPS://' || upper(source) || '.Example.com:443/docs/'
               || CAST(doc_id % 10 AS VARCHAR)
               || '?utm_source=feed&id=' || CAST(doc_id % 2 AS VARCHAR)
               || '&utm_campaign=x#sec' || CAST(doc_id % 3 AS VARCHAR) AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(
                           lower(regexp_replace(url, '#.*$', '')),
                           '(utm_[a-z]+=[^&#]*&?)', '', 'g'),
                       '[?&]$', ''),
                   ':443/', '/') AS curl
        FROM urls
    )
    SELECT curl AS canonical_url,
           CAST(count(*) AS BIGINT) AS n_dupes,
           CAST(min(doc_id) AS BIGINT) AS kept_doc
    FROM canon
    GROUP BY curl
    HAVING count(*) > 1
    ORDER BY curl
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-style URL canonicalization + exact dedup: scheme/host
    lowercased, the default :443 port dropped, tracking (utm_*) query
    params stripped, fragments removed — then pages grouping to the
    same canonical URL dedup to the lowest doc id. This is the
    pre-pass every crawl corpus runs before content dedup (the same
    page arrives under dozens of tracking-decorated URLs; canonical
    grouping removes them for free before any shingling). Synthetic
    URLs are derived deterministically from the fixture (source +
    doc-id residues) so the operator exercises the real string
    pipeline; stateless per-row canonicalization + ONE group-by on the
    canonical key — at 100 TB this is the cheapest dedup tier there
    is."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://"),
        F.upper("source"),
        F.lit(".Example.com:443/docs/"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit("?utm_source=feed&id="),
        (F.col("doc_id") % 2).cast("string"),
        F.lit("&utm_campaign=x#sec"),
        (F.col("doc_id") % 3).cast("string"),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.regexp_replace(url, r"#.*$", "")),
                r"(utm_[a-z]+=[^&#]*&?)",
                "",
            ),
            r"[?&]$",
            "",
        ),
        r":443/",
        "/",
    )
    return (
        d.select("doc_id", curl.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_dupes"),
            F.min("doc_id").alias("kept_doc"),
        )
        .filter(F.col("n_dupes") > 1)
        .orderBy("canonical_url")
    )
