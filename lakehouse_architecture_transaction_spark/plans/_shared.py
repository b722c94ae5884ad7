"""Helpers that more than one query family uses.

The exact-decimal revenue fragments, the DuckDB token/shingle SQL
lego the text-side oracles are written in, the co-purchase edge
frames, and the IVF/PQ/k-means index builders with their session
memos. A family module imports its private helpers from here and
nowhere else, so each family reads top to bottom without following
imports into another family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_architecture_transaction_spark.catalog import load_table
from lakehouse_architecture_transaction_spark.operators import similarity as S
from lakehouse_architecture_transaction_spark.operators import text as T


# Shared exact-decimal fragments (see registry docstring for why).
# Aggregation is DECIMAL (exact, order-independent across partitions /
# engines); the OUTPUT boundary is DOUBLE — pandas/Arrow bridges in
# downstream tools float decimals anyway, and an identical decimal
# narrows to an identical double in both engines, so results stay
# bit-comparable without leaking engine-specific decimal rendering.
_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
_SUM_REV = f"CAST(CAST(SUM({_REV}) AS DECIMAL(18,4)) AS DOUBLE)"


_ORDER_PARTS_MEMO: dict[tuple[str, str], DataFrame] = {}
_COPURCHASE_MEMO: dict[tuple[str, str], DataFrame] = {}


def _distinct_order_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized, MATERIALIZED distinct (order, part) frame — the input
    every co-purchase-graph query starts from (pair mining, degree
    tables). Keyed on (applicationId, sf_dir) like the dup-cluster
    memo: within a session the fact scan + distinct shuffle are paid
    once, no matter how many graph queries run — exactly what a
    production pipeline does by materializing the edge list once and
    fanning analyses out from it."""
    key = (spark.sparkContext.applicationId, sf_dir)
    got = _ORDER_PARTS_MEMO.get(key)
    if got is None:
        got = (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
            .localCheckpoint(eager=True)
        )
        _ORDER_PARTS_MEMO[key] = got
    return got


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE definition of the co-purchase pair build shared by
    orders_market_basket, part_pagerank, and the r7 Jaccard/triangle
    queries: distinct (order, part), orderkey-co-partitioned
    self-join with part_a < part_b, support count ``w`` per unordered
    pair. Memoized AND materialized per (applicationId, sf_dir): four
    registered queries consume this frame (market basket, PageRank,
    Jaccard, triangles), and each consumes it from ≥2 plan branches —
    without the shared checkpoint Spark re-runs the whole mining stage
    per branch per query (replicated unshared subtrees)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    got = _COPURCHASE_MEMO.get(key)
    if got is None:
        li = _distinct_order_parts(spark, sf_dir)
        a = li.alias("a")
        b = li.alias("b")
        got = (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .select(F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b"))
            .groupBy("part_a", "part_b")
            .agg(F.count("*").alias("w"))
            .localCheckpoint(eager=True)
        )
        _COPURCHASE_MEMO[key] = got
    return got


# ----------------------------------------------------------- SQL lego

_TOKENS = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')"

_H32 = "(('0x' || substr(md5({x}), 1, 8))::BIGINT)"


def _shingle_sql(tk: str, n: int) -> str:
    return (
        f"list_distinct(CASE WHEN len({tk}) < {n} THEN [] ELSE "
        f"list_transform(generate_series(1, len({tk}) - {n - 1}), "
        f"i -> array_to_string({tk}[i:i+{n - 1}], ' ')) END)"
    )


_DOC_SHINGLES = f"""
    tok AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
    sh AS (SELECT doc_id, unnest({_shingle_sql('tk', 3)}) AS shingle FROM tok),
    hx AS (SELECT doc_id, {_H32.format(x='shingle')} AS h FROM sh)
"""


_STOPS_SQL = "[" + ", ".join(f"'{w}'" for w in T.LEXICON["en"]) + "]"

#: trained-IVF knobs (emb_ann_ivf): 16 Lloyd cells, 2 training rounds,
#: probe the 2 nearest cells (~12% of the corpus) — recall@5 1.000 on
#: the frontier corpus vs 0.250 for the round-4 label-cell variant
_IVF_CELLS = 16
_IVF_ITERS = 2

# Exact half-up quantization of a float to 9 decimals, as an integer
# numerator. Spark's float→DECIMAL(18,9) cast rounds HALF_UP on the
# exact value; DuckDB's rounds half-to-EVEN, and floats of the form
# odd/2^10 (e.g. 0.1494140625 → x.5 exactly at 1e9 scale, expected
# once per ~2^17 draws) diverge by 1e-9. floor(|v|·1e9 + 0.5) is exact
# at those boundaries (v·1e9 fits a double exactly when v = m/2^10)
# and every non-boundary float sits ≥1e-13 from a boundary — far
# beyond double error — so this reproduces Spark's cast bit-for-bit.
_V9_HALF_UP = (
    "(CASE WHEN v < 0 THEN -1 ELSE 1 END) * "
    "CAST(floor(abs(CAST(v AS DOUBLE)) * 1e9 + 0.5) AS DECIMAL(28,0))"
)

# 1e6 variant (see the int64-exact-numerator note above its second
# definition site near emb_label_covariance; kept up here because the
# ANN oracles below are built at import time).
_V6_HALF_UP = (
    "(CASE WHEN v < 0 THEN -1 ELSE 1 END) * "
    "CAST(floor(abs(CAST(v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"
)

# Deterministic DOUBLE left-folds mirroring operators/similarity.py:
# list_reduce folds left-to-right from the first element, which equals
# Spark's aggregate() fold from a 0.0 seed bit-for-bit.
_N2_FOLD = "list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)"
_DOT_FOLD = (
    "list_reduce(list_transform(list_zip(q.embedding, c.embedding), "
    "z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (a, b) -> a + b)"
)

_IVF_INDEX_MEMO: dict[tuple[str, str], tuple[DataFrame, DataFrame]] = {}


def _train_ivf(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Train the IVF index from the CURRENT corpus (see _train_lsh)."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    cent, corpus = S.ivf_build(
        emb, id_col="vec_id", vec_col="embedding", n_cells=_IVF_CELLS, iters=_IVF_ITERS
    )
    return (cent.localCheckpoint(eager=True), corpus.localCheckpoint(eager=True))


def _ivf_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    key = (spark.sparkContext.applicationId, sf_dir)
    got = _IVF_INDEX_MEMO.get(key)
    if got is not None:
        return got
    # Persisted index first ($SPARK_GRAFT_ANN_INDEX_DIR, see
    # lakehouse/ann_index.py): a new session LOADS the committed
    # centroids + clustered corpus instead of re-training — at scale
    # the build is iters × corpus-scans that should be paid once per
    # refresh, not once per session. Results are bit-identical either
    # way (round-trip pinned by test_ann_index_store). The live corpus
    # fingerprint travels with the load so a regenerated corpus
    # refuses the stale index instead of serving old neighbors.
    from lakehouse_architecture_transaction_spark.lakehouse.ann_index import (
        corpus_fingerprint,
        default_store,
    )

    store = default_store(spark, sf_dir)
    if store is not None and store.has_ivf():
        built = store.load_ivf(
            n_cells=_IVF_CELLS, iters=_IVF_ITERS, fingerprint=corpus_fingerprint(sf_dir)
        )
        _IVF_INDEX_MEMO[key] = built
        return built
    built = _train_ivf(spark, sf_dir)
    _IVF_INDEX_MEMO[key] = built
    return built


_KM_SQDIST = (
    "list_reduce(list_transform(list_zip(e.embedding, c.cvec), "
    "z -> (CAST(z[1] AS DOUBLE) - z[2]) * (CAST(z[1] AS DOUBLE) - z[2])), (a, b) -> a + b)"
)


def _km_assign_sql(cent_cte: str) -> str:
    return f"""(
    SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {_KM_SQDIST} ASC, c.cluster ASC) AS rn
        FROM embeddings e CROSS JOIN {cent_cte} c
    ) WHERE rn = 1)"""


def _km_update_sql(assign_cte: str) -> str:
    return f"""(
    SELECT cluster, list(cv ORDER BY pos) AS cvec FROM (
        SELECT a.cluster, x.pos, CAST(CAST(SUM({_V9_HALF_UP}) AS BIGINT) AS DOUBLE) / 1e9 / COUNT(*) AS cv
        FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                     unnest(embedding) AS v FROM embeddings) x
        JOIN {assign_cte} a USING (vec_id)
        GROUP BY a.cluster, x.pos
    ) GROUP BY cluster)"""


#: Round-4 trained 8 subspaces × 8 dims at k=8 codes, 1 round — ADC
#: recall@5 measured 0.275. Finer subspaces + more codes + one more
#: round (16×4d, k=16, 2 rounds) plus the exact re-rank below lift it
#: to ≥0.8 at unchanged plan shape (tools/ann_frontier.py).
_PQ_M, _PQ_DSUB, _PQ_K, _PQ_ITERS = 16, 4, 16, 2
_PQ_V9 = (
    "(CASE WHEN x.v < 0 THEN -1 ELSE 1 END) * "
    "CAST(floor(abs(CAST(x.v AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)"
)
_PQ_SQDIST = (
    "list_reduce(list_transform(list_zip(e.sv, c.cvec), "
    "z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))), "
    "(a, b) -> a + b)"
)


def _pq_assign_sql(cent_cte: str) -> str:
    return f"""(
    SELECT vec_id, s, cluster FROM (
        SELECT e.vec_id, e.s, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id, e.s
                   ORDER BY {_PQ_SQDIST} ASC, c.cluster ASC) AS rn
        FROM sub e JOIN {cent_cte} c ON e.s = c.s
    ) WHERE rn = 1)"""


def _pq_update_sql(assign_cte: str) -> str:
    return f"""(
    SELECT s, cluster, list(cv ORDER BY pos) AS cvec FROM (
        SELECT x.s, a.cluster, x.pos, CAST(CAST(SUM({_PQ_V9}) AS BIGINT) AS DOUBLE) / 1e9 / COUNT(*) AS cv
        FROM (SELECT vec_id, s, generate_subscripts(sv, 1) AS pos, unnest(sv) AS v FROM sub) x
        JOIN {assign_cte} a ON a.vec_id = x.vec_id AND a.s = x.s
        GROUP BY x.s, a.cluster, x.pos
    ) GROUP BY s, cluster)"""


#: Session-scoped memo of the trained PQ index (codes + codebooks),
#: keyed by (applicationId, sf_dir) — emb_product_quantize and
#: emb_ann_pq_adc train the SAME index; in a real pipeline it is
#: persisted once. Same pattern as _ivf_index and ann._lsh_index.
_PQ_INDEX_MEMO: dict[tuple[str, str], tuple] = {}


def _train_pq(spark: SparkSession, sf_dir: str):
    """Train the PQ index from the CURRENT corpus — no store, no memo
    (the build path build_persisted_ann_index uses, so a refresh
    always retrains; see _train_ivf)."""
    from lakehouse_architecture_transaction_spark.operators.similarity import product_quantize

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    codes, cent = product_quantize(
        emb, id_col="vec_id", vec_col="embedding",
        m=_PQ_M, dsub=_PQ_DSUB, k=_PQ_K, iters=_PQ_ITERS, return_codebook=True,
    )
    return (codes.localCheckpoint(eager=True), cent.localCheckpoint(eager=True))


def _pq_index(spark: SparkSession, sf_dir: str):
    key = (spark.sparkContext.applicationId, sf_dir)
    got = _PQ_INDEX_MEMO.get(key)
    if got is not None:
        return got
    # Persisted index first — same contract as _ivf_index
    # (load the committed codes/codebooks instead of re-training; the
    # manifest check refuses a hyperparameter mismatch, the corpus
    # fingerprint refuses a stale index after data regeneration).
    from lakehouse_architecture_transaction_spark.lakehouse.ann_index import (
        corpus_fingerprint,
        default_store,
    )

    store = default_store(spark, sf_dir)
    if store is not None and store.has_pq():
        built = store.load_pq(
            m=_PQ_M, dsub=_PQ_DSUB, k=_PQ_K, iters=_PQ_ITERS,
            fingerprint=corpus_fingerprint(sf_dir),
        )
        _PQ_INDEX_MEMO[key] = built
        return built
    built = _train_pq(spark, sf_dir)
    _PQ_INDEX_MEMO[key] = built
    return built
