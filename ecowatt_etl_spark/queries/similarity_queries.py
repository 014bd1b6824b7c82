"""Embedding similarity-search queries over `embeddings`.

q60/q61/q62 are hash-verified against DuckDB oracles: dot products are
fixed-order double folds over the arrays (operators/similarity.py), so
both engines produce bit-identical doubles. q63 is the numpy-matmul
throughput path — rows-only in the driver gate, value-verified against
q61 in tests.

Scale notes: every dot/norm is scan-local (array fold inside the
projection — no explode of the vector dimension, no shuffle). q61
broadcasts the tiny query set against the corpus; q62 blocks the N²
pair space down to per-bucket candidates before any exact math.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ecowatt_etl_spark.cache import ArtifactCache
from ecowatt_etl_spark.operators.similarity import (
    cosine,
    dot_fold,
    l2_norm,
    sign_block_key,
    spread_to_parallelism,
)
from ecowatt_etl_spark.operators.text import SQL_TOKENS
from ecowatt_etl_spark.queries.registry import query
from ecowatt_etl_spark.sources.tables import load_table

# ---- shared DuckDB fragments ----------------------------------------------
# The fold twins of operators/similarity.py: list_reduce folds left with
# a prepended 0.0 seed, exactly matching Spark's F.aggregate(init=0.0).
# The CAST to DOUBLE before multiplying mirrors Spark's float→double
# promotion (exact); bare 0.0 literals are DECIMAL in DuckDB, hence the
# explicit CAST on the seed.


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(acc, x) -> acc + x)"
    )


def _sql_norm(a: str) -> str:
    return f"sqrt({_sql_dot(a, a)})"


# ---------------------------------------------------------------------------
# q60 — norms
# ---------------------------------------------------------------------------
@query(
    "q60_embedding_norms",
    oracle=f"SELECT vec_id, {_sql_norm('embedding')} AS l2_norm FROM embeddings",
)
def q60_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm via the deterministic array fold — the
    building block (and correctness anchor) for every cosine query.
    Scan-local: one projection, zero shuffles."""
    em = load_table(spark, sf_dir, "embeddings")
    return em.select("vec_id", l2_norm(F.col("embedding")).alias("l2_norm"))


# ---------------------------------------------------------------------------
# q61 — brute-force cosine top-k for a query set
# ---------------------------------------------------------------------------
_TOPK = 3
_NQ = 8  # query vectors: vec_id < 8


@query(
    "q61_cosine_topk",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_sql_dot('q.embedding', 'c.embedding')}
               / ({_sql_norm('q.embedding')} * {_sql_norm('c.embedding')})
               AS cosine_sim
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {_NQ}
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine_sim, rk FROM ranked WHERE rk <= {_TOPK}
    """,
)
def q61_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for 8 query vectors — the exact
    baseline every ANN variant is validated against. The tiny query set
    is broadcast against the corpus (BroadcastNestedLoopJoin, no
    shuffle of the big side); each pair's cosine is one scan-local
    fold; the window top-k prunes per-partition (WindowGroupLimit)
    before the final per-query shuffle."""
    em = load_table(spark, sf_dir, "embeddings")
    # norms once per VECTOR, not per pair (q62's rework): the cosine
    # value is bit-identical (same fold per vector, same q*c product
    # order) and the per-pair expression drops from 3 folds to 1.
    q = F.broadcast(
        em.filter(F.col("vec_id") < _NQ).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            l2_norm(F.col("embedding")).alias("q_nrm"),
        )
    )
    c = em.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        l2_norm(F.col("embedding")).alias("c_nrm"),
    )
    scored = (
        c.join(q, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.try_divide(
                dot_fold(F.col("q_emb"), F.col("c_emb")),
                F.col("q_nrm") * F.col("c_nrm"),
            ).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= _TOPK)


# ---------------------------------------------------------------------------
# q62 — near-dup pairs via sign-bit LSH blocking
# ---------------------------------------------------------------------------
_SIGN_BITS = 8
# random unit 64-dim vectors concentrate near cosine 0 (±~0.125); 0.3 is
# ~2.4σ out — selective but non-empty on the synthetic corpus, so the
# oracle check exercises real pairs instead of passing on 0 rows
_COS_T = 0.3


def _sql_sign_block(n_bits: int = _SIGN_BITS) -> str:
    terms = [
        f"CASE WHEN embedding[{i + 1}] >= 0 THEN {2**i} ELSE 0 END"
        for i in range(n_bits)
    ]
    return "CAST((" + " + ".join(terms) + ") AS INTEGER)"


@query(
    "q62_embedding_neardup",
    oracle=f"""
    WITH blk AS (SELECT vec_id, embedding, {_sql_sign_block()} AS block_key
                 FROM embeddings),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_sql_dot('a.embedding', 'b.embedding')}
               / ({_sql_norm('a.embedding')} * {_sql_norm('b.embedding')})
               AS cosine_sim
      FROM blk a JOIN blk b ON a.block_key = b.block_key AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine_sim FROM cand WHERE cosine_sim >= {_COS_T}
    """,
)
def q62_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ 0.3): sign-bit LSH
    blocking (2^8 buckets from leading-dimension signs) → exact cosine
    verification on intra-bucket candidates only. The N² pair space is
    reduced to Σ per-bucket n²; the shuffle key is the 4-byte block
    key, and each surviving pair costs one scan-local fold."""
    em = spread_to_parallelism(load_table(spark, sf_dir, "embeddings"))
    # norms precomputed per VECTOR, not per pair: same fold, same bits
    # (cosine() is literally try_divide(dot, l2(a)*l2(b))), 3x less
    # per-pair arithmetic
    blk = em.select(
        "vec_id",
        "embedding",
        sign_block_key(F.col("embedding"), _SIGN_BITS).alias("block_key"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    a, b = blk.alias("a"), blk.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.try_divide(
                dot_fold(F.col("a.embedding"), F.col("b.embedding")),
                F.col("a.nrm") * F.col("b.nrm"),
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= _COS_T)
    )


# ---------------------------------------------------------------------------
# q64 — LSH-bucketed approximate top-k (the scale path for search)
# ---------------------------------------------------------------------------
# q64 uses a FINER sign key than q62's blocking (10 bits → 1024
# buckets) with multi-probe radius 3: own block + every ≤3-bit flip =
# 176/1024 buckets (~17% of the corpus in expectation). The operating
# point was picked by measuring the recall/candidate-fraction frontier
# on the actual corpus: (8 bits, r=2) gave 0.29 recall @ 14% of
# candidates scored; (10 bits, r=3) gives 0.42 @ 17%; wider radii only
# approach brute force (8 bits r=3: 0.63 @ 36%). Multi-TABLE LSH was
# also measured (L independent tables of md5-derived dense ±1
# hyperplanes, candidates unioned): the best points at ≤25% candidates
# were 0.58 @ 16% (12 bits, r=2, L=8) and 0.75–0.79 @ 23–28% (L=12 /
# r=3, L=4) at sf0.1 — better than single-table, but each corpus row
# then pays L·b dense 64-dim projections per scan instead of free sign
# bits, and the frontier still sits far below the trained-IVF q65
# (0.92+ recall @ ≤19%). On an isotropic corpus (exact top-3 cosines
# measured 0.27–0.49) any data-INDEPENDENT hash family is
# recall-capped: per-bit collision 1−θ/π ≈ 0.62 at θ≈68° makes
# low-Hamming collisions of true neighbors rare, and no choice of
# (b, r, L) fixes that — adapting to the data (q65's trained
# centroids) does. q64 therefore stays the data-independent variant
# (no training pass, no model to version, same cost on any data
# distribution) at its measured frontier, with q65 as the production
# operating point. Measured per round in bench extras
# (q64_recall_vs_q61 / q64_cand_frac).
_PROBE_BITS = 10


def _probe_masks(n_bits: int, radius: int) -> list[int]:
    import itertools

    return [
        sum(1 << b for b in combo)
        for r in range(radius + 1)
        for combo in itertools.combinations(range(n_bits), r)
    ]


_PROBE_MASKS = _probe_masks(_PROBE_BITS, 3)


@query(
    "q64_lsh_topk",
    oracle=f"""
    WITH blk AS (SELECT vec_id, embedding, {_sql_sign_block(_PROBE_BITS)} AS bk FROM embeddings),
    probes AS (
      SELECT vec_id AS query_id, embedding AS q_emb,
             UNNEST([{", ".join(f"xor(bk, {m})" for m in _PROBE_MASKS)}]) AS pk
      FROM blk WHERE vec_id < {_NQ}
    ),
    scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             {_sql_dot('p.q_emb', 'c.embedding')}
               / ({_sql_norm('p.q_emb')} * {_sql_norm('c.embedding')}) AS cosine_sim
      FROM probes p JOIN blk c ON c.bk = p.pk AND c.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine_sim, rk FROM ranked WHERE rk <= {_TOPK}
    """,
)
def q64_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRESS/AUDIT VARIANT — not the production top-k. On this
    corpus its measured recall is ~0.42 at a 17% candidate fraction
    (the data-independent-LSH frontier on isotropic vectors, see the
    operating-point analysis above); a user who wants approximate
    search should take q65 (trained IVF, recall 1.00 @ ~19%) or q156
    (IVF-PQ+refine, recall 1.00 over 4-byte codes), and q219 audits this
    index's recall inline. q64 stays registered as the zero-training
    variant (no model to version, same cost on any distribution) and
    as the recall-audit subject.

    Approximate cosine top-3 via multi-probe sign-LSH: each query
    probes its own 10-bit sign-block plus every 1-, 2- and 3-bit flip
    neighbor block (176/1024 buckets ≈ 17% of the corpus), scoring
    only vectors in those buckets instead of all N. This is the
    search-side scale path: the probe table is tiny and broadcast, the
    corpus shuffles once on its 4-byte block key, and recall is
    tunable via probe radius — the same probing scheme at 100 TB, with
    the block key as the partition key so each probe touches one
    partition.
    Recall on THIS corpus is bounded by the data, not the index: the
    driver's synthetic embeddings are isotropic (measured same-label
    vs cross-label mean cosine both ≈ 0), so sign agreement between a
    query and its true neighbors barely exceeds chance — the per-round
    recall number in bench extras (q64_recall_vs_q61) reads low here
    and would not on a real, clustered embedding corpus."""
    em = load_table(spark, sf_dir, "embeddings")
    blk = em.select(
        "vec_id", "embedding", sign_block_key(F.col("embedding"), _PROBE_BITS).alias("bk")
    )
    probes = F.broadcast(
        blk.filter(F.col("vec_id") < _NQ).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.explode(
                F.array(
                    *[F.col("bk").bitwiseXOR(F.lit(m)) for m in _PROBE_MASKS],
                )
            ).alias("pk"),
        )
    )
    scored = (
        blk.join(
            probes,
            (F.col("bk") == F.col("pk")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("q_emb"), F.col("embedding")).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= _TOPK)


_IVF_INDEX_CACHE = ArtifactCache()


def _ivf_cells(
    spark: SparkSession, sf_dir: str, em: DataFrame, cent: DataFrame
) -> DataFrame:
    """Build (or fetch) the IVF inverted file: every corpus vector
    assigned to its nearest trained centroid. localCheckpoint
    materializes the assignment once per (session, sf_dir) — the
    offline index-build step of a real ANN deployment, amortized
    across query batches."""
    def build():
        # FLOP-bound assignment (K folds per vector): spread a
        # byte-compact vector scan across cores first
        spread = spread_to_parallelism(em)
        asg_score = F.try_divide(
            dot_fold(F.col("embedding"), F.col("c_emb")), F.col("c_norm")
        )
        best = (
            spread.crossJoin(cent)
            .select(
                "vec_id",
                asg_score.alias("s"),
                F.col("cid").cast("long").alias("cid"),
            )
            .groupBy("vec_id")
            .agg(F.max(F.struct(F.col("s"), (-F.col("cid")).alias("nc"))).alias("m"))
            .select("vec_id", (-F.col("m.nc")).alias("cid"))
        )
        cells = spread.join(best, "vec_id").select("vec_id", "embedding", "cid")
        return cells.localCheckpoint()

    return _IVF_INDEX_CACHE.get((spark, sf_dir, "trained"), build)


def _ivf_cells_dual(
    spark: SparkSession, sf_dir: str, em: DataFrame, cent: DataFrame
) -> DataFrame:
    """Soft-assignment inverted file for the PAIRS problem: every
    vector indexed into its TWO nearest trained cells, exploded to
    (vec_id, embedding, cid, other_cid) rows — other_cid is the
    vector's remaining assigned cell (NULL when only one cell exists),
    the column the min-shared-cell pair-ownership filter reads.
    Motivation is measured, not assumed: the planted-pair audit
    (planted_recall_stats) showed 29% of true cosine ≥ 0.9 pairs
    straddle a single-assignment Voronoi boundary at the 100× corpus
    (7061 bp → 9550 bp co-location under dual assignment). Tie order
    (score DESC, cid ASC) is ROW_NUMBER's, bit-identical to the
    oracle's ark ranking. Cached once per (session, sf_dir) like the
    single-assignment index."""
    def build():
        scored = spread_to_parallelism(em).crossJoin(cent).select(
            "vec_id",
            F.try_divide(
                dot_fold(F.col("embedding"), F.col("c_emb")), F.col("c_norm")
            ).alias("s"),
            F.col("cid").cast("long").alias("cid"),
        )
        w = W.partitionBy("vec_id").orderBy(F.desc("s"), F.asc("cid"))
        duo = (
            scored.withColumn("ark", F.row_number().over(w))
            .filter(F.col("ark") <= 2)
            .groupBy("vec_id")
            .agg(
                F.max(F.when(F.col("ark") == 1, F.col("cid"))).alias("c1"),
                F.max(F.when(F.col("ark") == 2, F.col("cid"))).alias("c2"),
            )
        )
        exploded = duo.select(
            "vec_id", F.col("c1").alias("cid"), F.col("c2").alias("other_cid")
        ).unionByName(
            duo.filter(F.col("c2").isNotNull()).select(
                "vec_id",
                F.col("c2").alias("cid"),
                F.col("c1").alias("other_cid"),
            )
        )
        cells = em.join(exploded, "vec_id").select(
            "vec_id", "embedding", "cid", "other_cid"
        )
        return cells.localCheckpoint()

    return _IVF_INDEX_CACHE.get((spark, sf_dir, "trained-dual"), build)


# ---------------------------------------------------------------------------
# q65 — IVF-partitioned approximate top-k (coarse-quantizer scale path)
# ---------------------------------------------------------------------------
# The stride quantizer (vec_id % 31 centroids) is RETIRED as of r9:
# its K either grew ∝ N (the 427/587 s q123/q129 rows the r8 100×
# sweep caught) or sat behind an arbitrary id cap, and on this corpus
# it peaked at 0.58 recall @ 20% candidates where the trained
# quantizer reaches 0.92+ at ≤19%. Every shipped cell consumer
# (q65/q123/q129/q154/q155/q156/q196) now routes through the trained
# path below; oracles replay the training CTE-for-CTE.
#
# Trained quantizer: K=64 centroids, 3 Lloyd rounds of the exact
# deterministic kernel q87/q88 pin (L2 argmin assignment, fixed-point
# int64 centroid update — same data ⇒ bit-identical model in any
# engine, so the DuckDB oracle REPLAYS the training as 3 chained CTE
# rounds and lands on the same index). nprobe stays adaptive at
# ceil(1.5·sqrt(n_cells)) = 12 of 64 cells (~19% of a balanced
# index). Measured on this corpus (bench extras q65_recall_vs_q61 /
# q65_cand_frac): recall 0.92 @ 0.185 at sf0.01, 1.00 @ 0.186 at
# sf0.1 — vs the stride quantizer's 0.58 @ 0.20 and multi-table
# dense-hyperplane LSH's 0.58–0.79 @ 0.16–0.25 (measured, see q64).
# K is a build-time parameter: 64 ≈ sqrt(N)-scale for these corpora;
# at 100 TB grow K as sqrt(N) and retrain — the per-round cost is one
# corpus scan + one K×dim aggregate (q87's plan), and nprobe's sqrt
# rule keeps the probed fraction sublinear.
_IVF_K, _IVF_ROUNDS = 64, 3

_TRAINED_CENT_CACHE = ArtifactCache()


def _trained_centroids(spark: SparkSession, sf_dir: str, em: DataFrame) -> DataFrame:
    """Train (or fetch) q65's coarse quantizer: k-means centroids with
    their norms, materialized once per (session, sf_dir) — the offline
    model-build step, amortized across query batches like the
    inverted file itself."""
    def build():
        from ecowatt_etl_spark.operators.similarity import kmeans_train

        cents, _ = kmeans_train(em, k=_IVF_K, rounds=_IVF_ROUNDS)
        return cents.select(
            "cid",
            F.col("centroid").alias("c_emb"),
            l2_norm(F.col("centroid")).alias("c_norm"),
        ).localCheckpoint()

    return _TRAINED_CENT_CACHE.get((spark, sf_dir), build)


def _sql_kmeans_cents(
    k: int = _IVF_K,
    rounds: int = _IVF_ROUNDS,
    dim: int = 64,
    prefix: str = "",
    offset: int = 0,
    src: str = "embeddings",
) -> str:
    """CTE chain {prefix}c0..{prefix}c{rounds} replaying
    operators/similarity.py::kmeans_train in DuckDB: init = first k
    vectors; per round, exact-L2 argmin assignment (fold-order
    doubles, ties to the smaller cid) then fixed-point int64
    per-dimension means (floor(val·2^40) — the order-independent
    accumulator both engines sum identically); empty clusters keep
    their previous centroid. ``offset``/``dim`` train on the
    embedding[offset+1 .. offset+dim] subvector (product-quantization
    subspaces, q154); ``prefix`` namespaces the CTEs so several
    chains coexist in one oracle."""
    p = prefix
    sub = f"(e.embedding[{offset + 1}:{offset + dim}])"
    ctes = [
        f"{p}c0 AS (SELECT vec_id AS cid, "
        f"embedding[{offset + 1}:{offset + dim}] AS c_emb "
        f"FROM {src} WHERE vec_id < {k})"
    ]
    for r in range(1, rounds + 1):
        prev = f"{p}c{r - 1}"
        ctes.append(f"""{p}a{r} AS (
      SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
               {_sql_dot(sub, sub)}
               - 2 * {_sql_dot(sub, "c.c_emb")}
               + {_sql_dot("c.c_emb", "c.c_emb")}, c.cid) AS rk
      FROM {src} e CROSS JOIN {prev} c)""")
        ctes.append(f"""{p}s{r} AS (
      SELECT a.cid, t.i AS di,
             CAST(CAST(SUM(CAST(floor(CAST(e.embedding[{offset} + t.i] AS DOUBLE)
                                      * 1099511627776) AS BIGINT))
                       AS BIGINT) AS DOUBLE) AS qd,
             COUNT(*) AS n
      FROM {p}a{r} a, {src} e, generate_series(1, {dim}) AS t(i)
      WHERE a.rk = 1 AND e.vec_id = a.vec_id
      GROUP BY a.cid, t.i)""")
        ctes.append(
            f"{p}n{r} AS (SELECT cid, list(qd / n / 1099511627776 ORDER BY di) "
            f"AS c_emb FROM {p}s{r} GROUP BY cid)"
        )
        ctes.append(f"""{p}c{r} AS (
      SELECT cid, c_emb FROM {p}n{r}
      UNION ALL
      SELECT c.cid, c.c_emb FROM {prev} c
      WHERE c.cid NOT IN (SELECT cid FROM {p}n{r}))""")
    return ",\n    ".join(ctes)


@query(
    "q65_ivf_topk",
    oracle=f"""
    WITH {_sql_kmeans_cents()},
    cent AS (
      SELECT cid, c_emb, {_sql_norm('c_emb')} AS c_norm
      FROM c{_IVF_ROUNDS}
    ),
    asg AS (
      SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_dot('e.embedding', 'c.c_emb')} / c.c_norm DESC,
                        c.cid) AS ark
      FROM embeddings e CROSS JOIN cent c
    ),
    cells AS (
      SELECT e.vec_id, e.embedding, a.cid
      FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id AND a.ark = 1
    ),
    pasg AS (
      SELECT q.vec_id AS query_id, q.embedding AS q_emb, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_sql_dot('q.embedding', 'c.c_emb')} / c.c_norm DESC,
                        c.cid) AS prk
      FROM embeddings q CROSS JOIN cent c
      WHERE q.vec_id < {_NQ}
    ),
    probes AS (SELECT query_id, q_emb, cid FROM pasg
               WHERE prk <= (SELECT CEIL(1.5 * SQRT(COUNT(*))) FROM cent)),
    scored AS (
      SELECT p.query_id, x.vec_id AS neighbor_id,
             {_sql_dot('p.q_emb', 'x.embedding')}
               / ({_sql_norm('p.q_emb')} * {_sql_norm('x.embedding')}) AS cosine_sim
      FROM probes p JOIN cells x ON x.cid = p.cid AND x.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine_sim, rk FROM ranked WHERE rk <= {_TOPK}
    """,
)
def q65_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-3 via an IVF (inverted-file) index with a
    TRAINED coarse quantizer: K=64 k-means centroids (3 deterministic
    Lloyd rounds — the q87/q88 kernel) partition the corpus into
    cells, queries probe only their ceil(1.5·sqrt(n_cells)) nearest
    cells, and exact cosine runs on probed cells only — ~nprobe/K of
    the corpus instead of all N. Training the quantizer is what buys
    the recall: measured 0.92 recall@3 at 18.5% of candidates scored
    (sf0.01; 1.00 @ 18.6% at sf0.1) vs 0.58 @ 20% for the untrained
    stride quantizer this query shipped with before — k-means cells
    adapt to where the data actually sits, so a query's near neighbors
    concentrate in its top-ranked cells even on an isotropic corpus.
    The DuckDB oracle replays the full training loop as chained CTEs
    (possible because every Lloyd round is bit-deterministic — exact-L2
    argmin + fixed-point int64 means), so the cross-engine check covers
    model build AND serve.

    Scale shape (100 TB): centroids are tiny and broadcast everywhere
    (with their norms precomputed ONCE — assignment ranks by
    dot/|c|, since the vector's own norm cancels out of its argmax).
    Per-vector assignment is a broadcast cross join emitting only
    (vec_id, cid, score) — the embedding itself never rides the
    K-way fan-out — reduced by a deterministic lexicographic struct
    MAX (max score, min cid on ties), then one equi-join back to the
    corpus; the corpus is then physically partitioned by ``cid``, so
    each query's nprobe probes touch nprobe partitions and the rest
    of the data never moves or is read. Complements q64 (sign-LSH):
    IVF adapts to the data distribution via its centroids, LSH is
    data-independent.

    The built index (`cells`) is a SESSION-SCOPED ARTIFACT, cached and
    materialized once per (session, sf_dir) like the dedup family's
    shared shingle/band index: real IVF deployments build the index
    offline and serve many query batches from it, so per-call index
    rebuild would misstate both the semantics and the cost model. The
    assignment cross-join (corpus × centroids interpreted dot folds)
    and the 3 training rounds are exactly the build cost the cache
    amortizes."""
    em = load_table(spark, sf_dir, "embeddings")
    cent_df = _trained_centroids(spark, sf_dir, em)
    cells = _ivf_cells(spark, sf_dir, em, F.broadcast(cent_df))
    return _ivf_serve(em, cent_df, cells)


def _ivf_serve(em: DataFrame, cent_df: DataFrame, cells: DataFrame) -> DataFrame:
    """q65's serve path over an already-built IVF index (centroids +
    cell assignments) — shared by the session-cached q65 and the
    persisted-artifact q196, so both serve the identical plan."""
    cent = F.broadcast(cent_df)
    # adaptive probe depth: one-row aggregate, broadcast-cross-joined
    # into the rank filter (never a driver round-trip)
    n_cells = cent_df.agg(F.count("*").alias("n_cells"))
    p_w = W.partitionBy("query_id").orderBy(F.desc("p_sim"), F.asc("cid"))
    probes = F.broadcast(
        em.filter(F.col("vec_id") < _NQ)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
        .crossJoin(cent)
        .select(
            "query_id",
            "q_emb",
            F.col("cid").cast("long").alias("cid"),
            F.try_divide(
                dot_fold(F.col("q_emb"), F.col("c_emb")), F.col("c_norm")
            ).alias("p_sim"),
        )
        .withColumn("prk", F.row_number().over(p_w))
        .crossJoin(F.broadcast(n_cells))
        .filter(F.col("prk") <= F.ceil(F.lit(1.5) * F.sqrt(F.col("n_cells"))))
        .select(
            "query_id",
            "q_emb",
            "cid",
            l2_norm(F.col("q_emb")).alias("q_nrm"),
        )
    )
    # per-vector norms before the candidate join (q61/q62's rework):
    # bit-identical cosine, 1 fold per candidate instead of 3
    corp = cells.withColumn("nrm", l2_norm(F.col("embedding")))
    scored = corp.join(
        probes,
        (corp["cid"] == probes["cid"]) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.try_divide(
            dot_fold(F.col("q_emb"), F.col("embedding")),
            F.col("q_nrm") * F.col("nrm"),
        ).alias("cosine_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= _TOPK)


def lsh_candidate_frac(spark: SparkSession, sf_dir: str) -> float:
    """Measured cost of q64: mean fraction of the corpus scored per
    query (candidate rows / (NQ·(N−1))). Published in bench extras
    next to recall — an ANN recall number is only meaningful at its
    candidate fraction."""
    em = load_table(spark, sf_dir, "embeddings")
    n = em.count()
    blk = em.select(
        "vec_id", sign_block_key(F.col("embedding"), _PROBE_BITS).alias("bk")
    )
    probes = F.broadcast(
        blk.filter(F.col("vec_id") < _NQ).select(
            F.col("vec_id").alias("query_id"),
            F.explode(
                F.array(*[F.col("bk").bitwiseXOR(F.lit(m)) for m in _PROBE_MASKS])
            ).alias("pk"),
        )
    )
    cand = blk.join(
        probes, (F.col("bk") == F.col("pk")) & (F.col("vec_id") != F.col("query_id"))
    ).count()
    return cand / (_NQ * (n - 1))


def ivf_candidate_frac(spark: SparkSession, sf_dir: str) -> float:
    """Measured cost of q65: mean fraction of the corpus scored per
    query — probed-cell populations / (NQ·(N−1)) — against the same
    trained quantizer q65 serves from."""
    em = load_table(spark, sf_dir, "embeddings")
    n = em.count()
    cent_df = _trained_centroids(spark, sf_dir, em)
    cent = F.broadcast(cent_df)
    n_cells = cent_df.agg(F.count("*").alias("n_cells"))
    cells = _ivf_cells(spark, sf_dir, em, cent)
    p_w = W.partitionBy("query_id").orderBy(F.desc("p_sim"), F.asc("cid"))
    probes = F.broadcast(
        em.filter(F.col("vec_id") < _NQ)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
        .crossJoin(cent)
        .select(
            "query_id",
            F.col("cid").cast("long").alias("cid"),
            F.try_divide(
                dot_fold(F.col("q_emb"), F.col("c_emb")), F.col("c_norm")
            ).alias("p_sim"),
        )
        .withColumn("prk", F.row_number().over(p_w))
        .crossJoin(F.broadcast(n_cells))
        .filter(F.col("prk") <= F.ceil(F.lit(1.5) * F.sqrt(F.col("n_cells"))))
        .select("query_id", "cid")
    )
    cand = cells.join(
        probes,
        (cells["cid"] == probes["cid"]) & (F.col("vec_id") != F.col("query_id")),
    ).count()
    return cand / (_NQ * (n - 1))


# ---------------------------------------------------------------------------
# q63 — numpy block-matmul top-k (the throughput path)
# ---------------------------------------------------------------------------
@query(
    "q63_cosine_topk_matmul",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_sql_dot('q.embedding', 'c.embedding')}
               / ({_sql_norm('q.embedding')} * {_sql_norm('c.embedding')})
               AS cosine_sim
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {_NQ}
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine_sim, rk FROM ranked WHERE rk <= {_TOPK}
    """,
)
def q63_cosine_topk_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN throughput path: the bounded query set (``_NQ`` vectors) is
    broadcast as a numpy matrix; the CORPUS — the unbounded side —
    streams through an Arrow-batched Pandas iterator UDF that block-
    matmuls each corpus batch against the query matrix (SIMD dot
    products) and keeps only a per-block partial top-k per query. A
    final per-query window reduces the partials to the global top-k
    (global top-k ⊆ union of block top-ks, so the partial prune is
    lossless). Nothing corpus-sized ever touches the driver or the
    broadcast bus: executor memory is O(batch × nq), shuffle volume is
    O(blocks × nq × k) score triples — this exact shape runs at 100 TB,
    optionally with the corpus IVF-partitioned (q65) so each query
    streams only its probed cells.

    Oracle-backed since round 5 (was rows-only): numpy SELECTS the
    candidates (BLAS pairwise summation, not fold-order-stable), then
    the bounded winner set — nq·(k+2) pairs — is RE-SCORED with the
    engine's deterministic fixed-order fold (the q61 `cosine`), so the
    emitted floats are bit-identical to q61's and the oracle is q61's
    verbatim. The +2 selection margin absorbs any eps-level rank
    inversion at the k boundary between BLAS and fold sums; the
    re-score pass reads only the candidate ids via a pushed-down
    vec_id IN (...) scan, so the second corpus touch is a bounded
    point-lookup, not a rescan."""
    import numpy as np
    import pandas as pd

    # spread: the matmul UDF parallelizes per ARROW BATCH, but batches
    # come from scan partitions — one split = one core (see
    # spread_to_parallelism)
    em = spread_to_parallelism(load_table(spark, sf_dir, "embeddings"))
    # Query side: bounded by _NQ (a handful of probe vectors), so a
    # driver round-trip is O(_NQ·dim), independent of corpus size.
    qrows = em.filter(F.col("vec_id") < _NQ).select("vec_id", "embedding").collect()
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    q_mat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    b_qids = spark.sparkContext.broadcast(q_ids)
    b_qmat = spark.sparkContext.broadcast(q_mat)

    n_cand = _TOPK + 2  # selection margin over the emitted top-k

    def block_topk(batches):
        qids_, qmat_ = b_qids.value, b_qmat.value
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            sims = qmat_ @ mat.T  # (nq, batch)
            for qi, qid in enumerate(qids_):
                s = sims[qi].copy()
                s[ids == qid] = -np.inf  # exclude self
                order = np.lexsort((ids, -s))[:n_cand]  # block-local top-n
                keep = order[np.isfinite(s[order])]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": ids[keep],
                        "cosine_sim": s[keep],
                    }
                )

    partials = em.select("vec_id", "embedding").mapInPandas(
        block_topk, schema="query_id long, neighbor_id long, cosine_sim double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    cand = (
        partials.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= n_cand)
        .select("query_id", "neighbor_id")
    )
    # Re-score the bounded winner set with the deterministic fold so the
    # emitted floats match q61 bit-for-bit. The candidate id collect is
    # O(nq·(k+2)) — independent of corpus size — and turns the second
    # corpus touch into a pushed-down IN-list point lookup.
    pair_rows = [(r["query_id"], r["neighbor_id"]) for r in cand.collect()]
    need_ids = sorted({i for p in pair_rows for i in p})
    arrs = em.filter(F.col("vec_id").isin(need_ids)).select("vec_id", "embedding")
    pairs = spark.createDataFrame(pair_rows, "query_id long, neighbor_id long")
    exact = (
        pairs.join(
            F.broadcast(
                arrs.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("q_emb"),
                )
            ),
            "query_id",
        )
        .join(
            F.broadcast(
                arrs.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("c_emb"),
                )
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_emb"), F.col("c_emb")).alias("cosine_sim"),
        )
    )
    return exact.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= _TOPK)


# ---------------------------------------------------------------------------
# q66 — int8 embedding quantization (absmax) + reconstruction error
# ---------------------------------------------------------------------------
@query(
    "q66_embedding_quantize",
    oracle=f"""
    WITH s AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
      FROM embeddings
    )
    SELECT vec_id, scale,
           len(embedding) AS n_dims,
           CAST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(embedding,
                    x -> round(CAST(x AS DOUBLE) / scale * 127))),
                  (acc, x) -> acc + x) AS BIGINT) AS q_sum,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)
                        - round(CAST(x AS DOUBLE) / scale * 127) * scale / 127))),
             (acc, x) -> acc + x) AS abs_err
    FROM s
    """,
)
def q66_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absmax int8 quantization per vector — the storage form for
    embedding corpora at scale (4× smaller than float32, 8× than
    float64; ANN recall loss is typically <1%). Per vector: scale =
    max|x|, q_i = round(x_i/scale·127) ∈ [−127,127]; the query reports
    the quantized checksum and total reconstruction error, both exactly
    reproducible cross-engine (rounding can only tie on non-dyadic
    rationals that doubles can't represent, and both engines round
    half away from zero; the error sum is a fixed-order fold).
    Scan-local: one projection, zero shuffles — at 100 TB this is the
    write-path transform before the IVF/LSH index build."""
    em = load_table(spark, sf_dir, "embeddings")
    x = lambda c: c.cast("double")  # noqa: E731
    s = em.select(
        "vec_id",
        "embedding",
        F.array_max(F.transform("embedding", lambda c: F.abs(x(c)))).alias("scale"),
    )
    # try_divide: an all-zero vector has scale 0 — ANSI '/' would throw
    # DIVIDE_BY_ZERO; NULL matches DuckDB's zero-division result.
    quant = lambda c: F.round(F.try_divide(x(c), F.col("scale")) * 127, 0)  # noqa: E731
    return s.select(
        "vec_id",
        "scale",
        F.size("embedding").alias("n_dims"),
        F.aggregate(
            F.transform("embedding", quant), F.lit(0.0), lambda a, b: a + b
        )
        .cast("long")
        .alias("q_sum"),
        F.aggregate(
            F.transform(
                "embedding",
                lambda c: F.abs(x(c) - quant(c) * F.col("scale") / 127),
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("abs_err"),
    )


# ---------------------------------------------------------------------------
# q67 — k-NN label classification
# ---------------------------------------------------------------------------
_KNN_K = 5


@query(
    "q67_knn_classify",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
             {_sql_dot('q.embedding', 'c.embedding')}
               / ({_sql_norm('q.embedding')} * {_sql_norm('c.embedding')})
               AS cosine_sim
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {_NQ}
    ),
    ranked AS (
      SELECT query_id, label, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rk
      FROM scored
    ),
    votes AS (
      SELECT query_id, label, CAST(COUNT(*) AS BIGINT) AS n_votes
      FROM ranked WHERE rk <= {_KNN_K}
      GROUP BY query_id, label
    ),
    vote_rank AS (
      SELECT query_id, label, n_votes,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY n_votes DESC, label) AS vr
      FROM votes
    )
    SELECT query_id, label AS predicted_label, n_votes
    FROM vote_rank WHERE vr = 1
    """,
)
def q67_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label classification (k=5, cosine metric, majority vote) —
    the label-propagation / auto-labeling primitive of a training-data
    pipeline: assign each unlabeled query the plurality label of its
    nearest labeled neighbors.

    Plan shape is q61's exact-search skeleton (broadcast query set over
    the corpus scan, scan-local fold per pair, WindowGroupLimit top-k
    pruning before the per-query shuffle) plus a per-query vote — both
    post-top-k stages run on |queries| × k rows, so at 100 TB the cost
    is the one corpus scan; swap in q64/q65's bucketed candidate
    generation for the scan when the query set itself is large. Vote
    ties break on the smaller label id (deterministic cross-engine).
    """
    em = spread_to_parallelism(load_table(spark, sf_dir, "embeddings"))
    # per-vector norms before the pair join — q61's rework verbatim
    # (bit-identical cosine; lambda fold for the pair dot because the
    # non-equi BNLJ stage runs interpreted — see q61)
    q = F.broadcast(
        em.filter(F.col("vec_id") < _NQ).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            l2_norm(F.col("embedding")).alias("q_nrm"),
        )
    )
    c = em.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label"),
        F.col("embedding").alias("c_emb"),
        l2_norm(F.col("embedding")).alias("c_nrm"),
    )
    scored = c.join(q, F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        "label",
        F.try_divide(
            dot_fold(F.col("q_emb"), F.col("c_emb")),
            F.col("q_nrm") * F.col("c_nrm"),
        ).alias("cosine_sim"),
    )
    knn_w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    votes = (
        scored.withColumn("rk", F.row_number().over(knn_w))
        .filter(F.col("rk") <= _KNN_K)
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("n_votes"))
    )
    vote_w = W.partitionBy("query_id").orderBy(F.desc("n_votes"), F.asc("label"))
    return (
        votes.withColumn("vr", F.row_number().over(vote_w))
        .filter(F.col("vr") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), "n_votes")
    )


# ---------------------------------------------------------------------------
# q87 — one k-means (Lloyd) step: the IVF centroid training kernel
# ---------------------------------------------------------------------------
_KM_K = 8


@query(
    "q87_kmeans_step",
    oracle=f"""
    WITH c AS (
      SELECT vec_id AS cid, embedding AS c_emb FROM embeddings
      WHERE vec_id < {_KM_K}
    ),
    scored AS (
      SELECT e.vec_id, c.cid,
             {_sql_dot('e.embedding', 'e.embedding')}
               - 2 * {_sql_dot('e.embedding', 'c.c_emb')}
               + {_sql_dot('c.c_emb', 'c.c_emb')} AS d2
      FROM embeddings e, c
    ),
    best AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
        FROM scored) WHERE rk = 1
    ),
    assigned AS (
      SELECT b.cid, e.embedding FROM best b JOIN embeddings e USING (vec_id)
    ),
    dims AS (
      SELECT cid, i AS dim_idx,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1099511627776) AS BIGINT)
               AS q
      FROM assigned, UNNEST(generate_series(1, len(embedding))) AS t(i)
    )
    SELECT cid, CAST(dim_idx AS INTEGER) AS dim_idx,
           CAST(COUNT(*) AS BIGINT) AS n_assigned,
           CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE) / COUNT(*) / 1099511627776
             AS new_val
    FROM dims GROUP BY cid, dim_idx
    """,
)
def q87_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means over the embedding corpus — the
    offline training kernel that produces q65's IVF coarse quantizer
    (SCALE.md: "centroids come from offline k-means"; this is that
    step, distributed). Assignment minimizes exact squared L2
    (|x|² − 2x·c + |c|², each term a fixed-order fold, ties to the
    smaller centroid id); the update accumulates each
    centroid's per-dimension mean in FIXED-POINT int64 (floor(val·2^40)
    — exact, order-independent, bit-identical across engines; decimal
    casts of float32 data would hit rounding-mode ties), so an
    ITERATIVE ML training step is value-checked cross-engine exactly
    with a quantization error bounded by 2^-40 per input.

    Scale shape: centroids broadcast (K × dim doubles); assignment is
    one corpus scan emitting (vec, cid) — the WindowGroupLimit argmin
    prunes per partition; the update explodes assigned vectors to
    (cid, dim, val) and reduces in ONE map-side-combined aggregate to
    K × dim cells. Per iteration: one scan, one shuffle of partial
    sums. Loop it driver-side with localCheckpoint like q57 for full
    training; each round is this exact plan.
    """
    em = load_table(spark, sf_dir, "embeddings")
    cents = F.broadcast(
        em.filter(F.col("vec_id") < _KM_K).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
        )
    )
    x, c = F.col("embedding"), F.col("c_emb")
    d2 = (
        dot_fold(x, x)
        - 2 * dot_fold(x, c)
        + dot_fold(c, c)
    ).alias("d2")
    scored = em.join(cents).select("vec_id", "cid", "embedding", d2)
    w = W.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cid"))
    assigned = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("cid", "embedding")
    )
    dims = assigned.select(
        "cid", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "cid",
        (F.col("pos") + 1).cast("int").alias("dim_idx"),
        # fixed-point quantization (2^-40 grid): float32 data makes
        # decimal casts hit HALF_UP-vs-half-even ties, but floor of a
        # correctly-rounded double product is bit-identical in both
        # engines, and int64 sums are exact AND order-independent —
        # the deterministic distributed accumulator.
        F.floor(F.col("val").cast("double") * F.lit(2.0**40)).alias("q"),
    )
    return dims.groupBy("cid", "dim_idx").agg(
        F.count("*").alias("n_assigned"),
        (F.sum("q").cast("double") / F.count("*") / F.lit(2.0**40)).alias("new_val"),
    )


# ---------------------------------------------------------------------------
# q88 — full k-means training (upgraded from rows-only: the SQL replay
# of kmeans_train that backs q65/q154/q196's green oracles is
# parameterizable, so the trained codebook itself is value-gated too)
# ---------------------------------------------------------------------------
@query(
    "q88_kmeans_train",
    oracle=f"""
    WITH {_sql_kmeans_cents(k=8, rounds=3)}
    SELECT cid, t.i AS dim_idx, c_emb[t.i] AS value
    FROM c3, generate_series(1, 64) AS t(i)
    """,
)
def q88_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round deterministic k-means over the embedding corpus (the
    composed form of q87): returns the trained coarse-quantizer
    codebook as (cid, dim_idx, value) rows. Bit-identical across runs
    AND across engines by construction — fixed-point int64 centroid
    accumulators, ties to the smaller cid, empty clusters carry their
    previous centroid (see kmeans_train); the oracle replays the full
    training loop with _sql_kmeans_cents, the same CTE chain q65's
    serving oracle already proves equivalent at k=64."""
    from ecowatt_etl_spark.operators.similarity import kmeans_train

    em = load_table(spark, sf_dir, "embeddings")
    cents, _ = kmeans_train(em, k=8, rounds=3)
    return cents.select(
        "cid", F.posexplode("centroid").alias("pos", "value")
    ).select(
        F.col("cid").cast("long").alias("cid"),
        (F.col("pos") + 1).cast("long").alias("dim_idx"),
        "value",
    )


# ---------------------------------------------------------------------------
# q117 — Johnson–Lindenstrauss random sign projection 64 → 8
# ---------------------------------------------------------------------------
_RP_IN_DIM = 64
_RP_OUT_DIM = 8
# first hex char of md5("{i}_{j}") decides the sign — both engines emit
# identical md5 hex strings for identical UTF-8 inputs
_RP_EVEN = ("0", "2", "4", "6", "8", "a", "c", "e")


def _rp_sign_sql(j: int) -> str:
    evens = ", ".join(f"'{c}'" for c in _RP_EVEN)
    return (
        f"(CASE WHEN substring(md5(CAST(i AS VARCHAR) || '_{j}'), 1, 1) "
        f"IN ({evens}) THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)"
    )


def _rp_proj_sql(j: int) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {_RP_IN_DIM}), "
        f"i -> CAST(embedding[i] AS DOUBLE) * {_rp_sign_sql(j)})), "
        f"(acc, x) -> acc + x) AS proj_{j}"
    )


@query(
    "q117_random_projection",
    oracle=(
        "SELECT vec_id, "
        + ", ".join(_rp_proj_sql(j) for j in range(_RP_OUT_DIM))
        + " FROM embeddings"
    ),
)
def q117_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction: project each
    64-d embedding to 8-d with a deterministic ±1 sign matrix derived
    from md5 parity (Achlioptas-style database-friendly projection —
    no stored matrix, any engine regenerates the identical R). JL
    preserves pairwise distances within 1±ε, so the projected space
    feeds cheaper ANN/clustering passes (q62/q65 shapes at 1/8 the
    fold cost). Scan-local: 8 fixed-order folds per row inside the
    projection, zero shuffles, no driver state; at 100 TB the same
    plan streams — or swap the interpreted HOF folds for the q63
    Arrow-batched matmul path when throughput matters more than
    bit-exact oracle parity (numpy reorders the sums).

    The sign matrix depends only on (i, j) — never on the row — so
    its 64×8 md5 parities are computed ONCE, driver-side (CPython
    hashlib over the identical "i_j" strings, so the values equal
    what F.md5/DuckDB md5 derive), and enter the plan as literal ±1
    arrays. The original expression re-derived md5 per element per
    ROW: 102M hash calls for a 200k-vector corpus — measured 71.5 s
    at 100x the gate scale, now ~2 s. The zip_with/aggregate fold is
    the same left-associative IEEE tree over the same products, so
    every output double is bit-identical. With the hashes gone the
    per-row cost is 512 mul-adds — no spread needed; the plan stays
    a pure scan-local projection (zero exchanges, plan-test-pinned)."""
    import hashlib

    em = load_table(spark, sf_dir, "embeddings")

    def sign(i: int, j: int) -> float:
        h = hashlib.md5(f"{i}_{j}".encode()).hexdigest()
        return 1.0 if h[0] in _RP_EVEN else -1.0

    def proj(j: int) -> F.Column:
        signs = F.array(
            *[F.lit(sign(i, j)) for i in range(1, _RP_IN_DIM + 1)]
        )
        prods = F.zip_with(
            F.col("embedding"), signs, lambda x, s: x.cast("double") * s
        )
        return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x).alias(
            f"proj_{j}"
        )

    return em.select("vec_id", *[proj(j) for j in range(_RP_OUT_DIM)])


# ---------------------------------------------------------------------------
# q118 — per-dimension embedding statistics
# ---------------------------------------------------------------------------
@query(
    "q118_embedding_dim_stats",
    oracle=f"""
    WITH e AS (
      SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings, generate_series(1, {_RP_IN_DIM}) AS t(i)
    )
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(CAST(SUM(CAST(val AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
             / COUNT(*) AS mean_val,
           MIN(val) AS min_val,
           MAX(val) AS max_val
    FROM e GROUP BY dim
    """,
)
def q118_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics (mean / min / max per embedding
    coordinate) — the feature-normalization and drift-monitoring pass
    run before quantization (q66) or IVF training (q87): dead or
    exploding dimensions surface here. posexplode flattens each vector
    to (dim, value) rows; ONE hash-agg keyed by the 64-value dim
    domain follows — partial aggregation collapses each scan task to
    ≤64 rows, so the shuffle is O(tasks × dims) regardless of corpus
    size. The mean routes through exact decimal (order-independent);
    min/max are exact in any order."""
    em = load_table(spark, sf_dir, "embeddings")
    flat = em.select(F.posexplode("embedding").alias("dim", "fval")).select(
        "dim", F.col("fval").cast("double").alias("val")
    )
    return flat.groupBy("dim").agg(
        F.count("*").alias("n_vecs"),
        (F.sum(F.col("val").cast("decimal(18,6)")).cast("double") / F.count("*"))
            .alias("mean_val"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


# ---------------------------------------------------------------------------
# q123 — diversity medoids: one representative per quantizer cell
# ---------------------------------------------------------------------------
@query(
    "q123_diversity_medoids",
    oracle=f"""
    WITH {_sql_kmeans_cents()},
    cent AS (
      SELECT cid, c_emb, {_sql_norm('c_emb')} AS c_norm
      FROM c{_IVF_ROUNDS}
    ),
    asg AS (
      SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_dot('e.embedding', 'c.c_emb')} / c.c_norm DESC,
                        c.cid) AS ark
      FROM embeddings e CROSS JOIN cent c
    ),
    cells AS (
      SELECT e.vec_id, e.embedding, a.cid
      FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id AND a.ark = 1
    ),
    scored AS (
      SELECT x.cid, x.vec_id,
             {_sql_dot('x.embedding', 'c.c_emb')}
               / ({_sql_norm('x.embedding')} * c.c_norm) AS center_sim
      FROM cells x JOIN cent c ON c.cid = x.cid
    ),
    ranked AS (
      SELECT cid, vec_id, center_sim,
             ROW_NUMBER() OVER (PARTITION BY cid
                                ORDER BY center_sim DESC, vec_id) AS rk,
             COUNT(*) OVER (PARTITION BY cid) AS cell_size
      FROM scored
    )
    SELECT cid, vec_id AS medoid_id, center_sim,
           CAST(cell_size AS BIGINT) AS cell_size
    FROM ranked WHERE rk = 1
    """,
)
def q123_diversity_medoids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity / coreset sampling: one representative (medoid — the
    member most aligned with its centroid) per quantizer cell, plus
    the cell population. This is the data-pruning pass that keeps ONE
    document per semantic neighborhood when a training mix wants
    breadth over redundancy, and the cheap summary (|cells| rows) a
    mixture planner inspects before committing to a full corpus scan.

    Scale: SHARES q65's session-scoped TRAINED index (r9 — the stride
    quantizer is retired: its `vec_id % 31` centroids either grow
    K ∝ N, the 427 s shape the r8 100× sweep caught, or sit behind an
    arbitrary id cap; the trained quantizer is the path a real
    deployment retrains at K ≈ √N, and the oracle replays its
    training CTE-for-CTE exactly as q65/q155 do). The assignment is
    built/materialized once per session, then this query is ONE
    cid-keyed window over rows already partitioned by cell. The
    medoid rank and the population count share the same window
    partitioning, so Catalyst computes both in a single exchange.
    Fold-order cosine + vec_id tiebreak keep the argmax
    engine-stable."""
    em = load_table(spark, sf_dir, "embeddings")
    cent = F.broadcast(_trained_centroids(spark, sf_dir, em))
    cells = _ivf_cells(spark, sf_dir, em, cent)
    scored = cells.join(
        cent.select(F.col("cid").cast("long").alias("c_cid"), "c_emb", "c_norm"),
        cells["cid"] == F.col("c_cid"),
    ).select(
        "cid",
        "vec_id",
        F.try_divide(
            dot_fold(F.col("embedding"), F.col("c_emb")),
            l2_norm(F.col("embedding")) * F.col("c_norm"),
        ).alias("center_sim"),
    )
    w = W.partitionBy("cid").orderBy(F.desc("center_sim"), F.asc("vec_id"))
    wc = W.partitionBy("cid")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .withColumn("cell_size", F.count("*").over(wc))
        .filter(F.col("rk") == 1)
        .select(
            "cid",
            F.col("vec_id").alias("medoid_id"),
            "center_sim",
            "cell_size",
        )
    )


# ---------------------------------------------------------------------------
# q154 — product quantization: the IVF-PQ storage path
# ---------------------------------------------------------------------------
# Subspace count picked from the measured refine-recall frontier on
# this corpus (isotropic — the PQ worst case): M=4 (2 bytes/vector)
# plateaued at 0.79 recall@3 under any shortlist depth at sf0.1; M=8
# (4 bytes/vector, 0.5 bits/dim) reaches 0.83 at shortlist 32, 0.96
# at 192, and 1.00 at 256 (measured at sf0.1, round 5). Still 64x
# smaller than the float32 vectors.
_PQ_M = 8  # subspaces (64 dims → 8 × 8)
_PQ_SUBDIM = 64 // _PQ_M
_PQ_K = 16  # centroids per subspace → 4-bit codes, 4 bytes/vector total
_PQ_ROUNDS = 2
# ADC shortlist depth re-ranked exactly (q156). 256 is the measured
# recall-1.00 operating point at the GATE corpus (the ADC still prunes
# ~77% of the ~1.1k routed candidates per query). But a FIXED depth is
# a shrinking fraction of the routed candidates as the corpus grows —
# PQ distortion outranks the true neighbor at a roughly constant RATE
# per candidate, so recall drifts down silently with scale (measured
# by the per-decade ANN decomposition in SCALE.md before the fix: 1.00
# at sf0.1, 0.958 at 10x, 0.708 at 100x). The depth therefore scales as
# max(256, N / _PQ_REFINE_DIV): N/20 of the corpus is ~27% of the
# ~18.6% routed candidates — the same depth/candidate ratio as the
# measured gate-scale operating point, so the expected recall is
# scale-invariant while the exact re-rank stays O(depth) scan-local
# folds per query (trivial next to the routing scan). Mirrored in the
# oracle via the same GREATEST/COUNT expression.
_PQ_REFINE = 256
_PQ_REFINE_DIV = 20


_PQ_CODEBOOK_CACHE = ArtifactCache()


def _pq_codebooks(spark: SparkSession, sf_dir: str, em: DataFrame) -> list[DataFrame]:
    """Train (or fetch) the per-subspace PQ codebooks — one
    (cid, c_emb) frame per subspace, materialized once per (session,
    sf_dir): the offline codebook-build step q154 (encode) and q156
    (ADC search) both serve from."""
    def build():
        from ecowatt_etl_spark.operators.similarity import kmeans_train

        books = []
        for m in range(_PQ_M):
            sub_em = em.select(
                "vec_id",
                F.slice("embedding", m * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias(
                    "embedding"
                ),
            )
            cents, _ = kmeans_train(
                sub_em, k=_PQ_K, rounds=_PQ_ROUNDS, dim=_PQ_SUBDIM
            )
            books.append(
                cents.select("cid", F.col("centroid").alias("c_emb")).localCheckpoint()
            )
        return books

    return _PQ_CODEBOOK_CACHE.get((spark, sf_dir), build)


_PQ_BOOKS_ALL_CACHE = ArtifactCache()


def _pq_codebooks_all(spark: SparkSession, sf_dir: str, em: DataFrame) -> DataFrame:
    """All subspace codebooks as ONE tagged (subspace, cid, c_emb)
    frame, materialized once per (session, sf_dir) — so a consumer
    joining every codebook (q156's ADC lookup table) costs one scan of
    one tiny artifact instead of an 8-branch union re-deriving each
    codebook's lineage."""
    def build():
        books = _pq_codebooks(spark, sf_dir, em)
        tagged = [
            b.select(F.lit(m).alias("subspace"), "cid", "c_emb")
            for m, b in enumerate(books)
        ]
        u = tagged[0]
        for other in tagged[1:]:
            u = u.unionByName(other)
        return u.localCheckpoint()

    return _PQ_BOOKS_ALL_CACHE.get((spark, sf_dir), build)


_PQ_CODES_CACHE = ArtifactCache()


def _pq_codes(spark: SparkSession, sf_dir: str, em: DataFrame) -> DataFrame:
    """Per-vector PQ assignment rows (vec_id, subspace, code, recon_err)
    — exact-L2 argmin against each subspace codebook, reduced by the
    deterministic struct-min (d2 asc, cid asc on ties). Materialized
    once per (session, sf_dir): the code table IS the stored index
    artifact ADC serves from, so per-call re-derivation would misstate
    the serve cost (same rationale as the cells/codebook caches)."""
    def build():
        books = _pq_codebooks(spark, sf_dir, em)
        outs = []
        for m in range(_PQ_M):
            sub = F.slice("embedding", m * _PQ_SUBDIM + 1, _PQ_SUBDIM)
            sub_em = em.select("vec_id", sub.alias("embedding"))
            x, c = F.col("embedding"), F.col("c_emb")
            d2 = (
                dot_fold(x, x)
                - 2 * dot_fold(x, c)
                + dot_fold(c, c)
            ).alias("d2")
            scored = sub_em.join(F.broadcast(books[m])).select("vec_id", "cid", d2)
            outs.append(
                scored.groupBy("vec_id")
                .agg(F.min(F.struct("d2", "cid")).alias("b"))
                .select(
                    "vec_id",
                    F.lit(m).alias("subspace"),
                    F.col("b.cid").alias("code"),
                    F.col("b.d2").alias("recon_err"),
                )
            )
        res = outs[0]
        for other in outs[1:]:
            res = res.unionByName(other)
        return res.localCheckpoint()

    return _PQ_CODES_CACHE.get((spark, sf_dir), build)


def _pq_asg_sql(m: int) -> str:
    """Final assignment CTE for subspace m: exact-L2 argmin against the
    trained subspace codebook, emitting (vec_id, subspace, code, d2)."""
    o = m * _PQ_SUBDIM
    sub = f"(e.embedding[{o + 1}:{o + _PQ_SUBDIM}])"
    d2 = (
        f"{_sql_dot(sub, sub)} - 2 * {_sql_dot(sub, 'c.c_emb')}"
        f" + {_sql_dot('c.c_emb', 'c.c_emb')}"
    )
    return f"""pq{m}asg AS (
      SELECT vec_id, {m} AS subspace, cid AS code, d2 AS recon_err FROM (
        SELECT e.vec_id, c.cid, {d2} AS d2,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {d2}, c.cid) AS rk
        FROM embeddings e CROSS JOIN pq{m}c{_PQ_ROUNDS} c)
      WHERE rk = 1)"""


@query(
    "q154_product_quantization",
    oracle=(
        "WITH "
        + ",\n    ".join(
            _sql_kmeans_cents(
                k=_PQ_K,
                rounds=_PQ_ROUNDS,
                dim=_PQ_SUBDIM,
                prefix=f"pq{m}",
                offset=m * _PQ_SUBDIM,
            )
            for m in range(_PQ_M)
        )
        + ",\n    "
        + ",\n    ".join(_pq_asg_sql(m) for m in range(_PQ_M))
        + "\n    "
        + " UNION ALL ".join(
            f"SELECT vec_id, subspace, code, recon_err FROM pq{m}asg"
            for m in range(_PQ_M)
        )
    ),
)
def q154_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: split each 64-d embedding into 8 8-d
    subvectors, train an independent 16-centroid codebook per subspace
    (2 deterministic Lloyd rounds each — the q87/q88 kernel on a
    slice), and encode every vector as 8 four-bit codes — 4 bytes per
    vector vs 256 for float32, the compression that makes a 100 TB
    embedding corpus servable from memory (IVF-PQ: q65's trained cells
    route the query, PQ codes pay for the candidate scoring — q156).
    Returns one row per (vector, subspace): the assigned code and the
    exact squared reconstruction error — the audit surface for
    codebook quality (sum recon_err over subspaces = total vector
    distortion).

    Determinism: training and assignment are the same exact-L2 argmin
    + fixed-point update the IVF quantizer pins, so the DuckDB oracle
    replays all four codebook trainings CTE-for-CTE. Scale shape: each
    subspace round is one corpus scan over a 16-dim slice + one K×16
    aggregate; assignment is a broadcast of 4×16 tiny centroids; codes
    shuffle nowhere (scan-local argmin via one 16-row broadcast per
    subspace, reduced by struct-min). Codebooks and codes are the
    session-scoped artifacts q156 (ADC search) serves from."""
    em = load_table(spark, sf_dir, "embeddings")
    return _pq_codes(spark, sf_dir, em)


# ---------------------------------------------------------------------------
# q155 — semantic near-dup pairs via the trained quantizer
# ---------------------------------------------------------------------------
# Within-cell sub-banding (r8 verdict item 2 — the one perf-weak entry
# at 466 s in the 100× execution sweep): fixed K means trained-cell
# population grows ∝ N, so the within-cell pair space Σ n_c² ≈ N²/K is
# quadratic-in-the-limit however good the blocking. The corpus-scaled
# treatment the LSH family got in r8, adapted to a PARTITIONING
# blocker (cells cover the whole corpus, so an oversized-bucket DROP
# cap like lsh_bands' can never bind on a balanced index): inside each
# cell, candidates must ALSO agree on one of _CELL_BANDS sign-bit band
# keys, where the bits-per-band b grows with the corpus so that the
# expected (cell, band-bucket) population stays ≈ _CELL_TARGET:
#   b(N) = min(_BAND_STRIDE, ceil(log2(ceil(N / (K·_CELL_TARGET)))))
# Per band the pair space is N²/(K·2^b) ≈ N·_CELL_TARGET/2 — LINEAR —
# and _CELL_BANDS bands multiply recall, not asymptotics. b is 0 at
# every parity scale (≤ 4096 index entries ⇒ no sub-blocking,
# bit-identical to the pre-r9 form); the 100× sweep's 400k-entry dual
# index resolves b = 7. Recall cost is
# the standard sign-LSH S-curve (band match prob = (1-θ/π)^b, any of
# _CELL_BANDS bands) — measured per cosine-decile by q285's audit, and
# the candidate-volume drop is published in bench extras. Band j draws
# its sign bits from dimensions [j·_BAND_STRIDE, j·_BAND_STRIDE+b) —
# disjoint, so band keys are independent hyperplane draws (q62's
# coordinate-axis construction).
#
# DUAL cell assignment (r10, motivated by the planted-pair audit): the
# r9 single-nearest-cell blocking measured recall 7061 bp at b = 0 on
# planted cosine ≥ 0.9 pairs at the 100× corpus — 29% of TRUE
# near-dups straddle a Voronoi boundary and are unfindable at ANY b.
# Each vector is therefore indexed into its TWO nearest trained cells
# (k-means soft assignment — the pairs-side analog of q65's multi-probe
# query fan-out), which measured 9550 bp co-location on the same
# fixture at 2× index entries. Pairs sharing BOTH cells are generated
# once via min-shared-cell ownership (a filter on each side's other
# cell id — no distinct shuffle), and bits-per-band derives from the
# INDEX entry count (≈2N), so the (cell, band-bucket) population
# target — and the linear candidate asymptotics — are unchanged.
# _CELL_TARGET 32 → 64 (r11, the r10 verdict's recall-frontier item):
# the planted audit priced the operating points on the dual index —
# b = 8 measured 8189 bp on ≥0.9-cosine pairs, b = 7 measured 8524 bp
# — so the population target doubles, which shifts every derived b
# down one (100× index: 400k entries → b = 7) and doubles the
# per-band LINEAR candidate constant (N·_CELL_TARGET/2). The
# margin-gated ark ≤ 3 alternative caps lower (cell co-location
# ceiling ~9.8k bp × the b = 8 band factor ≈ 8400 bp < 8500) for
# comparable extra volume, so the band-side point wins the Pareto
# comparison. Parity scales: b = 0 up to 4096 index entries, so
# sf0.1 (4000) drops from b = 1 to 0 — certified values change and
# the whole family re-certifies through the r11 window.
_CELL_TARGET = 64
_CELL_BANDS = 4
_BAND_STRIDE = 16


def _subband_bits(n: int) -> int:
    """bits-per-band for an N-vector corpus — both engines compute the
    same integer: m = ceil(N / (K·T)), b = min(stride, ceil(log2 m))
    via pure integer compare-counting (no float log2 at the boundary)."""
    m = max(1, -(-n // (_IVF_K * _CELL_TARGET)))
    b = 0
    while (1 << b) < m and b < _BAND_STRIDE:
        b += 1
    return b


_SQL_SUBBAND_BITS = (
    f"LEAST({_BAND_STRIDE}, "
    + " + ".join(
        f"CASE WHEN {1 << i} < ((n + {_IVF_K * _CELL_TARGET - 1})"
        f" // {_IVF_K * _CELL_TARGET}) THEN 1 ELSE 0 END"
        for i in range(31)
    )
    + ")"
)


def _band_key(emb, j: int, b: int):
    """Spark band-j key: integer from the sign bits of dimensions
    [j·stride+1 .. j·stride+b] (1-indexed); 0 when b = 0."""
    key = F.lit(0)
    for i in range(b):
        key = key + F.when(
            F.element_at(emb, j * _BAND_STRIDE + i + 1) >= 0, F.lit(1 << i)
        ).otherwise(0)
    return key.cast("int")


def _sql_band_key(j: int) -> str:
    """DuckDB twin of _band_key with b as the cross-joined bb.b column
    (i < b disables unused bits, so one static expression serves any
    corpus size)."""
    terms = " + ".join(
        f"CASE WHEN {i} < bb.b AND c.embedding[{j * _BAND_STRIDE + i + 1}] >= 0"
        f" THEN {1 << i} ELSE 0 END"
        for i in range(_BAND_STRIDE)
    )
    return f"CAST(({terms}) AS INTEGER)"


# shared kmeans-cells + banded-candidate CTE prefix (q155/q285/q286):
# dual assignment (ark ≤ 2 → exploded index rows carrying the OTHER
# cell id), bits-per-band from the exploded index count, and
# min-shared-cell pair ownership so the band union stays
# duplicate-free with no DISTINCT
_SQL_CELL_BANDED = f"""{_sql_kmeans_cents()},
    cent AS (
      SELECT cid, c_emb, {_sql_norm('c_emb')} AS c_norm
      FROM c{_IVF_ROUNDS}
    ),
    asg AS (
      SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_dot('e.embedding', 'c.c_emb')} / c.c_norm DESC,
                        c.cid) AS ark
      FROM embeddings e CROSS JOIN cent c
    ),
    duo AS (
      SELECT vec_id,
             MAX(CASE WHEN ark = 1 THEN cid END) AS c1,
             MAX(CASE WHEN ark = 2 THEN cid END) AS c2
      FROM asg WHERE ark <= 2 GROUP BY vec_id
    ),
    cells AS (
      SELECT e.vec_id, e.embedding, d.c1 AS cid, d.c2 AS other_cid
      FROM embeddings e JOIN duo d ON d.vec_id = e.vec_id
      UNION ALL
      SELECT e.vec_id, e.embedding, d.c2 AS cid, d.c1 AS other_cid
      FROM embeddings e JOIN duo d ON d.vec_id = e.vec_id
      WHERE d.c2 IS NOT NULL
    ),
    nn AS (SELECT GREATEST(CAST(COUNT(*) AS BIGINT), 1) AS n
           FROM cells),
    bb AS (SELECT {_SQL_SUBBAND_BITS} AS b FROM nn),
    keyed AS MATERIALIZED (
      SELECT c.vec_id, c.embedding, c.cid, c.other_cid,
             {_sql_norm('c.embedding')} AS nrm,
             {", ".join(f"{_sql_band_key(j)} AS k{j}" for j in range(_CELL_BANDS))}
      FROM cells c CROSS JOIN bb
    ),
    cand AS (
      {" UNION ALL ".join(
          "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
          + _sql_dot('a.embedding', 'b.embedding')
          + " / (a.nrm * b.nrm) AS cosine_sim"
          + " FROM keyed a JOIN keyed b ON a.cid = b.cid"
          + f" AND a.k{j} = b.k{j} AND a.vec_id < b.vec_id"
          + " AND NOT COALESCE(a.other_cid = b.other_cid"
          + " AND a.other_cid < a.cid, FALSE)"
          + "".join(f" AND a.k{i} <> b.k{i}" for i in range(j))
          for j in range(_CELL_BANDS)
      )}
    ),
    found_pairs AS (
      SELECT id_a, id_b, cosine_sim FROM cand WHERE cosine_sim >= {_COS_T}
    )"""


def _banded_candidates(
    spark: SparkSession, sf_dir: str, b_override: int | None = None
) -> DataFrame:
    """Pre-threshold candidate pairs (id_a, id_b, cosine_sim) from the
    trained cells under the corpus-scaled sub-band blocking — the
    generation stage q155/q285 verify and cell_band_stats counts.

    ``b_override`` pins bits-per-band instead of deriving it from the
    index count — the planted-pair recall audit's knob
    (planted_recall_stats sweeps b on a fixed corpus to trace the
    recall curve the corpus-scaled default walks as N grows). Shipped
    consumers (q155/q285/q286) never pass it."""
    em = load_table(spark, sf_dir, "embeddings")
    cent = F.broadcast(_trained_centroids(spark, sf_dir, em))
    cells = _ivf_cells_dual(spark, sf_dir, em, cent)
    # bounded scalar: the INDEX entry count (≈2N under dual
    # assignment) drives the bits-per-band parameter, exactly as the
    # oracle's nn/bb scalar subqueries count the exploded cells CTE —
    # the (cell, band-bucket) population target is an index property,
    # not a corpus property. Cheap: cells is localCheckpointed.
    b = _subband_bits(cells.count()) if b_override is None else b_override
    # per-vector norms on top of the shared cell cache (q62's rework:
    # bit-identical cosine, 1 fold per candidate pair instead of 3).
    # r12 (guide §2.4/§5): materialized ONCE — the _CELL_BANDS
    # per-band self-joins reference this frame on BOTH arms (8
    # evaluations), and without the lineage cut each arm re-ran the
    # norm fold and all band-key folds over the full index (Catalyst
    # never dedups identical lazy subtrees across join arms — the
    # q171/q265 lesson).
    keyed = cells.select(
        "vec_id",
        "embedding",
        "cid",
        "other_cid",
        l2_norm(F.col("embedding")).alias("nrm"),
        *[
            _band_key(F.col("embedding"), j, b).alias(f"k{j}")
            for j in range(_CELL_BANDS)
        ],
    ).localCheckpoint()
    parts = []
    for j in range(_CELL_BANDS):
        a, c = keyed.alias("a"), keyed.alias("b")
        cond = (
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col(f"a.k{j}") == F.col(f"b.k{j}"))
            & (F.col("a.vec_id") < F.col("b.vec_id"))
            # min-shared-cell ownership: a pair co-located in BOTH of
            # its dual cells is generated only in the smaller cid (the
            # only other shareable cell is each side's other_cid, so
            # one null-safe compare decides; band keys are
            # embedding-only, hence identical in both cells, making
            # the duplicate exact and the filter lossless)
            & ~F.coalesce(
                (F.col("a.other_cid") == F.col("b.other_cid"))
                & (F.col("a.other_cid") < F.col("a.cid")),
                F.lit(False),
            )
        )
        # first-matching-band ownership: a pair co-bucketed by several
        # bands is generated ONLY by the smallest, so the union is
        # duplicate-free with no distinct shuffle; with b = 0 every
        # key is 0 and band 0 degenerates to the plain within-cell
        # join (bands 1+ fold to empty under k<>k = false)
        for i in range(j):
            cond = cond & (F.col(f"a.k{i}") != F.col(f"b.k{i}"))
        parts.append(
            a.join(c, cond).select(
                F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"),
                F.try_divide(
                    dot_fold(F.col("a.embedding"), F.col("b.embedding")),
                    F.col("a.nrm") * F.col("b.nrm"),
                ).alias("cosine_sim"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_CELL_PAIRS_CACHE = ArtifactCache()


def _cell_banded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs from the trained cells with the
    corpus-scaled sub-band cap — shared by q155 (the product), q285
    (its recall audit) and q286 (the keep-list closure).

    r12 (verdict item 4): session-scoped artifact like the cells
    themselves — the banded generation + cosine verification is the
    expensive stage all three queries repay per call, when in a
    serving session the verified pair set is built once and consumed
    by product, audit and keep-list alike (exactly the q53
    shingle-index economics). The checkpoint is lazy so the first
    consumer's own action materializes it (one pass, no separate
    build job — the q144/q214 cold-path lesson); later consumers read
    blocks. evict_session_artifacts clears it between families."""
    def build():
        pairs = _banded_candidates(spark, sf_dir)
        return pairs.filter(F.col("cosine_sim") >= _COS_T).localCheckpoint(eager=False)

    return _CELL_PAIRS_CACHE.get((spark, sf_dir), build)


def cell_band_stats(spark: SparkSession, sf_dir: str) -> dict:
    """Observability for the q155 sub-band cap (the q53
    lsh_cap_drop_stats twin): resolved bits-per-band, the UNCAPPED
    within-cell pair space Σ C(n_c, 2) in closed form, the banded
    candidate count actually generated, and their ratio. bench.py
    publishes these per round so the candidate-volume curve (and the
    recall trade q285 prices) stays visible. Counting the candidate
    frame prunes the cosine fold (count needs no columns), so the
    stats cost is the id-only join, not the verification. Since r10
    the pair space is the DUAL-assignment index's Σ C(n_c, 2) over
    exploded entries (an upper bound that counts both-cells-shared
    pairs twice — the ownership filter's dedup is part of what
    cand_frac shows)."""
    em = load_table(spark, sf_dir, "embeddings")
    cent = F.broadcast(_trained_centroids(spark, sf_dir, em))
    cells = _ivf_cells_dual(spark, sf_dir, em, cent)
    b = _subband_bits(cells.count())
    cell_pairs = (
        cells.groupBy("cid")
        .agg(F.count("*").alias("n"))
        .agg(F.sum(F.expr("n * (n - 1) DIV 2")).alias("p"))
        .collect()[0]["p"]
        or 0
    )
    banded = _banded_candidates(spark, sf_dir).count()
    return {
        "band_bits": float(b),
        "cell_pairs": float(cell_pairs),
        "banded_pairs": float(banded),
        "cand_frac": banded / max(cell_pairs, 1),
    }


@query(
    "q155_semantic_neardup",
    oracle=f"""
    WITH {_SQL_CELL_BANDED}
    SELECT id_a, id_b, cosine_sim FROM found_pairs
    """,
)
def q155_semantic_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ 0.3) blocked by the
    TRAINED quantizer's cells instead of q62's data-independent sign
    blocks — the pairs-problem twin of q65's frontier jump: cells
    adapt to the data, so near neighbors co-locate and the intra-cell
    candidate space recovers far more true pairs at a comparable
    candidate budget. Shares q65's session-scoped trained index —
    build once, serve search (q65), dedup pairs (here), and audits
    (q123/q129-style) from the same artifact; exact cosine verifies
    every candidate, so precision is 1.0 by construction and the
    blocking only bounds recall — which q285 measures per decile.

    Scale shape (r9, extended r10): every vector is indexed into its
    TWO nearest cells (dual assignment — see the constant block: the
    planted-pair audit measured 29% of true ≥0.9 pairs straddling a
    single-assignment boundary at 100×), and within-cell candidates
    are additionally blocked by _CELL_BANDS index-scaled sign-bit band
    keys — bits-per-band grows as log2(index entries), holding
    expected (cell, band-bucket) population at _CELL_TARGET, so the
    candidate space stays ≈ LINEAR (2N·_CELL_TARGET·_CELL_BANDS/2)
    instead of the N²/K that measured 466 s at the 100× sweep scale.
    At sf0.001/sf0.01 b = 0 and the plan degenerates to the plain
    within-dual-cell join; sf0.1's 4000-entry index resolves b = 1."""
    return _cell_banded_pairs(spark, sf_dir)


# ---------------------------------------------------------------------------
# q285 — recall audit of the cell-banded blocking vs exact anchors
# ---------------------------------------------------------------------------
_ANCHOR_DIV = 64  # ~64 anchors however large the corpus


@query(
    "q285_semantic_recall_audit",
    oracle=f"""
    WITH {_SQL_CELL_BANDED},
    na AS (SELECT GREATEST(CAST(COUNT(*) AS BIGINT), 1) AS n
           FROM embeddings),
    anchors AS (
      -- anchor modulus derives from the CORPUS count (na), not the
      -- dual-assignment index count (nn ≈ 2N): anchors sample
      -- vectors, not index entries
      SELECT e.vec_id, e.embedding, {_sql_norm('e.embedding')} AS nrm
      FROM embeddings e CROSS JOIN na
      WHERE e.vec_id % ((na.n + {_ANCHOR_DIV - 1}) // {_ANCHOR_DIV}) = 0
    ),
    corpus AS (
      SELECT vec_id, embedding, {_sql_norm('embedding')} AS nrm
      FROM embeddings
    ),
    truth AS (
      SELECT DISTINCT LEAST(a.vec_id, x.vec_id) AS id_a,
             GREATEST(a.vec_id, x.vec_id) AS id_b
      FROM anchors a JOIN corpus x ON a.vec_id <> x.vec_id
      WHERE {_sql_dot('a.embedding', 'x.embedding')} / (a.nrm * x.nrm)
            >= {_COS_T}
    ),
    m AS (
      SELECT f.cosine_sim, f.id_a IS NOT NULL AS found,
             COALESCE(f.cosine_sim,
                      {_sql_dot('ea.embedding', 'eb.embedding')}
                        / ({_sql_norm('ea.embedding')}
                           * {_sql_norm('eb.embedding')})) AS sim
      FROM truth t
      JOIN embeddings ea ON ea.vec_id = t.id_a
      JOIN embeddings eb ON eb.vec_id = t.id_b
      LEFT JOIN found_pairs f ON f.id_a = t.id_a AND f.id_b = t.id_b
    )
    SELECT CAST(floor(sim * 10) AS BIGINT) AS sim_decile,
           CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(SUM(CASE WHEN found THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
           CAST(SUM(CASE WHEN found THEN 1 ELSE 0 END) * 10000 // COUNT(*)
                AS BIGINT) AS recall_bp
    FROM m GROUP BY 1
    """,
)
def q285_semantic_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECALL AUDIT of q155's cell-banded blocking against EXACT
    ground truth on a deterministic anchor sample — q219's
    construction carried to the embedding family: for every true pair
    (cosine ≥ 0.3) touching an anchor vector, did the (cell, band)
    blocking generate it? Reported per cosine decile because sign-LSH
    recall is a steep function of angle (the S-curve — near-identical
    vectors agree on almost every sign bit, 0.3-cosine pairs on few),
    so the decile table shows exactly what the corpus-scaled bits
    trade away as N grows; basis-point integer recall keeps the
    report hash-exact cross-engine.

    The anchor set is what keeps the AUDIT scale-safe where exact
    all-pairs truth is quadratic: ~_ANCHOR_DIV vectors chosen by a
    corpus-derived modulus (vec_id % ceil(N/64) = 0 — deterministic,
    spread across the id range, expressible in both engines), so
    truth is anchors × corpus ≈ 64·N exact cosines — linear, the same
    economics as q61's fixed query set. Where b resolves to 0
    (sf0.001/sf0.01 indexes) recall of pairs SHARING a dual cell is
    total (the banding generates the full cell pair space) — truth
    pairs whose members share no cell even under dual assignment are
    still missed at b = 0, and the audit is exactly where those
    assignment misses stay visible; sf0.1 adds b = 1 banding, the
    100× sweep b = 7 (planted_recall_stats prices both per-b)."""
    # _cell_banded_pairs is session-checkpointed since r12 — no
    # second localCheckpoint here
    pairs = _cell_banded_pairs(spark, sf_dir)
    em = load_table(spark, sf_dir, "embeddings")
    n = em.count()
    # max(1, ...) mirrors the oracle's GREATEST(n, 1): on an empty
    # embeddings table the modulus must not reach % 0 (r9 ADVICE).
    mod = max(1, (n + _ANCHOR_DIV - 1) // _ANCHOR_DIV)
    corpus = em.select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    )
    anchors = corpus.filter(F.col("vec_id") % mod == 0)
    a, x = anchors.alias("a"), corpus.alias("x")
    truth = (
        a.join(x, F.col("a.vec_id") != F.col("x.vec_id"))
        .filter(
            F.try_divide(
                dot_fold(F.col("a.embedding"), F.col("x.embedding")),
                F.col("a.nrm") * F.col("x.nrm"),
            )
            >= _COS_T
        )
        .select(
            F.least("a.vec_id", "x.vec_id").alias("id_a"),
            F.greatest("a.vec_id", "x.vec_id").alias("id_b"),
        )
        .distinct()
    )
    ea = em.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("emb_a"))
    eb = em.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("emb_b"))
    m = (
        truth.join(ea, F.col("id_a") == F.col("ia"))
        .join(eb, F.col("id_b") == F.col("ib"))
        .join(pairs.withColumn("found", F.lit(True)), ["id_a", "id_b"], "left")
        .select(
            F.coalesce("found", F.lit(False)).alias("found"),
            F.coalesce(
                F.col("cosine_sim"),
                F.try_divide(
                    dot_fold(F.col("emb_a"), F.col("emb_b")),
                    l2_norm(F.col("emb_a")) * l2_norm(F.col("emb_b")),
                ),
            ).alias("sim"),
        )
    )
    return m.groupBy(
        F.floor(F.col("sim") * 10).cast("long").alias("sim_decile")
    ).agg(
        F.count("*").cast("long").alias("n_truth"),
        F.sum(F.when(F.col("found"), 1).otherwise(0))
        .cast("long")
        .alias("n_found"),
        F.expr(
            "CAST(SUM(CASE WHEN found THEN 1 ELSE 0 END) * 10000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("recall_bp"),
    )


# ---------------------------------------------------------------------------
# planted-pair recall audit (r9 verdict item 4): measure the ≥0.9 regime
# ---------------------------------------------------------------------------
# q285 can only audit the truth pairs the corpus HAS, and this
# synthetic corpus has no pairs above cosine 0.6 — so the flagship
# near-dup regime (cosine ≥ 0.9, where real duplicates live) was
# covered only by the analytic any-of-4-bands estimate (~0.81 at
# b = 7). These helpers PLANT deterministic near-dup pairs and measure
# it: md5-selected vectors are cloned with a bounded ADDITIVE
# Rademacher perturbation e' = e + (α·|e|/√d)·u, u_i = ±1 from
# hash(vec_id, i). Additive is the load-bearing choice — a
# multiplicative tweak can never flip a sign bit, so sign-LSH recall
# on it reads a vacuous 10000 bp; the additive direction flips
# low-magnitude coordinates exactly like a real angular displacement
# (cos ≈ 1/√(1+α²); α steps 0.10..0.45 spread pairs across
# cosine ≈ 0.91..0.995). Truth is still defined by EXACT cosine ≥ 0.9
# on the planted corpus, so imperfect construction self-corrects.
_PLANTED_ALPHA_STEPS = 8  # α = 0.10 + 0.05·(vec_id % 8)


def build_planted_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Write the planted corpus (original ∪ perturbed clones of the
    md5-selected ~1/4) to a scratch dir shaped like a testdata sf dir,
    so the whole trained-index + banding stack runs on it unmodified.
    Deterministic end-to-end: same sf_dir ⇒ byte-identical fixture."""
    import hashlib

    # scratch dir keyed by (sf_dir, pid) — r10 ADVICE: keyed on
    # sf_dir alone, two concurrent sessions benching the same corpus
    # could overwrite the fixture parquet mid-read (mode=overwrite
    # deletes files under the other session's scan); the pid key makes
    # the fixture private to this driver process while staying
    # deterministic within it (same bytes every rebuild).
    out = os.path.join(
        "/tmp",
        "ecowatt_planted_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
        + f"_{os.getpid()}",
    )
    em = load_table(spark, sf_dir, "embeddings")
    # bounded scalar: the clone id offset
    off = (em.agg(F.max("vec_id")).collect()[0][0] or 0) + 1
    src = em.filter(
        F.md5(F.col("vec_id").cast("string")).substr(1, 1).isin(
            "0", "1", "2", "3"
        )
    )
    alpha = (
        F.lit(0.10)
        + F.lit(0.05) * (F.col("vec_id") % _PLANTED_ALPHA_STEPS)
    ).cast("double")
    # per-row √d from the embedding itself (r10 ADVICE: a hardcoded
    # dim silently mis-scales the perturbation if the corpus dimension
    # changes — truth self-corrects but the per-alpha cosine spread
    # the audit relies on is lost)
    step = alpha * l2_norm(F.col("embedding")) / F.sqrt(
        F.size("embedding").cast("double")
    )
    pert = F.transform(
        "embedding",
        lambda x, i: (
            x.cast("double")
            + step
            * F.when(
                F.pmod(F.hash(F.col("vec_id"), i), F.lit(2)) == 0,
                F.lit(1.0),
            ).otherwise(F.lit(-1.0))
        ).cast("float"),
    )
    clones = src.select(
        (F.col("vec_id") + F.lit(off)).alias("vec_id"),
        pert.alias("embedding"),
        "label",
    )
    planted = em.select("vec_id", "embedding", "label").unionByName(clones)
    planted.coalesce(max(1, planted.rdd.getNumPartitions() // 4)).write.mode(
        "overwrite"
    ).parquet(os.path.join(out, "embeddings.parquet"))
    return out


def planted_recall_stats(
    spark: SparkSession, sf_dir: str, bits: tuple[int, ...] = (0, 4, 7, 10)
) -> dict:
    """MEASURED recall of the cell-banded blocking on planted
    cosine ≥ 0.9 pairs, per bits-per-band — the number the analytic
    ≈0.81 (b = 7, any of 4 bands) stood in for through r9. The trained
    quantizer + cells build once on the planted corpus (session
    cache); each b re-keys the bands only. recall includes CELL
    assignment misses (a clone quantized into a different cell than
    its original is unfindable at any b) — that is the deployed
    operator's true recall, and b = 0 isolates it: any miss at b = 0
    IS a cell miss."""
    fixture = build_planted_fixture(spark, sf_dir)
    em = load_table(spark, fixture, "embeddings")
    half = em.filter(
        F.md5(F.col("vec_id").cast("string")).substr(1, 1).isin(
            "0", "1", "2", "3"
        )
    )
    # off is re-derivable: the planted corpus ids above the original
    # max are exactly the clones — recover it from the source corpus
    off = (
        load_table(spark, sf_dir, "embeddings")
        .agg(F.max("vec_id"))
        .collect()[0][0]
        or 0
    ) + 1
    a = em.alias("a")
    c = em.alias("c")
    truth = (
        half.alias("s")
        .join(a, F.col("a.vec_id") == F.col("s.vec_id"))
        .join(c, F.col("c.vec_id") == F.col("s.vec_id") + F.lit(off))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("c.vec_id").alias("id_b"),
            F.try_divide(
                dot_fold(F.col("a.embedding"), F.col("c.embedding")),
                l2_norm(F.col("a.embedding"))
                * l2_norm(F.col("c.embedding")),
            ).alias("cos"),
        )
        .filter(F.col("cos") >= 0.9)
        .localCheckpoint()
    )
    n_truth = truth.count()
    stats: dict[str, float] = {"planted_truth_pairs": float(n_truth)}
    for b in bits:
        found = (
            _banded_candidates(spark, fixture, b_override=b)
            .select("id_a", "id_b")
            .join(truth, ["id_a", "id_b"], "left_semi")
            .count()
        )
        stats[f"recall_bp_b{b}"] = float(
            found * 10000 // max(n_truth, 1)
        )
    return stats


# ---------------------------------------------------------------------------
# q286 — semantic dedup keep-list + token impact (the q57/q59/q135
# closure for the EMBEDDING side)
# ---------------------------------------------------------------------------
# Cluster threshold is deliberately ABOVE the q155 pair threshold
# (0.4 vs 0.3): transitive closure amplifies loose pairwise links
# into giant components, so the cluster graph keeps only the
# stronger-similarity edges — the same reasoning as q57 clustering at
# Jaccard ≥ 0.5 over q53's ≥ 0.5 verified pairs. A knob at deploy
# time; at 0.3 on this corpus the closure would chain most of each
# quantizer cell into one component.
_SEM_CLUSTER_T = 0.4


@query(
    "q286_semantic_keep_list",
    oracle=f"""
    WITH RECURSIVE {_SQL_CELL_BANDED},
    sedges AS (
      SELECT id_a AS src, id_b AS dst FROM found_pairs
      WHERE cosine_sim >= {_SEM_CLUSTER_T}
      UNION ALL
      SELECT id_b, id_a FROM found_pairs
      WHERE cosine_sim >= {_SEM_CLUSTER_T}
    ),
    sverts AS (SELECT DISTINCT src AS id FROM sedges),
    sreach AS (
      SELECT id, id AS lbl FROM sverts
      UNION
      SELECT e.dst AS id, r.lbl FROM sreach r JOIN sedges e ON e.src = r.id
    ),
    scl AS (SELECT id AS vec_id, MIN(lbl) AS cluster_id
            FROM sreach GROUP BY id),
    stok AS (SELECT doc_id, len({SQL_TOKENS}) AS n_tok FROM documents),
    sm AS (
      SELECT c.cluster_id, c.vec_id, t.n_tok
      FROM scl c JOIN stok t ON t.doc_id = c.vec_id
    )
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN vec_id <> cluster_id THEN n_tok ELSE 0 END)
                AS BIGINT) AS tokens_dropped
    FROM sm GROUP BY cluster_id
    """,
)
def q286_semantic_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup closed end-to-end — the embedding-side twin of
    the text pipeline's q53→q57→q59/q135 chain: q155's cell-banded
    verified pairs (cosine ≥ 0.4 for clustering), pointer-jumping
    connected components (q283's O(log diameter) kernel, shared
    verbatim), then per cluster the keep decision and its token
    impact: the canonical member is the min vec_id (= the component
    label), and tokens_dropped prices what removing the other members
    saves a training run — doc_id ↔ vec_id is the corpus contract
    (q129). The DuckDB oracle replays quantizer training, banding,
    verification, and the component fixpoint (recursive CTE) in one
    statement.

    Scale shape: every stage is already priced — pairs are linear
    under the corpus-scaled band cap (q155), the CC kernel is
    O(log d) rounds over the (small) verified-pair graph with
    label-sum convergence proof, token counts ride the session-shared
    doc_token_stats frame, and the final aggregate is
    clusters-sized."""
    from ecowatt_etl_spark.operators.text import doc_token_stats
    from ecowatt_etl_spark.queries.dedup_queries import (
        _shortcut_cc,
        _sym_edges,
    )

    pairs = _cell_banded_pairs(spark, sf_dir).filter(
        F.col("cosine_sim") >= _SEM_CLUSTER_T
    )
    labels = _shortcut_cc(_sym_edges(pairs))
    tok = doc_token_stats(spark, sf_dir).select(
        F.col("doc_id").alias("vec_id"), "n_tok"
    )
    m = labels.select(
        F.col("id").alias("vec_id"), F.col("lbl").alias("cluster_id")
    ).join(tok, "vec_id")
    return m.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_members"),
        (F.count("*") - 1).cast("long").alias("n_dropped"),
        F.sum(
            F.when(
                F.col("vec_id") != F.col("cluster_id"), F.col("n_tok")
            ).otherwise(0)
        )
        .cast("long")
        .alias("tokens_dropped"),
    )


# ---------------------------------------------------------------------------
# q156 — IVF-PQ search: trained-cell routing + ADC scoring over codes
# ---------------------------------------------------------------------------
def _q156_oracle() -> str:
    ivf = _sql_kmeans_cents()
    pq = ",\n    ".join(
        _sql_kmeans_cents(
            k=_PQ_K,
            rounds=_PQ_ROUNDS,
            dim=_PQ_SUBDIM,
            prefix=f"pq{m}",
            offset=m * _PQ_SUBDIM,
        )
        for m in range(_PQ_M)
    )
    codes = ",\n    ".join(_pq_asg_sql(m) for m in range(_PQ_M))
    qparts = ",\n    ".join(
        f"""qp{m} AS (
      SELECT q.vec_id AS query_id, {m} AS subspace, c.cid AS code,
             {_sql_dot(f"(q.embedding[{m * _PQ_SUBDIM + 1}:{(m + 1) * _PQ_SUBDIM}])", "c.c_emb")} AS p
      FROM embeddings q CROSS JOIN pq{m}c{_PQ_ROUNDS} c
      WHERE q.vec_id < {_NQ})"""
        for m in range(_PQ_M)
    )
    adc_cols = " + ".join(
        f"COALESCE(MAX(CASE WHEN subspace = {m} THEN p END), CAST(0.0 AS DOUBLE))"
        for m in range(_PQ_M)
    )
    # single-reference unions: every upstream CTE (notably cand, whose
    # lineage includes the full IVF assignment) must appear in exactly
    # ONE downstream join — DuckDB inlines CTEs, so an 8-way UNION of
    # per-subspace joins would recompute the routing 8 times over
    codes_all = " UNION ALL ".join(
        f"SELECT vec_id, subspace, code FROM pq{m}asg" for m in range(_PQ_M)
    )
    qp_all = " UNION ALL ".join(
        f"SELECT query_id, subspace, code, p FROM qp{m}" for m in range(_PQ_M)
    )
    joins = (
        "SELECT s.query_id, s.neighbor_id, c.subspace, q.p "
        "FROM cand s, codes_all c, qp_all q "
        "WHERE c.vec_id = s.neighbor_id AND q.query_id = s.query_id "
        "AND q.subspace = c.subspace AND q.code = c.code"
    )
    return f"""
    WITH {ivf},
    {pq},
    {codes},
    {qparts},
    cent AS (
      SELECT cid, c_emb, {_sql_norm("c_emb")} AS c_norm FROM c{_IVF_ROUNDS}
    ),
    asg AS (
      SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_dot("e.embedding", "c.c_emb")} / c.c_norm DESC,
                        c.cid) AS ark
      FROM embeddings e CROSS JOIN cent c
    ),
    cells AS (SELECT vec_id, cid FROM asg WHERE ark = 1),
    pasg AS (
      SELECT q.vec_id AS query_id, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_sql_dot("q.embedding", "c.c_emb")} / c.c_norm DESC,
                        c.cid) AS prk
      FROM embeddings q CROSS JOIN cent c
      WHERE q.vec_id < {_NQ}
    ),
    probes AS (SELECT query_id, cid FROM pasg
               WHERE prk <= (SELECT CEIL(1.5 * SQRT(COUNT(*))) FROM cent)),
    cand AS (
      SELECT p.query_id, x.vec_id AS neighbor_id
      FROM probes p JOIN cells x ON x.cid = p.cid AND x.vec_id <> p.query_id
    ),
    codes_all AS ({codes_all}),
    qp_all AS ({qp_all}),
    partials AS ({joins}),
    adc AS (
      SELECT query_id, neighbor_id, {adc_cols} AS adc_score
      FROM partials GROUP BY query_id, neighbor_id
    ),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_score DESC, neighbor_id) AS sr
        FROM adc)
      WHERE sr <= GREATEST({_PQ_REFINE},
                           CEIL((SELECT COUNT(*) FROM embeddings)
                                / {_PQ_REFINE_DIV}.0))
    ),
    rerank AS (
      SELECT s.query_id, s.neighbor_id,
             {_sql_dot("q.embedding", "x.embedding")}
               / ({_sql_norm("q.embedding")} * {_sql_norm("x.embedding")})
               AS cosine_sim
      FROM shortlist s, embeddings q, embeddings x
      WHERE q.vec_id = s.query_id AND x.vec_id = s.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rk
      FROM rerank
    )
    SELECT query_id, neighbor_id, cosine_sim, rk FROM ranked WHERE rk <= {_TOPK}
    """


@query("q156_ivfpq_topk", oracle=_q156_oracle())
def q156_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ+refine approximate top-k — the composed 100 TB serving
    path (the faiss IVFADC+refine recipe re-expressed relationally):

    1. ROUTE: q65's trained cells send each query to its nprobe
       nearest cells (~19% of a balanced index).
    2. ADC: candidates are scored from q154's 4-byte PQ codes —
       dot(query, reconstruction(x)) = Σ_m dot(q_m,
       codebook_m[code_m(x)]) — via a broadcast (query × subspace ×
       code) lookup table of fold-dots; candidate scoring is equi-
       joins on 8-byte keys + a pivoted fixed-order 8-term add. No
       raw vector is touched: per candidate the serve path reads 4
       bytes of codes.
    3. REFINE: only the ADC top-``_PQ_REFINE`` per query is re-ranked
       with exact cosine over the raw vectors (the only vector-sized
       I/O in the whole serve path) for the final top-k.

    The refine stage is what makes PQ honest on this corpus: raw ADC
    ordering at 4 bits/subspace keeps ~0.25 recall on isotropic data
    (measured — the PQ worst case: no cluster structure to spend the
    bits on), while the exact refine recovers it (measured at sf0.1:
    0.83 at depth 32 → 1.00 at 256, the shipped operating point —
    ~23% of routed candidates exactly scored, ~4% of the corpus). Both index artifacts (trained
    cells, codebooks+codes) are session-cached offline builds shared
    with q65/q154/q155; the oracle replays ALL NINE trainings (IVF +
    8 subspaces) plus routing, encoding, ADC, and refine —
    build-and-serve value-checked end to end. Recall vs exact q61 is
    published per round in bench extras next to q64/q65's."""
    em = load_table(spark, sf_dir, "embeddings")
    cent = F.broadcast(_trained_centroids(spark, sf_dir, em))
    cells = _ivf_cells(spark, sf_dir, em, cent).select("vec_id", "cid")
    codes = _pq_codes(spark, sf_dir, em).select("vec_id", "subspace", "code")

    # per-query ADC lookup table: (query_id, subspace, code, partial) —
    # one scan of the tiny query set × one scan of the tagged codebook
    # artifact; the subspace column drives the slice, so no per-subspace
    # union branches re-derive the lineage (plan-capped by the global
    # scan-count test)
    qsubs = em.filter(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    books_all = _pq_codebooks_all(spark, sf_dir, em)
    lut = qsubs.crossJoin(F.broadcast(books_all)).select(
        "query_id",
        "subspace",
        F.col("cid").alias("code"),
        dot_fold(
            F.slice(
                F.col("embedding"),
                F.col("subspace") * _PQ_SUBDIM + F.lit(1),
                F.lit(_PQ_SUBDIM),
            ),
            F.col("c_emb"),
        ).alias("p"),
    )

    n_cells = _trained_centroids(spark, sf_dir, em).agg(
        F.count("*").alias("n_cells")
    )
    p_w = W.partitionBy("query_id").orderBy(F.desc("p_sim"), F.asc("cid"))
    probes = F.broadcast(
        qsubs.crossJoin(cent)
        .select(
            "query_id",
            F.col("cid").cast("long").alias("cid"),
            F.try_divide(
                dot_fold(F.col("embedding"), F.col("c_emb")), F.col("c_norm")
            ).alias("p_sim"),
        )
        .withColumn("prk", F.row_number().over(p_w))
        .crossJoin(F.broadcast(n_cells))
        .filter(F.col("prk") <= F.ceil(F.lit(1.5) * F.sqrt(F.col("n_cells"))))
        .select("query_id", "cid")
    )
    cand = cells.join(
        probes,
        (cells["cid"] == probes["cid"]) & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", F.col("vec_id").alias("neighbor_id"))

    partials = (
        cand.join(codes, codes["vec_id"] == cand["neighbor_id"])
        .join(F.broadcast(lut), ["query_id", "subspace", "code"])
        .select("query_id", "neighbor_id", "subspace", "p")
    )

    def piv(m: int) -> F.Column:
        return F.coalesce(
            F.max(F.when(F.col("subspace") == m, F.col("p"))), F.lit(0.0)
        )

    adc_col = piv(0)
    for m in range(1, _PQ_M):
        adc_col = adc_col + piv(m)
    adc = partials.groupBy("query_id", "neighbor_id").agg(
        adc_col.alias("adc_score")
    )
    s_w = W.partitionBy("query_id").orderBy(
        F.desc("adc_score"), F.asc("neighbor_id")
    )
    refine_n = F.broadcast(
        em.agg(
            F.greatest(
                F.lit(_PQ_REFINE).cast("long"),
                F.ceil(F.count("*") / _PQ_REFINE_DIV),
            ).alias("refine_n")
        )
    )
    shortlist = (
        adc.withColumn("sr", F.row_number().over(s_w))
        .crossJoin(refine_n)
        .filter(F.col("sr") <= F.col("refine_n"))
        .select("query_id", "neighbor_id")
    )
    q_emb = em.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        l2_norm(F.col("embedding")).alias("q_nrm"),
    )
    x_emb = em.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("x_emb"),
        l2_norm(F.col("embedding")).alias("x_nrm"),
    )
    rerank = (
        shortlist.join(F.broadcast(q_emb.filter(F.col("query_id") < _NQ)), "query_id")
        .join(x_emb, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.try_divide(
                dot_fold(F.col("q_emb"), F.col("x_emb")),
                F.col("q_nrm") * F.col("x_nrm"),
            ).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return rerank.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _TOPK
    )


# ---------------------------------------------------------------------------
# q158 — semantic decontamination via the trained index
# ---------------------------------------------------------------------------
@query(
    "q158_semantic_decontaminate",
    oracle=f"""
    WITH {_sql_kmeans_cents()},
    cent AS (
      SELECT cid, c_emb, {_sql_norm('c_emb')} AS c_norm
      FROM c{_IVF_ROUNDS}
    ),
    asg AS (
      SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_dot('e.embedding', 'c.c_emb')} / c.c_norm DESC,
                        c.cid) AS ark
      FROM embeddings e CROSS JOIN cent c
    ),
    cells AS (
      SELECT e.vec_id, e.embedding, a.cid
      FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id AND a.ark = 1
    ),
    pasg AS (
      SELECT q.vec_id AS eval_id, q.embedding AS q_emb, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_sql_dot('q.embedding', 'c.c_emb')} / c.c_norm DESC,
                        c.cid) AS prk
      FROM embeddings q CROSS JOIN cent c
      WHERE q.vec_id < {_NQ}
    ),
    probes AS (SELECT eval_id, q_emb, cid FROM pasg
               WHERE prk <= (SELECT CEIL(1.5 * SQRT(COUNT(*))) FROM cent)),
    hits AS (
      SELECT x.vec_id AS doc_id, p.eval_id,
             {_sql_dot('p.q_emb', 'x.embedding')}
               / ({_sql_norm('p.q_emb')} * {_sql_norm('x.embedding')})
               AS cosine_sim
      FROM probes p JOIN cells x ON x.cid = p.cid AND x.vec_id >= {_NQ}
    )
    SELECT h.doc_id, d.lang, h.eval_id, h.cosine_sim
    FROM hits h JOIN documents d ON d.doc_id = h.doc_id
    WHERE h.cosine_sim >= {_COS_T}
    """,
)
def q158_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic eval-set decontamination: flag every corpus document
    whose embedding sits within cosine ≥ 0.3 of an eval-set item
    (vec_id < 8 stands in for the held-out benchmark) — the
    EMBEDDING-space complement of q96's exact n-gram decontamination:
    n-gram overlap catches verbatim leakage, this catches paraphrases
    and translations that share no surface text. Emits (doc, lang,
    matched eval item, similarity) — the removal list plus the audit
    trail of WHY each doc was flagged.

    Scale shape: reuses q65's session-scoped trained index — the eval
    set routes through nprobe cells exactly like a query batch
    (broadcast probe table, candidates ≈ 19% of the corpus per eval
    item instead of N), exact cosine verifies every flagged pair (no
    false positives from the blocking), and the final doc join is an
    8-byte-key equi-join. An eval set of thousands stays a broadcast;
    the corpus side never shuffles its vectors — candidates are read
    in place, cell-partition-pruned. Eval vectors themselves are
    excluded from the corpus side (a real eval set is disjoint; here
    it is carved from the table)."""
    em = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    cent = F.broadcast(_trained_centroids(spark, sf_dir, em))
    cells = _ivf_cells(spark, sf_dir, em, cent)
    n_cells = _trained_centroids(spark, sf_dir, em).agg(
        F.count("*").alias("n_cells")
    )
    p_w = W.partitionBy("eval_id").orderBy(F.desc("p_sim"), F.asc("cid"))
    probes = F.broadcast(
        em.filter(F.col("vec_id") < _NQ)
        .select(F.col("vec_id").alias("eval_id"), F.col("embedding").alias("q_emb"))
        .crossJoin(cent)
        .select(
            "eval_id",
            "q_emb",
            F.col("cid").cast("long").alias("cid"),
            F.try_divide(
                dot_fold(F.col("q_emb"), F.col("c_emb")), F.col("c_norm")
            ).alias("p_sim"),
        )
        .withColumn("prk", F.row_number().over(p_w))
        .crossJoin(F.broadcast(n_cells))
        .filter(F.col("prk") <= F.ceil(F.lit(1.5) * F.sqrt(F.col("n_cells"))))
        .select("eval_id", "q_emb", "cid")
    )
    corp = cells.withColumn("nrm", l2_norm(F.col("embedding")))
    prob = F.broadcast(
        probes.withColumn("q_nrm", l2_norm(F.col("q_emb")))
    )
    hits = (
        # corpus norms per VECTOR before the join (q62's rework):
        # bit-identical cosine, 1 fold per candidate pair instead of 3
        corp.join(
            prob,
            (corp["cid"] == prob["cid"]) & (F.col("vec_id") >= _NQ),
        )
        .select(
            F.col("vec_id").alias("doc_id"),
            "eval_id",
            F.try_divide(
                dot_fold(F.col("q_emb"), F.col("embedding")),
                F.col("q_nrm") * F.col("nrm"),
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= _COS_T)
    )
    return hits.join(docs, "doc_id").select(
        "doc_id", "lang", "eval_id", "cosine_sim"
    )


# ---------------------------------------------------------------------------
# q129 — semantic mixture: language × quantizer-cell distribution
# ---------------------------------------------------------------------------
@query(
    "q129_semantic_mixture",
    oracle=f"""
    WITH {_sql_kmeans_cents()},
    cent AS (
      SELECT cid, c_emb, {_sql_norm('c_emb')} AS c_norm
      FROM c{_IVF_ROUNDS}
    ),
    asg AS (
      SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_dot('e.embedding', 'c.c_emb')} / c.c_norm DESC,
                        c.cid) AS ark
      FROM embeddings e CROSS JOIN cent c
    ),
    cells AS (SELECT vec_id, cid FROM asg WHERE ark = 1),
    j AS (
      SELECT d.lang, x.cid
      FROM documents d JOIN cells x ON x.vec_id = d.doc_id
    ),
    g AS (
      SELECT lang, cid, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM j GROUP BY lang, cid
    )
    SELECT lang, cid, n_docs,
           CAST(n_docs AS DOUBLE)
             / SUM(n_docs) OVER (PARTITION BY lang) AS lang_share
    FROM g
    """,
)
def q129_semantic_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-mixture audit: cross the text table's language labels
    with the embedding table's quantizer cells (doc_id ↔ vec_id) and
    report how each language's documents spread across semantic
    neighborhoods — the check that catches 'language X is 90% one
    template cluster' before a mixture plan (q98/q102) treats its
    token count as diverse supply.

    Scale: REUSES the session-scoped TRAINED index (r9 — stride
    quantizer retired, see q123) — the assignment emits (vec_id, cid)
    pairs only and is built once per session; the text↔embedding join
    is an 8-byte-key equi-join of two copartition-able tables (at
    100 TB both sides bucket by doc_id at write time, q32 economics);
    the final shares window runs on the aggregated (lang × cell)
    frame, which is dims-sized, not corpus-sized."""
    em = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    cent = F.broadcast(_trained_centroids(spark, sf_dir, em))
    best = _ivf_cells(spark, sf_dir, em, cent).select(
        "vec_id", "cid"
    )
    g = (
        docs.join(best, docs["doc_id"] == best["vec_id"])
        .groupBy("lang", "cid")
        .agg(F.count("*").alias("n_docs"))
    )
    w = W.partitionBy("lang")
    return g.select(
        "lang",
        "cid",
        "n_docs",
        (F.col("n_docs").cast("double") / F.sum("n_docs").over(w)).alias(
            "lang_share"
        ),
    )


# ---------------------------------------------------------------------------
# q196 — IVF index persistence: write artifacts, reload, serve
# ---------------------------------------------------------------------------
from ecowatt_etl_spark.queries.registry import _REGISTRY as _REG  # noqa: E402

_Q65_ORACLE_TEXT = _REG["q65_ivf_topk"].oracle


@query("q196_ivf_persist_serve", oracle=_Q65_ORACLE_TEXT)
def q196_ivf_persist_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN index LIFECYCLE: q65's trained coarse quantizer and
    inverted file are PERSISTED to parquet — the cells table
    physically ``partitionBy("cid")``, which is the layout claim the
    q65 docstring makes for 100 TB ("each query's probes touch nprobe
    partitions") made real on disk — then RELOADED cold and served
    through the exact same serve path (_ivf_serve). Carrying q65's
    oracle proves the round-trip is lossless: training floats,
    centroid norms, and cell assignments survive
    serialize/deserialize bit-for-bit, so an index built offline
    tonight serves tomorrow's query batches with identical answers —
    the durability contract a real vector-serving deployment assumes
    and almost never verifies.

    Scale: the write is one corpus pass clustered by cell; serving
    reads ONLY the probed cells' partitions (directory pruning on
    cid — at 64 cells and nprobe=12, ~81% of the index is never
    opened). Centroids are a K-row parquet file, broadcast on load."""
    from ecowatt_etl_spark.operators.bucketing import bucket_token
    from ecowatt_etl_spark.sources.formats import SCRATCH_ROOT

    em = load_table(spark, sf_dir, "embeddings")
    cent_df = _trained_centroids(spark, sf_dir, em)
    cells = _ivf_cells(spark, sf_dir, em, F.broadcast(cent_df))

    root = f"{SCRATCH_ROOT}/{bucket_token(sf_dir)}"
    cent_path, cells_path = f"{root}/ivf_centroids", f"{root}/ivf_cells"
    cent_df.write.mode("overwrite").parquet(cent_path)
    cells.write.mode("overwrite").partitionBy("cid").parquet(cells_path)

    cent2 = spark.read.parquet(cent_path)
    cells2 = spark.read.parquet(cells_path).select(
        "vec_id", "embedding", F.col("cid").cast("long").alias("cid")
    )
    return _ivf_serve(em, cent2, cells2)


# ---------------------------------------------------------------------------
# q197 — incremental IVF ingest: route a new batch into standing cells
# ---------------------------------------------------------------------------
@query(
    "q197_ivf_incremental_ingest",
    oracle=f"""
    WITH base AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 9),
    batch AS (SELECT * FROM embeddings WHERE vec_id % 10 = 9),
    {_sql_kmeans_cents(src="base")},
    cent AS (
      SELECT cid, c_emb, {_sql_norm('c_emb')} AS c_norm
      FROM c{_IVF_ROUNDS}
    ),
    basg AS (
      SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_dot('e.embedding', 'c.c_emb')} / c.c_norm DESC,
                        c.cid) AS ark
      FROM base e CROSS JOIN cent c
    ),
    existing AS (
      SELECT cid, COUNT(*) AS n_existing FROM basg WHERE ark = 1 GROUP BY cid
    ),
    nasg AS (
      SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_dot('e.embedding', 'c.c_emb')} / c.c_norm DESC,
                        c.cid) AS ark
      FROM batch e CROSS JOIN cent c
    ),
    arrivals AS (
      SELECT cid, COUNT(*) AS n_new FROM nasg WHERE ark = 1 GROUP BY cid
    )
    SELECT cent.cid,
           CAST(COALESCE(x.n_existing, 0) AS BIGINT) AS n_existing,
           CAST(COALESCE(a.n_new, 0) AS BIGINT) AS n_new,
           CAST(CASE WHEN COALESCE(x.n_existing, 0) = 0 THEN -1
                     ELSE COALESCE(a.n_new, 0) * 10000 // x.n_existing END
                AS BIGINT) AS growth_bp
    FROM cent
    LEFT JOIN existing x ON x.cid = cent.cid
    LEFT JOIN arrivals a ON a.cid = cent.cid
    """,
)
def q197_ivf_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF ingest — the serving-time half of index
    maintenance: a new vector batch (every 10th id, simulating the
    day's arrivals) is ROUTED into the standing index's cells by the
    same trained-quantizer assignment, with NO retrain. The report is
    the per-cell growth ledger (existing population, arrivals, growth
    in basis points, −1 flagging cells that never had population) —
    exactly what decides WHEN to retrain: balanced growth means the
    quantizer still fits the distribution; concentrated growth means
    drift, and the hot cells' probe cost is rising. The quantizer is
    trained on the BASE corpus only (the oracle replays that training
    with the batch held out), so the check also proves the routing of
    unseen vectors is deterministic.

    Scale: routing a batch is one broadcast cross-join of batch ×
    centroids emitting (vec_id, cid) — cost scales with the BATCH,
    not the corpus (q127's ingest economics for the vector index);
    appended rows land in their cell's partition of the q196 layout.
    (The demo recomputes n_existing by routing the base corpus because
    the synthetic setup has no standing index metadata — a deployment
    reads those counts from q196's persisted cells.) Retrain remains
    the nightly job; this is the intraday path."""
    from ecowatt_etl_spark.operators.similarity import kmeans_train

    em = load_table(spark, sf_dir, "embeddings")
    base = em.filter(F.col("vec_id") % 10 != 9)
    batch = em.filter(F.col("vec_id") % 10 == 9)
    cents, _ = kmeans_train(base, k=_IVF_K, rounds=_IVF_ROUNDS)
    cent_df = cents.select(
        "cid",
        F.col("centroid").alias("c_emb"),
        l2_norm(F.col("centroid")).alias("c_norm"),
    )
    cent = F.broadcast(cent_df)

    def route(df: DataFrame) -> DataFrame:
        w = W.partitionBy("vec_id").orderBy(F.desc("a_sim"), F.asc("cid"))
        return (
            df.crossJoin(cent)
            .select(
                "vec_id",
                "cid",
                F.try_divide(
                    dot_fold(F.col("embedding"), F.col("c_emb")), F.col("c_norm")
                ).alias("a_sim"),
            )
            .withColumn("ark", F.row_number().over(w))
            .filter(F.col("ark") == 1)
        )

    existing = route(base).groupBy("cid").agg(F.count("*").alias("n_existing"))
    arrivals = route(batch).groupBy("cid").agg(F.count("*").alias("n_new"))
    j = (
        cent_df.select("cid")
        .join(existing, "cid", "left")
        .join(arrivals, "cid", "left")
    )
    ne = F.coalesce(F.col("n_existing"), F.lit(0))
    nn = F.coalesce(F.col("n_new"), F.lit(0))
    return j.select(
        "cid",
        ne.cast("long").alias("n_existing"),
        nn.cast("long").alias("n_new"),
        F.expr(
            "CAST(CASE WHEN COALESCE(n_existing, 0) = 0 THEN -1"
            " ELSE COALESCE(n_new, 0) * 10000 DIV n_existing END AS BIGINT)"
        ).alias("growth_bp"),
    )


# ---------------------------------------------------------------------------
# q201 — metadata-FILTERED ANN search (post-filter over the IVF index)
# ---------------------------------------------------------------------------
_FILT_LABEL = 3


@query(
    "q201_filtered_ann",
    oracle=f"""
    WITH {_sql_kmeans_cents()},
    cent AS (
      SELECT cid, c_emb, {_sql_norm('c_emb')} AS c_norm
      FROM c{_IVF_ROUNDS}
    ),
    asg AS (
      SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_dot('e.embedding', 'c.c_emb')} / c.c_norm DESC,
                        c.cid) AS ark
      FROM embeddings e CROSS JOIN cent c
    ),
    cells AS (
      SELECT e.vec_id, e.embedding, a.cid
      FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id AND a.ark = 1
      WHERE e.label = {_FILT_LABEL}
    ),
    pasg AS (
      SELECT q.vec_id AS query_id, q.embedding AS q_emb, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_sql_dot('q.embedding', 'c.c_emb')} / c.c_norm DESC,
                        c.cid) AS prk
      FROM embeddings q CROSS JOIN cent c
      WHERE q.vec_id < {_NQ}
    ),
    probes AS (SELECT query_id, q_emb, cid FROM pasg
               WHERE prk <= (SELECT CEIL(1.5 * SQRT(COUNT(*))) FROM cent)),
    scored AS (
      SELECT p.query_id, x.vec_id AS neighbor_id,
             {_sql_dot('p.q_emb', 'x.embedding')}
               / ({_sql_norm('p.q_emb')} * {_sql_norm('x.embedding')}) AS cosine_sim
      FROM probes p JOIN cells x ON x.cid = p.cid AND x.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine_sim, rk FROM ranked WHERE rk <= {_TOPK}
    """,
)
def q201_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED vector search — top-k among only the corpus
    vectors matching a predicate (label = 3), served from
    q65's trained IVF index with the filter applied POST-ROUTING on
    the probed cells. Filtered search is the dominant production ANN
    shape (tenant scoping, language scoping, freshness windows) and
    its failure mode is precisely this post-filter: probing nprobe
    cells sized for UNfiltered search and then discarding non-matching
    candidates shrinks the effective candidate pool by the filter's
    selectivity, so recall degrades as filters tighten. The honest
    mitigations — raise nprobe with selectivity, or partition the
    index BY the filter column (q196's layout with label as a second
    partition key) — are a probe-depth knob and a layout decision,
    not new machinery; the oracle replays training + routing + the
    filtered serve, so the semantics are value-locked while the knob
    moves.

    Scale: identical to q65 plus one scan-local predicate on the
    probed cells; with the label-partitioned layout the predicate
    becomes directory pruning and reads NOTHING outside the tenant."""
    em = load_table(spark, sf_dir, "embeddings")
    cent_df = _trained_centroids(spark, sf_dir, em)
    cells = _ivf_cells(spark, sf_dir, em, F.broadcast(cent_df))
    lab = em.select("vec_id", "label")
    cells_f = cells.join(lab, "vec_id").filter(
        F.col("label") == _FILT_LABEL
    ).select("vec_id", "embedding", "cid")
    return _ivf_serve(em, cent_df, cells_f)


# ---------------------------------------------------------------------------
# q256 — retrieval self-eval harness (known-item recall, two retrievers)
# ---------------------------------------------------------------------------
# Every 25th document is a known-item probe: the lexical retriever
# queries with the distinct of the doc's first 6 tokens, the vector retriever
# with a deterministically perturbed copy of the doc's embedding (dim j
# scaled by (95 + (7j mod 11))/100 — ±5%, so self-rank is earned, not
# an identity artifact). Rank of the source doc under each retriever ->
# hit@1 / hit@3 / floor-reciprocal-rank — all integers.
from ecowatt_etl_spark.operators.text import (  # noqa: E402
    SQL_TOKENS as _SQL_TOKENS,
)

_EVAL_STRIDE = 25
_EVAL_TERMS = 6
# The eval set must be BOUNDED to stay a benchmark: a bare stride
# grows with the corpus (20k probes at 100× — and probes × candidates
# is then quadratic; measured as a 10-minute straggler in the r8
# execution sweep). Cap at the first 200 stride hits — identical
# probe set at and below the sf0.1 gate scale (5000 docs), constant
# at any larger corpus, deterministic everywhere.
_EVAL_MAX_ID = _EVAL_STRIDE * 200


def _sql_perturb(e: str) -> str:
    return (
        f"list_transform(generate_series(1, 64), "
        f"i -> CAST({e}[i] AS DOUBLE)"
        f" * CAST(95 + (i * 7) % 11 AS DOUBLE) / 100.0)"
    )


@query(
    "q256_retrieval_self_eval",
    oracle=f"""
    WITH qt AS (
      SELECT doc_id AS qid,
             list_distinct(({_SQL_TOKENS})[1:{_EVAL_TERMS}]) AS terms
      FROM documents
      WHERE doc_id % {_EVAL_STRIDE} = 0 AND doc_id < {_EVAL_MAX_ID}
    ),
    cand AS (
      SELECT doc_id, list_distinct({_SQL_TOKENS}) AS ctoks FROM documents
    ),
    lexsc AS (
      SELECT qt.qid, c.doc_id,
             len(list_intersect(qt.terms, c.ctoks)) AS s
      FROM qt CROSS JOIN cand c
    ),
    lexself AS (SELECT qid, s AS self_s FROM lexsc WHERE doc_id = qid),
    lexsrc AS (
      SELECT l.qid,
             1 + SUM(CASE WHEN l.s > e.self_s
                            OR (l.s = e.self_s AND l.doc_id < l.qid)
                          THEN 1 ELSE 0 END) AS rk
      FROM lexsc l JOIN lexself e USING (qid) GROUP BY l.qid
    ),
    qv AS (
      SELECT vec_id AS qid, {_sql_perturb("embedding")} AS q_emb
      FROM embeddings
      WHERE vec_id % {_EVAL_STRIDE} = 0 AND vec_id < {_EVAL_MAX_ID}
    ),
    vecsc AS (
      SELECT qv.qid, c.vec_id AS doc_id,
             {_sql_dot("qv.q_emb", "c.embedding")}
               / ({_sql_norm("qv.q_emb")}
                  * {_sql_norm("c.embedding")}) AS s
      FROM qv CROSS JOIN embeddings c
    ),
    vecself AS (SELECT qid, s AS self_s FROM vecsc WHERE doc_id = qid),
    vecsrc AS (
      SELECT v.qid,
             1 + SUM(CASE WHEN v.s > e.self_s
                            OR (v.s = e.self_s AND v.doc_id < v.qid)
                          THEN 1 ELSE 0 END) AS rk
      FROM vecsc v JOIN vecself e USING (qid) GROUP BY v.qid
    )
    SELECT 'lexical' AS retriever,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hit1,
           CAST(SUM(CASE WHEN rk <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS hit3,
           CAST(SUM(1000 // rk) AS BIGINT) AS rr_milli_sum
    FROM lexsrc
    UNION ALL
    SELECT 'vector', COUNT(*),
           CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN rk <= 3 THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(1000 // rk) AS BIGINT)
    FROM vecsrc
    """,
)
def q256_retrieval_self_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval EVAL harness — the offline known-item benchmark a
    search/RAG stack runs before shipping an index change: probe
    queries derived from corpus items themselves (header note), rank
    the source item under each retriever, and report hit@1 / hit@3 /
    summed floor-reciprocal-rank per retriever. This is the
    eval-side complement to q219 (index recall vs ground truth) and
    q202 (serving-side fusion): q219 scores the INDEX, this scores
    the RETRIEVER END-TO-END, and a regression in tokenization,
    normalization, or scoring shows up here before users see it.

    Reading the numbers on THIS corpus: the vector arm recovers every
    probe at rank 1 (near-orthogonal embeddings keep self-similarity
    dominant under a ±5% perturbation), while the lexical arm recovers
    almost none — the synthetic 31-word shared vocabulary makes
    distinct-term overlap tie across most of the corpus, i.e. the
    harness correctly exposes a retriever whose signal is gone. That
    asymmetry is the point of running the eval.

    Exactness: the lexical rank is pure integer (distinct-term
    intersection size); the vector rank rides the engine's fold-exact
    cosine (q61's machinery) over a perturbed query built from the
    same literal expression in both engines; ranks, hits, and the
    floor-divided reciprocal sum are integers end to end.

    Scale: probes broadcast (a bounded eval sample, like every
    benchmark set); candidate scoring is one corpus pass per
    retriever; the source rank is 1 + a COUNT of strictly-better
    candidates (one conditional aggregate over the scored stream —
    never a corpus-wide sort window per probe), with the 20-row
    self-score frame broadcast. At 100 TB the vector arm routes through the trained IVF
    serve path (q65/q196) instead of the exact scan — the harness
    itself is retriever-agnostic."""
    # spread the compressed-parquet scan to full parallelism: the
    # lexical arm tokenizes every candidate against every probe, and
    # an under-split scan serializes it on a straggler (measured
    # 13-done+1-running for ~18 min at 100× before this line)
    d = spread_to_parallelism(load_table(spark, sf_dir, "documents"))
    from ecowatt_etl_spark.operators.text import tokens

    toks = tokens("text")
    qt = d.filter(
        (F.col("doc_id") % _EVAL_STRIDE == 0)
        & (F.col("doc_id") < _EVAL_MAX_ID)
    ).select(
        F.col("doc_id").alias("qid"),
        F.array_distinct(F.slice(toks, 1, _EVAL_TERMS)).alias("terms"),
    )
    cand = d.select("doc_id", F.array_distinct(toks).alias("ctoks"))
    lex_score = F.size(F.array_intersect(F.col("terms"), F.col("ctoks")))
    # rank of the source = 1 + count of strictly-better candidates
    # (score desc, doc_id asc tie-break) — one conditional aggregate
    # over the scored stream; no corpus-wide sort window (the
    # Sort+Window form pays O(N log N) per probe for one kept row)
    lex_scored = cand.crossJoin(F.broadcast(qt)).select(
        "qid", "doc_id", lex_score.alias("s")
    )
    lex_self = F.broadcast(
        qt.join(cand, F.col("qid") == F.col("doc_id")).select(
            "qid", lex_score.alias("self_s")
        )
    )
    better = F.when(
        (F.col("s") > F.col("self_s"))
        | ((F.col("s") == F.col("self_s")) & (F.col("doc_id") < F.col("qid"))),
        1,
    ).otherwise(0)
    lexsrc = (
        lex_scored.join(lex_self, "qid")
        .groupBy("qid")
        .agg((F.lit(1) + F.sum(better)).alias("rk"))
    )

    em = spread_to_parallelism(load_table(spark, sf_dir, "embeddings"))
    perturb = F.transform(
        F.col("embedding"),
        lambda x, i: x.cast("double")
        * ((i + 1) * 7 % 11 + 95).cast("double")
        / F.lit(100.0),
    )
    qv = em.filter(
        (F.col("vec_id") % _EVAL_STRIDE == 0)
        & (F.col("vec_id") < _EVAL_MAX_ID)
    ).select(
        F.col("vec_id").alias("qid"),
        perturb.alias("q_emb"),
        l2_norm(perturb).alias("q_nrm"),
    )
    # per-vector norms (q61's rework): each corpus vector scores
    # against N/25 eval queries, so hoisting its norm out of the pair
    # expression cuts per-pair arithmetic 3x. Bit-identical:
    # cosine() IS try_divide(dot, l2(a)*l2(b)) in this order.
    vec_scored = em.withColumn("c_nrm", l2_norm(F.col("embedding"))).crossJoin(
        F.broadcast(qv)
    ).select(
        "qid",
        F.col("vec_id").alias("doc_id"),
        F.try_divide(
            dot_fold(F.col("q_emb"), F.col("embedding")),
            F.col("q_nrm") * F.col("c_nrm"),
        ).alias("s"),
    )
    vec_self = F.broadcast(
        qv.join(em, F.col("qid") == F.col("vec_id")).select(
            "qid",
            F.try_divide(
                dot_fold(F.col("q_emb"), F.col("embedding")),
                F.col("q_nrm") * l2_norm(F.col("embedding")),
            ).alias("self_s"),
        )
    )
    vecsrc = (
        vec_scored.join(vec_self, "qid")
        .groupBy("qid")
        .agg((F.lit(1) + F.sum(better)).alias("rk"))
    )

    def _summary(src: DataFrame, label: str) -> DataFrame:
        return src.agg(
            F.lit(label).alias("retriever"),
            F.count("*").cast("long").alias("n_queries"),
            F.sum(F.when(F.col("rk") == 1, 1).otherwise(0))
            .cast("long")
            .alias("hit1"),
            F.sum(F.when(F.col("rk") <= 3, 1).otherwise(0))
            .cast("long")
            .alias("hit3"),
            F.sum(F.expr("1000 DIV rk")).cast("long").alias("rr_milli_sum"),
        )

    return _summary(lexsrc, "lexical").unionByName(_summary(vecsrc, "vector"))


# ---------------------------------------------------------------------------
# q266 — exact embedding covariance sums (the distributed Gram reduce)
# ---------------------------------------------------------------------------
_COV_SCALE = 1_000_000  # fixed-point quantization, the q87/q88 discipline


@query(
    "q266_embedding_covariance",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, i - 1 AS i,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {_COV_SCALE})
                  AS BIGINT) AS xq
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
    )
    SELECT a.i AS i, b.i AS j,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(a.xq) AS BIGINT) AS sum_x,
           CAST(SUM(b.xq) AS BIGINT) AS sum_y,
           CAST(SUM(CAST(a.xq AS HUGEINT) * b.xq) AS VARCHAR) AS sum_xy
    FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2
    """,
)
def q266_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT COVARIANCE SUFFICIENT STATISTICS over the embedding corpus
    — the distributed Gram/second-moment reduce behind PCA, whitening,
    and OPQ rotation training: for every dimension pair i <= j, the
    corpus size and the exact fixed-point sums (Σx_i, Σx_j, Σx_i·x_j),
    from which cov(i,j) = (n·Σxy − Σx·Σy) / (n²·SCALE²) follows in
    exact integer arithmetic. 64 dims → 2080 upper-triangle rows
    whatever the corpus size: the classic all-data-to-tiny-matrix
    reduce.

    Spark-first shape: posexplode to (vec_id, i, xq) — 8-byte values,
    the float payload is dropped at the scan — then ONE co-partitioned
    self-join on vec_id (both sides the same exploded frame, so the
    exchange is reused, and the join fan-out is the fixed 64×64 per
    vector, linear in rows) and ONE hash aggregate keyed by the 2080
    (i, j) pairs with map-side partials. At petabyte rows the
    throughput variant is :func:`embedding_covariance_numpy` (one BLAS
    X.T@X per Arrow batch, 2080-row partials); it is NOT bit-stable
    across partition orders, so this fixed-point form is the
    verification-grade truth it is tolerance-checked against every
    round (bench extras q266_numpy_cov_max_abs_diff; per-decade
    timings in SCALE.md).

    Exactness: FLOOR(x·1e6) int64 quantization (the q87/q88 k-means
    discipline — floor has no rounding-mode ambiguity cross-engine);
    products summed as decimal(38,0) (order-free), published as
    strings (DuckDB's HUGEINT sum renders identically; the q176
    dtype lesson)."""
    em = load_table(spark, sf_dir, "embeddings")
    e = (
        spread_to_parallelism(em)
        .select("vec_id", F.posexplode("embedding").alias("i", "x"))
        .select(
            "vec_id",
            "i",
            F.floor(F.col("x").cast("double") * _COV_SCALE)
            .cast("long")
            .alias("xq"),
        )
    )
    a, b = e.alias("a"), e.alias("b")
    pairs = a.join(
        b,
        (F.col("a.vec_id") == F.col("b.vec_id"))
        & (F.col("a.i") <= F.col("b.i")),
    )
    return pairs.groupBy(
        F.col("a.i").alias("i"), F.col("b.i").alias("j")
    ).agg(
        F.count("*").alias("n"),
        F.sum("a.xq").alias("sum_x"),
        F.sum("b.xq").alias("sum_y"),
        F.sum((F.col("a.xq") * F.col("b.xq")).cast("decimal(38,0)"))
        .cast("string")
        .alias("sum_xy"),
    )


def embedding_covariance_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q266's THROUGHPUT arm (r7 verdict item 4): per-Arrow-batch numpy
    Gram partials via mapInPandas — one X.T @ X per batch instead of a
    64x-fan-out self-join, the shape a petabyte corpus wants because
    the matmul runs at BLAS speed and only 2080-row partials ever
    shuffle. float64 partial sums are NOT bit-stable across partition
    orders, so this arm is tolerance-checked against the fixed-point
    truth arm: bench extras publish the max-abs covariance difference
    per round (q63/q91 treatment) and SCALE.md the per-decade timing.
    Returns the same (i, j, n, sum_x, sum_y, sum_xy) sufficient
    statistics, unquantized doubles."""
    import numpy as np
    import pandas as pd

    em = load_table(spark, sf_dir, "embeddings").select("embedding")

    def gram(batches):
        n_tot, s, g, iu = 0, None, None, None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            if s is None:
                d = x.shape[1]
                iu = np.triu_indices(d)
                s = np.zeros(d)
                g = np.zeros((d, d))
            n_tot += x.shape[0]
            s += x.sum(axis=0)
            g += x.T @ x
        if s is None:
            return
        yield pd.DataFrame(
            {
                "i": iu[0].astype("int32"),
                "j": iu[1].astype("int32"),
                "n": np.int64(n_tot),
                "sum_x": s[iu[0]],
                "sum_y": s[iu[1]],
                "sum_xy": g[iu],
            }
        )

    partials = em.mapInPandas(
        gram, "i int, j int, n long, sum_x double, sum_y double, sum_xy double"
    )
    return partials.groupBy("i", "j").agg(
        F.sum("n").alias("n"),
        F.sum("sum_x").alias("sum_x"),
        F.sum("sum_y").alias("sum_y"),
        F.sum("sum_xy").alias("sum_xy"),
    )


def covariance_arms_max_abs_diff(spark: SparkSession, sf_dir: str) -> float:
    """Max absolute difference between the covariance matrices implied
    by q266's fixed-point truth arm and the numpy throughput arm —
    cov(i,j) = (n·Σxy − Σx·Σy) / n² (truth sums descaled by SCALE²).
    Bounds quantization (±1e-6 per value) plus float fold-order error;
    published per round in bench extras."""
    truth = {
        (r["i"], r["j"]): (r["n"], r["sum_x"], r["sum_y"], int(r["sum_xy"]))
        for r in q266_embedding_covariance(spark, sf_dir).collect()
    }
    fast = {
        (r["i"], r["j"]): (r["n"], r["sum_x"], r["sum_y"], r["sum_xy"])
        for r in embedding_covariance_numpy(spark, sf_dir).collect()
    }
    assert truth.keys() == fast.keys()
    worst = 0.0
    sc2 = float(_COV_SCALE) ** 2
    for k, (n, sx, sy, sxy) in truth.items():
        cov_t = (n * sxy - sx * sy) / (n * n * sc2)
        fn, fsx, fsy, fsxy = fast[k]
        cov_f = (fn * fsxy - fsx * fsy) / (fn * fn)
        worst = max(worst, abs(cov_t - cov_f))
    return worst
