"""Deduplication queries over `documents` — exact, MinHash+LSH,
SimHash, n-gram Jaccard. All hash-verified against DuckDB oracles that
replay the identical portable arithmetic (operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ecowatt_etl_spark.cache import ArtifactCache
from ecowatt_etl_spark.operators.dedup import (
    BAND_ROWS,
    LSH_BUCKET_CAP,
    LSH_CAP_RATIO,
    MINHASH_A,
    MINHASH_B,
    N_HASHES,
    hamming32,
    jaccard,
    lsh_bands,
    minhash_from_hashes,
    minhash_signatures,
    normalized_text,
    shingle_hashes,
    shingles,
    simhash_signatures,
)
from ecowatt_etl_spark.operators.text import HASH_PRIME
from ecowatt_etl_spark.queries.registry import query
from ecowatt_etl_spark.sources.tables import load_table

# ---- shared SQL fragments (DuckDB) ----------------------------------------
_SQL_W = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_SQL_HASH_X = f"CAST(concat('0x', substring(md5(x), 1, 15)) AS BIGINT) % {HASH_PRIME}"
_SQL_HASH_S = f"CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) % {HASH_PRIME}"
_SQL_SHINGLES = f"""
    list_distinct(
      CASE WHEN len({_SQL_W}) >= 3
           THEN list_transform(generate_series(1, len({_SQL_W}) - 2),
                               i -> {_SQL_W}[i] || ' ' || {_SQL_W}[i+1] || ' ' || {_SQL_W}[i+2])
           ELSE [array_to_string({_SQL_W}, ' ')] END)
"""
# exploded (doc_id, shingle-hash) rows — the shared base of every
# signature oracle
_SQL_E = f"""
    SELECT doc_id, {_SQL_HASH_S} AS h
    FROM (SELECT doc_id, UNNEST({_SQL_SHINGLES}) AS s FROM documents)
"""


# Session-scoped materialized shingle/band index — the engine-side
# analogue of the maintained ingest-time artifact every dedup query
# would read in production (band index paid once at ingest, q127's
# economics; cf. the serving layer's star cache / C1 result cache).
# Nine queries (q53/q57/q59/q89/q120/q121/q127/q134/q135) consume it;
# without the cache each rebuilt scan+shingle+md5+agg from scratch.
_IDX_CACHE = ArtifactCache()


def shingle_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(e, bands): checkpointed exploded (doc_id, h) rows and the LSH
    band index for the corpus at sf_dir, built once per session."""
    def build():
        e = shingle_hashes(load_table(spark, sf_dir, "documents")).localCheckpoint()
        return e, lsh_bands(minhash_from_hashes(e)).localCheckpoint()

    return _IDX_CACHE.get((spark, sf_dir), build)


_PAIRS_CACHE = ArtifactCache()


def neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VERIFIED near-dup pair table (q53's output), materialized
    once per (session, sf_dir) — the second maintained artifact of a
    dedup deployment after the band index itself: clusters (q57), the
    keep-list (q59), triangles (q89), per-source rates (q119),
    PageRank (q120), and BFS (q212) are all graph analytics OVER the
    pair table, and a deployment computes that table at ingest, not
    once per downstream job. Before this cache each consumer re-ran
    the full candidate+verify pipeline inside its own plan — six
    re-verifications per bench pass at the gate scale, and at 100x
    six repetitions of a ~60 s join pipeline. q53 itself deliberately
    does NOT read the cache: its bench number measures the live
    verify pipeline (over the cached index), not a checkpoint scan."""
    return _PAIRS_CACHE.get(
        (spark, sf_dir),
        lambda: q53_minhash_lsh_pairs(spark, sf_dir).localCheckpoint(),
    )


def _sql_sig(i: int) -> str:
    a, b = MINHASH_A[i], MINHASH_B[i]
    return f"MIN(({a} * h + {b}) % {HASH_PRIME}) AS sig_{i}"


_SQL_SIG_AGG = f"""
    SELECT doc_id, {", ".join(_sql_sig(i) for i in range(N_HASHES))}
    FROM e GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# q50 — exact dedup
# ---------------------------------------------------------------------------
@query(
    "q50_exact_dedup",
    oracle="""
    SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def q50_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on the raw text, keep the smallest doc_id as
    canonical (deterministic, unlike dropDuplicates' arbitrary row).
    One hash aggregate; at 100 TB group on a text hash instead — q51."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies")
    ).select("canonical_id", "n_copies")


# ---------------------------------------------------------------------------
# q51 — hash dedup on normalized text
# ---------------------------------------------------------------------------
@query(
    "q51_hash_dedup",
    oracle="""
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS text_hash,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q51_hash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup on md5 of whitespace-normalized lowercase text — the
    100 TB exact-dedup shape: the shuffle key is a 32-char digest, not
    the document body, so shuffle volume is O(rows), not O(bytes)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5(normalized_text("text")).alias("text_hash")).agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies")
    )


# ---------------------------------------------------------------------------
# q52 — MinHash signatures
# ---------------------------------------------------------------------------
@query(
    "q52_minhash_signatures",
    oracle=f"WITH e AS ({_SQL_E}) {_SQL_SIG_AGG}",
)
def q52_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature (8 fixed permutations over
    distinct 3-word shingles). Explode → md5 once per (doc, shingle)
    in codegen → one hash-agg computing all 8 mins map-side."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_signatures(d)


# ---------------------------------------------------------------------------
# q53 — MinHash LSH candidate pairs + exact-Jaccard verification
# ---------------------------------------------------------------------------
# Band index with the corpus-scaled skew cap (operators/dedup.py::
# LSH_BUCKET_CAP floor, LSH_CAP_RATIO): the QUALIFY mirrors lsh_bands'
# count-over-bucket filter exactly — GREATEST(floor, (N+7)//8) with N
# taken as a scalar subquery over the sig CTE (one row per doc), pure
# integer arithmetic on both engines — so every oracle that embeds
# this CTE replays the capped index at any corpus size.
_SQL_BANDS_RAW = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, sig_{BAND_ROWS * b} AS k1, sig_{BAND_ROWS * b + 1} AS k2 FROM sig"
    for b in range(N_HASHES // BAND_ROWS)
)
_SQL_BANDS = f"""SELECT * FROM ({_SQL_BANDS_RAW}) _raw_bands
      QUALIFY COUNT(*) OVER (PARTITION BY band, k1, k2)
        <= GREATEST(CAST({LSH_BUCKET_CAP} AS BIGINT),
                    ((SELECT COUNT(*) FROM sig) + {LSH_CAP_RATIO - 1})
                      // {LSH_CAP_RATIO})"""


_Q53_ORACLE = f"""
    WITH e AS ({_SQL_E}),
    sig AS ({_SQL_SIG_AGG}),
    bands AS ({_SQL_BANDS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2 AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM e GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS cnt
      FROM cand c
      JOIN e a ON a.doc_id = c.id_a
      JOIN e b ON b.doc_id = c.id_b AND b.h = a.h
      GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b,
           CAST(COALESCE(i.cnt, 0) AS DOUBLE)
             / (sa.n + sb.n - COALESCE(i.cnt, 0)) AS jaccard_sim
    FROM cand c
    LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
    JOIN sizes sa ON sa.doc_id = c.id_a
    JOIN sizes sb ON sb.doc_id = c.id_b
"""


@query("q53_minhash_lsh_pairs", oracle=_Q53_ORACLE)
def q53_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection, the full scale pipeline:
    signatures (one explode + one agg) → band bucketing → candidate
    pairs (join on short band keys) → exact-Jaccard verification on
    candidates only, computed over the exploded (doc, shingle-hash)
    rows — 8-byte join keys instead of shuffling whole shingle arrays
    per pair. The N² similarity space is never materialized; a
    candidate pair that shares a band by hash luck alone still reports
    (jaccard 0) via the left join, so LSH precision is observable.

    The exploded (doc, shingle-hash) rows and the band index are
    localCheckpoint'ed: the plan references them 5× (band self-join ×2,
    sizes, both verify arms) and Catalyst does not dedup identical lazy
    subtrees across join arms — without materialization the
    scan+shingle+md5 subtree executes per reference (measured 16
    parquet scans, 2.5× the runtime). At real scale this IS the
    design: the signature/band index is a maintained artifact the
    corpus pays for once at ingest (see q127), never per query —
    shingle_index() holds it for the session."""
    e, bands = shingle_index(spark, sf_dir)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.k1") == F.col("b.k1"))
            & (F.col("a.k2") == F.col("b.k2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    sizes = e.groupBy("doc_id").agg(F.count("*").alias("n"))
    # The verify arms join the CORPUS-sized exploded (doc, h) frame.
    # Its Catalyst size estimate is garbage — explode fan-out is not
    # modeled, and localCheckpoint PRESERVES the pre-checkpoint
    # estimate — so the optimizer happily broadcasts a frame that is
    # really corpus-sized (measured: driver OOM building e's
    # HashedRelation at 100x the gate scale). Pin spill-safe
    # sort-merge joins on both e arms: strategy only, values
    # unchanged.
    inter = (
        cand.join(e.alias("ea").hint("merge"), F.col("id_a") == F.col("ea.doc_id"))
        .join(
            e.alias("eb").hint("merge"),
            (F.col("id_b") == F.col("eb.doc_id")) & (F.col("ea.h") == F.col("eb.h")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        cand.join(inter, ["id_a", "id_b"], "left")
        .na.fill({"cnt": 0})
        .join(sizes.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("cnt").cast("double")
                / (F.col("sa.n") + F.col("sb.n") - F.col("cnt"))
            ).alias("jaccard_sim"),
        )
    )


# ---------------------------------------------------------------------------
# q54 — n-gram Jaccard via distributed inverted index (exact on the
# df-capped shingle sets)
# ---------------------------------------------------------------------------
_DF_CAP = 50  # drop shingles appearing in more than this many docs


@query(
    "q54_ngram_jaccard_pairs",
    oracle=f"""
    WITH e AS ({_SQL_E}),
    keep AS (SELECT h FROM e GROUP BY h HAVING COUNT(*) <= {_DF_CAP}),
    e2 AS (SELECT e.doc_id, e.h FROM e JOIN keep USING (h)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM e2 GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM e2 a JOIN e2 b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard_sim
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.2
    """,
)
def q54_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ 0.2 via an inverted shingle index:
    explode → drop hot shingles (document frequency > 50) → self-join
    on the shingle hash → per-pair intersection counts. The df cap is
    the standard guard that keeps the join's Σ df² cost linear-ish:
    a shingle shared by half the corpus contributes nothing to
    discrimination but n²/4 join rows. Jaccard is computed over the
    capped sets (sizes and intersections both post-cap, so the metric
    is self-consistent); the join/shuffle key is the 8-byte hash, not
    the shingle string. The capped index e2 is localCheckpoint'ed —
    it feeds the self-join (both arms) plus the sizes aggregate, and
    Catalyst doesn't dedup identical lazy subtrees across join arms
    (same economics as q53's materialized index)."""
    e, _ = shingle_index(spark, sf_dir)
    keep = e.groupBy("h").agg(F.count("*").alias("df")).filter(
        F.col("df") <= _DF_CAP
    ).select("h")
    e2 = e.join(keep, "h").localCheckpoint()
    sizes = e2.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = e2.alias("a"), e2.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("c"))
    )
    sim = (
        inter.join(sizes.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("c").cast("double")
                / (F.col("sa.n") + F.col("sb.n") - F.col("c"))
            ).alias("jaccard_sim"),
        )
    )
    return sim.filter(F.col("jaccard_sim") >= 0.2)


# ---------------------------------------------------------------------------
# q278 — asymmetric containment (subset-duplication) pairs
# ---------------------------------------------------------------------------
_CONT_T_BP = 5000  # report pairs where >=50% of the smaller set is shared


@query(
    "q278_containment_dedup",
    oracle=f"""
    WITH e AS ({_SQL_E}),
    keep AS (SELECT h FROM e GROUP BY h HAVING COUNT(*) <= {_DF_CAP}),
    e2 AS (SELECT e.doc_id, e.h FROM e JOIN keep USING (h)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM e2 GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM e2 a JOIN e2 b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT CASE WHEN sa.n < sb.n OR (sa.n = sb.n AND id_a < id_b)
                THEN id_a ELSE id_b END AS sub_id,
           CASE WHEN sa.n < sb.n OR (sa.n = sb.n AND id_a < id_b)
                THEN id_b ELSE id_a END AS sup_id,
           CAST(LEAST(sa.n, sb.n) AS BIGINT) AS n_sub,
           CAST(GREATEST(sa.n, sb.n) AS BIGINT) AS n_sup,
           CAST(c * 10000 // LEAST(sa.n, sb.n) AS BIGINT) AS containment_bp
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE c * 10000 // LEAST(sa.n, sb.n) >= {_CONT_T_BP}
    """,
)
def q278_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs (Broder's C(A,B) = |A∩B| / |A|):
    the subset-duplication detector symmetric Jaccard structurally
    misses — a document fully embedded in one 10× its size has
    Jaccard ≤ 0.1 (never crosses q54's 0.2 bar) but containment 1.0,
    and quote-expansion / boilerplate-wrapping / version-append dups
    are exactly that shape. Reports (sub, sup) with containment of the
    SMALLER shingle set ≥ 50%, in exact integer basis points
    (c·10000 DIV n_sub — both engines floor-divide, no float compare).

    Scale shape is q54's inverted-index economics unchanged: hot
    shingles (df > {_DF_CAP}) dropped before the self-join so Σ df²
    stays linear-ish, the join/shuffle key is the 8-byte shingle hash,
    and the capped index is localCheckpoint'ed once for its three
    consumers (both self-join arms + sizes). The direction CASE is
    post-aggregation projection work on the pair frame — containment
    adds nothing to the join cost over symmetric Jaccard."""
    e, _ = shingle_index(spark, sf_dir)
    keep = (
        e.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _DF_CAP)
        .select("h")
    )
    e2 = e.join(keep, "h").localCheckpoint()
    sizes = e2.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = e2.alias("a"), e2.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("c"))
    )
    a_is_sub = (F.col("sa.n") < F.col("sb.n")) | (
        (F.col("sa.n") == F.col("sb.n")) & (F.col("id_a") < F.col("id_b"))
    )
    return (
        inter.join(sizes.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
        .select(
            F.when(a_is_sub, F.col("id_a")).otherwise(F.col("id_b")).alias("sub_id"),
            F.when(a_is_sub, F.col("id_b")).otherwise(F.col("id_a")).alias("sup_id"),
            F.least("sa.n", "sb.n").alias("n_sub"),
            F.greatest("sa.n", "sb.n").alias("n_sup"),
            F.expr("c * 10000").alias("__c4"),
        )
        .withColumn("containment_bp", F.expr("__c4 DIV n_sub"))
        .filter(F.col("containment_bp") >= _CONT_T_BP)
        .drop("__c4")
    )


# ---------------------------------------------------------------------------
# q55 — SimHash signatures
# ---------------------------------------------------------------------------
# SimHash features are the SAME distinct word-shingle hashes as the
# MinHash family (_SQL_E) — shingles carry local order, so
# vocabulary-multiset twins (template permutations; the scale
# generator's stride-permuted replicas) do not collide. See
# operators/dedup.py::simhash_signatures.
_SQL_SIMHASH_AGG = (
    "SELECT doc_id, ("
    + " + ".join(
        f"CASE WHEN SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0"
        f" THEN CAST({2**j} AS BIGINT) ELSE 0 END"
        for j in range(32)
    )
    + ") AS simhash FROM th GROUP BY doc_id"
)


@query(
    "q55_simhash",
    oracle=f"WITH th AS ({_SQL_E}) {_SQL_SIMHASH_AGG}",
)
def q55_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document over distinct word-shingle hashes:
    explode shingles → md5 once per (doc, shingle) → one aggregate
    computing all 32 signed bit-sums (commutative, so
    order-independent) → recombine into the signature. Shingle
    features, not unigram tokens — see simhash_signatures for why the
    unigram form collides on vocabulary-multiset twins. Near-dup =
    small Hamming distance; pairing happens in q56."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_signatures(d)


# ---------------------------------------------------------------------------
# q56 — SimHash near-dup pairs via byte-band blocking
# ---------------------------------------------------------------------------
# Band-PAIR blocking (16-bit keys): hamming ≤ 2 over 4 byte-bands
# leaves ≥ 2 bands clean (pigeonhole), so every true pair agrees
# exactly on at least one of the 6 band PAIRS. Single-band 8-bit
# blocking has only 256 buckets per band — bucket size grows ∝ N and
# candidate pairs ∝ N²/256 (measured: task-level heap OOM at 100×,
# 609 s in); the 65536-bucket pair keys cut candidates 256× with zero
# recall loss for the d ≤ 2 bar.
_SIMHASH_BAND_PAIRS = [(i, j) for i in range(4) for j in range(i + 1, 4)]
_SQL_SIMHASH_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, simhash, {p} AS band, "
    f"((simhash >> {8 * i}) & 255) * 256 + ((simhash >> {8 * j}) & 255) AS bkey "
    f"FROM s"
    for p, (i, j) in enumerate(_SIMHASH_BAND_PAIRS)
)


@query(
    "q56_simhash_neardup",
    oracle=f"""
    WITH th AS ({_SQL_E}),
    s AS ({_SQL_SIMHASH_AGG}),
    bands AS ({_SQL_SIMHASH_BANDS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, a.simhash AS sim_a,
                      b.doc_id AS id_b, b.simhash AS sim_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, bit_count(xor(sim_a, sim_b)) AS hamming
    FROM cand
    WHERE bit_count(xor(sim_a, sim_b)) <= 2
    """,
)
def q56_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 2 of 32) blocked on band
    PAIRS: d ≤ 2 differing bits over 4 byte-bands leaves at least 2
    bands untouched, so every true pair agrees exactly on ≥ 1 of the
    6 band pairs — pigeonhole LSH for Hamming space, one rung up from
    single-band blocking. The single-band form is a measured
    scale-killer: 8-bit bands give a CONSTANT 256 buckets, so bucket
    occupancy grows ∝ N and the self-join's candidate volume ∝ N²/256
    (100×: task heap OOM after 609 s). 16-bit pair keys make that
    N²/65536 — 256× fewer candidates at identical recall, 9.3 s at
    100×. Same asymptote honesty as the LSH cap: candidates are still
    quadratic-in-the-limit because the key space is fixed; at 10B
    docs the production design grows the signature itself (64-bit
    SimHash, 4×16-bit bands — Manku et al.'s near-duplicate detection
    for web crawling), which is this same scheme with wider bands.
    The signature aggregate is computed once and its exchange reused
    on both sides of the band self-join."""
    d = load_table(spark, sf_dir, "documents")
    s = simhash_signatures(d)
    bands = s.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("band"),
                        (
                            F.shiftright("simhash", 8 * i).bitwiseAND(F.lit(255))
                            * 256
                            + F.shiftright("simhash", 8 * j).bitwiseAND(F.lit(255))
                        ).alias("bkey"),
                    )
                    for p, (i, j) in enumerate(_SIMHASH_BAND_PAIRS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.band", "b.bkey")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return cand.select(
        "id_a", "id_b", hamming32(F.col("sim_a"), F.col("sim_b")).alias("hamming")
    ).filter(F.col("hamming") <= 2)


# ---------------------------------------------------------------------------
# q57 — dedup clusters: connected components over near-dup pairs
# ---------------------------------------------------------------------------
_CLUSTER_T = 0.5  # jaccard edge threshold
_LP_MAX_ROUNDS = 20  # label-propagation bound ≈ max near-dup chain diameter


# Shared recursive-CTE fixpoint over the near-dup graph (q57's oracle
# core, reused by q59's keep-list).
_Q57_CTE = f"""
    WITH RECURSIVE pairs AS ({_Q53_ORACLE}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs WHERE jaccard_sim >= {_CLUSTER_T}
      UNION ALL
      SELECT id_b, id_a FROM pairs WHERE jaccard_sim >= {_CLUSTER_T}
    ),
    verts AS (SELECT DISTINCT src AS id FROM edges),
    reach AS (
      SELECT id, id AS lbl FROM verts
      UNION
      SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
    )
"""


@query(
    "q57_dedup_clusters",
    oracle=_Q57_CTE
    + "SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id",
)
def q57_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup CLUSTERS, not just pairs: connected components over the
    near-dup graph (MinHash-LSH pairs with verified Jaccard ≥ 0.5),
    labeling every clustered doc with the smallest doc_id reachable
    from it — the canonical-document assignment a curation pipeline
    actually keeps.

    Iterative min-label propagation: each round, every vertex takes the
    min of its own and its neighbors' labels; converges in
    graph-diameter rounds (each round one join + one aggregate,
    distributed — no driver-side graph). localCheckpoint truncates the
    lineage per round, the standard guard against plan blowup in
    iterative Spark algorithms. The DuckDB oracle computes the same
    fixpoint declaratively with a recursive CTE — an iterative
    distributed algorithm with an EXACT cross-engine check."""
    pairs = neardup_pairs(spark, sf_dir).filter(
        F.col("jaccard_sim") >= _CLUSTER_T
    )
    fwd = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    rev = pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    edges = fwd.union(rev).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .select("id", F.col("id").alias("lbl"))
        .localCheckpoint()
    )
    converged = False
    # labels only ever DECREASE (min-propagation), so the label sum
    # is strictly monotone until the fixpoint: an unchanged sum is a
    # complete convergence proof, and one tiny aggregate per round
    # replaces the old-vs-new equi-join change check.
    lbl_sum = labels.agg(F.sum("lbl")).collect()[0][0]
    for _ in range(_LP_MAX_ROUNDS):
        neigh = (
            labels.join(edges, labels["id"] == edges["src"])
            .select(F.col("dst").alias("id"), "lbl")
        )
        new_labels = (
            labels.union(neigh).groupBy("id").agg(F.min("lbl").alias("lbl"))
        ).localCheckpoint()
        new_sum = new_labels.agg(F.sum("lbl")).collect()[0][0]
        labels = new_labels
        if new_sum == lbl_sum:
            converged = True
            break
        lbl_sum = new_sum
    if not converged:
        # an unconverged fixpoint silently diverges from the
        # recursive-CTE oracle — fail loudly instead
        raise RuntimeError(
            f"q57 label propagation did not converge within "
            f"{_LP_MAX_ROUNDS} rounds (graph diameter exceeds bound); "
            f"raise _LP_MAX_ROUNDS"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("lbl").alias("cluster_id"))


# ---------------------------------------------------------------------------
# q283 — connected components with pointer-jumping shortcuts
# ---------------------------------------------------------------------------
_SC_MAX_ROUNDS = 25  # ~2^25 diameter headroom — the bound is on log2(d)


def _shortcut_cc(edges: DataFrame) -> DataFrame:
    """Min-label connected components with pointer-jumping shortcuts
    over a symmetric (src, dst) edge frame. Each round: neighbor-min
    propagation, then l(v) ← l(l(v)) path halving — O(log diameter)
    rounds, same fixpoint as plain min-propagation (q57), proved by
    the monotone label-sum argument (labels only decrease; a stable
    sum means neither step improved any label, which is q57's
    fixpoint condition). Returns (id, lbl) = (vertex, component min).
    Shared by q283 (full graph) and q284 (star-contracted incremental
    graph)."""
    edges = edges.localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .select("id", F.col("id").alias("lbl"))
        .localCheckpoint()
    )
    lbl_sum = labels.agg(F.sum("lbl")).collect()[0][0]
    for _ in range(_SC_MAX_ROUNDS):
        neigh = (
            labels.join(edges, labels["id"] == edges["src"])
            .select(F.col("dst").alias("id"), "lbl")
        )
        mins = (
            labels.union(neigh).groupBy("id").agg(F.min("lbl").alias("lbl"))
        )
        # shortcut: l(v) <- l(l(v)). Every label IS a vertex id
        # (min-seeded), so the lookup join always hits. The lookup
        # side is column-renamed (not aliased) — a self-join of
        # the identical plan through alias() trips attribute
        # dedup in the optimizer.
        lut = mins.select(
            F.col("id").alias("jid"), F.col("lbl").alias("jlbl")
        )
        jump = (
            mins.join(lut, mins["lbl"] == lut["jid"])
            .select("id", F.col("jlbl").alias("lbl"))
        )
        labels = jump.localCheckpoint()
        new_sum = labels.agg(F.sum("lbl")).collect()[0][0]
        if new_sum == lbl_sum:
            return labels
        lbl_sum = new_sum
    raise RuntimeError(
        f"shortcut propagation did not converge within "
        f"{_SC_MAX_ROUNDS} rounds; raise _SC_MAX_ROUNDS"
    )


def _sym_edges(pairs: DataFrame) -> DataFrame:
    """Both directions of a verified pair frame as (src, dst)."""
    fwd = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    rev = pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    return fwd.union(rev)


@query(
    "q283_shortcut_clusters",
    oracle=_Q57_CTE
    + "SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id",
)
def q283_shortcut_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q57's connected components computed in O(log diameter) rounds
    instead of O(diameter): each round does the same neighbor-min
    propagation AND a pointer-jumping shortcut l(v) ← l(l(v)) — one
    extra self-join on the (small) label frame that halves every label
    chain (Shiloach–Vishkin's shortcutting step; the same idea as the
    alternating large/small-star MapReduce algorithm). Labels only
    ever decrease (l(x) ≤ x from min-seeding, so l(l(v)) ≤ l(v) and
    both steps are monotone), the label sum is a complete convergence
    proof exactly as in q57, and the fixpoint is identical — a stable
    sum means no neighbor improves any label, which is q57's fixpoint
    condition — so this registers under q57's VERBATIM oracle and a
    pytest pins both kernels bit-identical on chain graphs.

    Why it exists at 100 TB: near-dup chains in boilerplate-heavy
    corpora (versioned documents A≈B≈C≈…) give the pair graph a
    diameter that grows with the corpus, and q57's round count — each
    round a full join + aggregate + checkpoint — grows with it; a
    3000-link chain is 3000 q57 rounds but ~12 shortcut rounds
    (measured on a synthetic chain in tests). The trade is one extra
    labels⋈labels join per round — both sides the bounded label frame
    (|clustered docs| rows, never the corpus), so rounds cost ~2× and
    the round COUNT collapses exponentially."""
    pairs = neardup_pairs(spark, sf_dir).filter(
        F.col("jaccard_sim") >= _CLUSTER_T
    )
    labels = _shortcut_cc(_sym_edges(pairs))
    return labels.select(F.col("id").alias("doc_id"), F.col("lbl").alias("cluster_id"))


# ---------------------------------------------------------------------------
# q284 — incremental cluster maintenance (star-contracted CC per batch)
# ---------------------------------------------------------------------------
_INC_MOD = 10  # doc_id % 10 == 0 plays the "newly ingested batch" (q127)


@query(
    "q284_incremental_clusters",
    oracle=_Q57_CTE
    + f"""
    , old_edges AS (
      SELECT src, dst FROM edges
      WHERE src % {_INC_MOD} != 0 AND dst % {_INC_MOD} != 0
    ),
    old_verts AS (SELECT DISTINCT src AS id FROM old_edges),
    old_reach AS (
      SELECT id, id AS lbl FROM old_verts
      UNION
      SELECT e.dst AS id, r.lbl FROM old_reach r JOIN old_edges e ON e.src = r.id
    ),
    full_c AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
    old_c AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM old_reach GROUP BY id)
    SELECT f.doc_id, f.cluster_id,
           CASE WHEN f.doc_id % {_INC_MOD} = 0 THEN 'new'
                WHEN o.cluster_id IS NULL THEN 'attached'
                WHEN o.cluster_id = f.cluster_id THEN 'unchanged'
                ELSE 'relabeled' END AS status
    FROM full_c f LEFT JOIN old_c o ON o.doc_id = f.doc_id
    """,
)
def q284_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster MAINTENANCE, not recompute: merge an arriving batch
    (q127's doc_id % 10 convention) into the standing corpus's
    dedup clusters by running connected components over the
    STAR-CONTRACTED graph — each maintained cluster collapses to
    (member → label) star edges, and only the batch's verified pairs
    (q127's new-new + new-old edges) are real graph work. The oracle
    is the full-recompute fixpoint over ALL pairs, so the driver's
    value gate PROVES contraction-equals-recompute rather than
    trusting the algebra: every old component is label-connected
    through its star, a bridging new doc merges two stars exactly as
    it would merge the underlying components, and min-labels agree
    because a cluster's label is itself a member. Each doc also
    reports its maintenance status — 'new' (batch), 'attached' (old
    doc clustered for the first time), 'relabeled' (its component
    merged; downstream split/keep decisions must re-run — exactly
    q282's reassignment set), 'unchanged'.

    Scale shape: per-batch cost is |star edges| = |maintained
    clustered docs| (slim 16-byte rows, the persisted cluster-map
    artifact a deployment already stores) + |batch pairs| — the
    corpus-sized pair discovery never re-runs (q127's index-probe
    economics), and the contracted graph's diameter is ~2 (star) + a
    hop per bridging doc, so the shortcut kernel converges in 2–3
    rounds regardless of how deep the ORIGINAL near-dup chains were.
    Here both arms derive from the same table so the oracle can
    replay the identical arithmetic."""
    pairs = neardup_pairs(spark, sf_dir).filter(
        F.col("jaccard_sim") >= _CLUSTER_T
    )
    a_new = F.col("id_a") % _INC_MOD == 0
    b_new = F.col("id_b") % _INC_MOD == 0
    old_pairs = pairs.filter(~a_new & ~b_new)
    new_pairs = pairs.filter(a_new | b_new)
    old_c = _shortcut_cc(_sym_edges(old_pairs)).select(
        F.col("id").alias("doc_id"), F.col("lbl").alias("old_lbl")
    )
    star = old_c.select(F.col("doc_id").alias("src"), F.col("old_lbl").alias("dst"))
    star_rev = old_c.select(
        F.col("old_lbl").alias("src"), F.col("doc_id").alias("dst")
    )
    contracted = star.union(star_rev).union(_sym_edges(new_pairs))
    inc = _shortcut_cc(contracted).select(
        F.col("id").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )
    return inc.join(old_c, "doc_id", "left").select(
        "doc_id",
        "cluster_id",
        F.when(F.col("doc_id") % _INC_MOD == 0, "new")
        .when(F.col("old_lbl").isNull(), "attached")
        .when(F.col("old_lbl") == F.col("cluster_id"), "unchanged")
        .otherwise("relabeled")
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# q58 — edit-distance near-dup (prefix-blocked Levenshtein)
# ---------------------------------------------------------------------------
_ED_BLK = 12  # normalized-prefix blocking key length
_ED_CMP = 60  # chars compared (Levenshtein is O(len²) — bound it)
_ED_T = 10  # max edit distance reported
_ED_BLK_CAP = 50  # drop blocks above this size: a boilerplate prefix
#                   shared by k docs costs k² comparisons; like q54's
#                   df cap, an undiscriminating block buys no signal


@query(
    "q58_edit_distance_neardup",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, lower(trim(text)) AS t FROM documents
    ),
    b AS (SELECT doc_id, lang,
                 substring(t, {_ED_BLK + 1}, {_ED_CMP - _ED_BLK}) AS hs,
                 left(t, {_ED_BLK}) AS blk FROM d),
    keep AS (
      SELECT lang, blk FROM b GROUP BY lang, blk HAVING COUNT(*) <= {_ED_BLK_CAP}
    ),
    b2 AS (SELECT b.* FROM b JOIN keep USING (lang, blk))
    SELECT a.doc_id AS id_a, c.doc_id AS id_b,
           levenshtein(a.hs, c.hs) AS edit_dist
    FROM b2 a JOIN b2 c ON a.lang = c.lang AND a.blk = c.blk
                       AND a.doc_id < c.doc_id
    WHERE levenshtein(a.hs, c.hs) <= {_ED_T}
    """,
)
def q58_edit_distance_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup pairs: docs in the same
    (lang, 12-char normalized prefix) block whose 60-char heads are
    within Levenshtein distance 10. Completes the dedup family with
    the edit-distance metric (catches small in-place edits that
    shingle/MinHash methods see as high Jaccard but byte-hash methods
    miss entirely). Both engines run the identical unit-cost DP, so
    distances are exact integers. Scale: the O(len²) comparison is
    bounded to 60-char heads, prefix blocking keeps the self-join at
    Σ per-block n², and blocks above ``_ED_BLK_CAP`` docs are dropped
    entirely (mirrored in the oracle) — without the cap one
    boilerplate prefix shared by k docs is a k² hot spot at scale,
    the q54 df-cap economics applied to blocks. The block key is the
    shuffle key.

    The DP itself is cut two exact ways (r10, from the 100×
    decomposition that showed 153 of q58's 159 s was DP cells):
    (1) blocked pairs share their first _ED_BLK chars and
    levenshtein(p||x, p||y) = levenshtein(x, y) for any common prefix
    p, so both engines compare the 48-char SUFFIXES (identical
    distances, mirrored in the oracle); (2) the Spark side passes the
    threshold to levenshtein(l, r, t) — a banded early-terminating DP
    returning -1 past t, so the filter keeps the identical [0, t]
    set (DuckDB has no threshold arg; it only prunes work, never
    changes kept values). Measured 153 → 81 s compute at 100× with a
    bit-identical 687,715-row result."""
    d = load_table(spark, sf_dir, "documents")
    return edit_distance_pairs(d)


def edit_distance_pairs(d: DataFrame) -> DataFrame:
    """Prefix-blocked, block-capped Levenshtein pairs over a
    ``(doc_id, lang, text)`` frame — see q58 docstring."""
    b = d.select(
        "doc_id",
        "lang",
        F.lower(F.trim("text")).alias("t"),
    ).select(
        "doc_id",
        "lang",
        # heads MINUS the shared block prefix: levenshtein is
        # prefix-invariant, so the DP runs on 48 chars, not 60
        F.substring("t", _ED_BLK + 1, _ED_CMP - _ED_BLK).alias("hs"),
        F.substring("t", 1, _ED_BLK).alias("blk"),
    )
    keep = (
        b.groupBy("lang", "blk")
        .agg(F.count("*").alias("bn"))
        .filter(F.col("bn") <= _ED_BLK_CAP)
        .select("lang", "blk")
    )
    b2 = b.join(keep, ["lang", "blk"])
    a, c = b2.alias("a"), b2.alias("c")
    return (
        a.join(
            c,
            (F.col("a.lang") == F.col("c.lang"))
            & (F.col("a.blk") == F.col("c.blk"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("c.doc_id").alias("id_b"),
            # banded DP with early termination: -1 past the threshold,
            # exact distance within it — the [0, t] filter keeps a set
            # bit-identical to the unbounded form
            F.expr(f"levenshtein(a.hs, c.hs, {_ED_T})").alias("edit_dist"),
        )
        .filter(
            (F.col("edit_dist") >= 0) & (F.col("edit_dist") <= _ED_T)
        )
    )


# ---------------------------------------------------------------------------
# q59 — dedup keep-list: canonical document per cluster
# ---------------------------------------------------------------------------
@query(
    "q59_dedup_keep_list",
    oracle=_Q57_CTE
    + """
    , clusters AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
    scored AS (
      SELECT d.doc_id, c.cluster_id, d.n_chars
      FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    ),
    ranked AS (
      SELECT doc_id, cluster_id,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM scored
    )
    SELECT doc_id, cluster_id,
           (cluster_id IS NULL OR rn = 1) AS keep
    FROM ranked
    """,
)
def q59_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION: one keep/drop verdict per document. Within
    each near-dup cluster (q57) keep the longest document (most content
    survives), tie-broken by smallest doc_id; documents in no cluster
    are kept. This is the list a curation pipeline actually applies —
    pairs (q53) find, clusters (q57) group, the keep-list decides.
    Scale: the window runs ONLY over clustered rows (inner join against
    the small cluster map) — at scale nearly the whole corpus is
    unclustered, and putting it in a shared NULL window partition would
    funnel it through one sort task; instead unclustered docs bypass
    the window entirely (anti join, keep=true) and rejoin by union."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    clusters = q57_dedup_clusters(spark, sf_dir)
    from pyspark.sql import Window as W

    clustered = docs.join(clusters, "doc_id")
    w = W.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    kept_in_cluster = (
        clustered.withColumn("rn", F.row_number().over(w))
        .select("doc_id", "cluster_id", (F.col("rn") == 1).alias("keep"))
    )
    unclustered = docs.join(clusters, "doc_id", "left_anti").select(
        "doc_id",
        F.lit(None).cast("long").alias("cluster_id"),
        F.lit(True).alias("keep"),
    )
    return kept_in_cluster.unionByName(unclustered)


# ---------------------------------------------------------------------------
# q282 — leakage-safe train/val/test split (cluster-inherited assignment)
# ---------------------------------------------------------------------------
_SQL_SPLIT_CASE = (
    "CASE WHEN {h} <= 'b' THEN 'train' "
    "WHEN {h} IN ('c', 'd') THEN 'val' ELSE 'test' END"
)


@query(
    "q282_leakage_safe_split",
    oracle=_Q57_CTE
    + f"""
    , clusters AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
    asg AS (
      SELECT d.doc_id, d.source, COALESCE(c.cluster_id, d.doc_id) AS rep
      FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    ),
    sp AS (
      SELECT doc_id, source, rep,
             {_SQL_SPLIT_CASE.format(h="substring(md5('split:' || CAST(rep AS VARCHAR)), 1, 1)")} AS split,
             {_SQL_SPLIT_CASE.format(h="substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)")} AS naive_split
      FROM asg
    ),
    epairs AS (
      SELECT id_a, id_b FROM pairs WHERE jaccard_sim >= {_CLUSTER_T}
    ),
    audit AS (
      SELECT
        CAST(COALESCE(SUM(CASE WHEN sa.naive_split <> sb.naive_split
                               THEN 1 ELSE 0 END), 0) AS BIGINT)
          AS naive_straddle_pairs,
        CAST(COALESCE(SUM(CASE WHEN sa.split <> sb.split
                               THEN 1 ELSE 0 END), 0) AS BIGINT)
          AS safe_straddle_pairs
      FROM epairs p
      JOIN sp sa ON p.id_a = sa.doc_id
      JOIN sp sb ON p.id_b = sb.doc_id
    )
    SELECT split, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_reps,
           naive_straddle_pairs, safe_straddle_pairs
    FROM sp CROSS JOIN audit
    GROUP BY split, source, naive_straddle_pairs, safe_straddle_pairs
    """,
)
def q282_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split that near-duplicates cannot straddle: every
    document inherits its split from its dedup-cluster REPRESENTATIVE
    (q57's min-label; unclustered docs are their own representative),
    so the q122 md5 assignment is applied to rep ids instead of doc
    ids. This closes the eval-leakage hole a document-keyed split
    leaves open — two near-identical docs hash independently, one
    lands in train and one in val, and the held-out metric silently
    measures memorization; q158's decontamination catches train-vs-
    EXTERNAL-eval leakage, this op prevents the INTERNAL split from
    manufacturing it. The audit arm prices the difference in the same
    result: near-dup pairs (Jaccard ≥ 0.5) straddling split
    boundaries under the naive doc-keyed assignment vs this one —
    safe_straddle_pairs = 0 by construction (both endpoints of every
    edge share a component, hence a rep, hence a split), value-gated
    rather than asserted. Inherits q122's rebalance-proof property:
    corpus growth never reassigns an existing doc unless new edges
    merge its cluster (exactly the docs whose assignment SHOULD move).

    Scale shape: the cluster map (q57, materialized) joins the slim
    (doc_id, source) projection — text never loads; no broadcast HINT
    on the cluster side because its size is corpus-fraction (a
    boilerplate-heavy corpus can cluster 10%+ of its docs) — AQE sees
    the checkpointed frame's TRUE size and picks broadcast only when
    it fits, the q175 lesson applied in reverse; the
    assignment expression is scan-local md5, no shuffle; the audit
    touches only pair endpoints (|pairs| rows, never corpus-sized);
    the final aggregate is a hash-agg on ≤ |splits|×|sources| groups.
    The assignment frame is localCheckpoint'ed once for its three
    consumers (group stats + both audit endpoints) — 5 slim columns,
    the q265 non-ReuseExchange-recoverable shape."""
    clusters = q57_dedup_clusters(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")

    def _split(c: Column) -> Column:
        h = F.substring(
            F.md5(F.concat(F.lit("split:"), c.cast("string"))), 1, 1
        )
        return (
            F.when(h <= "b", "train").when(h.isin("c", "d"), "val").otherwise("test")
        )

    sp = (
        d.join(clusters, "doc_id", "left")
        .withColumn("rep", F.coalesce("cluster_id", "doc_id"))
        .select(
            "doc_id",
            "source",
            "rep",
            _split(F.col("rep")).alias("split"),
            _split(F.col("doc_id")).alias("naive_split"),
        )
        .localCheckpoint()
    )
    epairs = neardup_pairs(spark, sf_dir).filter(
        F.col("jaccard_sim") >= _CLUSTER_T
    )
    sa, sb = sp.alias("sa"), sp.alias("sb")
    audit = (
        epairs.join(sa, F.col("id_a") == F.col("sa.doc_id"))
        .join(sb, F.col("id_b") == F.col("sb.doc_id"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("sa.naive_split") != F.col("sb.naive_split"), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("naive_straddle_pairs"),
            F.coalesce(
                F.sum(
                    F.when(F.col("sa.split") != F.col("sb.split"), 1).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("safe_straddle_pairs"),
        )
    )
    return (
        sp.crossJoin(F.broadcast(audit))
        .groupBy("split", "source", "naive_straddle_pairs", "safe_straddle_pairs")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("rep").alias("n_reps"),
        )
        .select(
            "split",
            "source",
            "n_docs",
            "n_reps",
            "naive_straddle_pairs",
            "safe_straddle_pairs",
        )
    )


# ---------------------------------------------------------------------------
# q89 — triangle counting on the near-dup graph
# ---------------------------------------------------------------------------
@query(
    "q89_neardup_triangles",
    oracle=f"""
    WITH pairs AS ({_Q53_ORACLE}),
    e AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      WHERE jaccard_sim >= {_CLUSTER_T}
    ),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges
    FROM tri
    """,
)
def q89_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the verified near-dup graph — the density
    diagnostic for dedup clusters (triangle-rich components are true
    duplicate families; triangle-free chains are often LSH noise), and
    the classic distributed-graph kernel beyond q57's components.

    Edges are canonically ordered (a < b, which q53 guarantees), so
    each triangle a<b<c is counted exactly once by the standard
    two-join wedge-close: wedges (a-b, b-c) closed by the (a, c) edge.
    At 100 TB-scale graphs the same plan applies degree-ordered
    orientation first (point high-degree vertices at higher-degree
    neighbors) so wedge fan-out is bounded by arboricity, and the join
    keys stay 8-byte vertex ids. The near-dup graph is candidate-
    bounded by construction, so the wedge space here is tiny.
    """
    pairs = neardup_pairs(spark, sf_dir).filter(
        F.col("jaccard_sim") >= _CLUSTER_T
    )
    # materialize the edge list: the wedge-close references it four
    # times (three join arms + the edge count) and each reference
    # would otherwise re-execute the whole q53 candidate pipeline
    # (audited: 32 scans in the lazy plan, by far the registry's worst)
    e = pairs.select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    ).localCheckpoint()
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    wedges = e1.join(e2, F.col("e1.b") == F.col("e2.a"))
    tri = wedges.join(
        e3,
        (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
    )
    return tri.agg(F.count("*").alias("n_triangles")).crossJoin(
        e.agg(F.count("*").alias("n_edges"))
    )


# ---------------------------------------------------------------------------
# q119 — duplication rate by source (curation telemetry)
# ---------------------------------------------------------------------------
@query(
    "q119_dedup_rate_by_source",
    oracle=r"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(regexp_replace(lower(trim(text)),
                '\s+', ' ', 'g'))) AS BIGINT) AS n_unique,
           CAST(1 AS DOUBLE)
             - CAST(COUNT(DISTINCT md5(regexp_replace(lower(trim(text)),
                  '\s+', ' ', 'g'))) AS DOUBLE) / COUNT(*) AS dup_rate
    FROM documents GROUP BY source
    """,
)
def q119_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-rate telemetry per ingestion source — the report a
    curation pipeline publishes BEFORE deciding which sources need the
    expensive near-dup passes (a crawler mirror with dup_rate 0.4
    earns a q53 run; a curated source at 0.01 doesn't). Groups by
    source over q51's normalized digest: count-distinct on the 32-byte
    hash, so shuffle volume is O(rows), never O(bytes). Spark plans
    the distinct as a two-phase partial/merge aggregate keyed by
    (source, hash) then (source) — both map-side combinable."""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(normalized_text("text"))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct(h).alias("n_unique"),
        (
            F.lit(1.0)
            - F.count_distinct(h).cast("double") / F.count("*")
        ).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# q120 — bounded-iteration PageRank over the near-dup graph
# ---------------------------------------------------------------------------
_PR_DAMP = 0.85
_PR_ROUNDS = 3


def _pr_iter_sql(k: int) -> str:
    return f"""
    s{k} AS (
      SELECT e.dst AS node,
             CAST(0.15 AS DOUBLE) + CAST({_PR_DAMP} AS DOUBLE)
               * CAST(CAST(SUM(CAST(s.score / deg.d AS DECIMAL(18,6)))
                      AS VARCHAR) AS DOUBLE) AS score
      FROM edges e
      JOIN s{k - 1} s ON s.node = e.src
      JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    )"""


@query(
    "q120_pagerank_neardup",
    oracle=f"""
    WITH pairs AS ({_Q53_ORACLE}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs WHERE jaccard_sim >= {_CLUSTER_T}
      UNION ALL
      SELECT id_b, id_a FROM pairs WHERE jaccard_sim >= {_CLUSTER_T}
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
    s0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS score FROM deg),
    {",".join(_pr_iter_sql(k) for k in range(1, _PR_ROUNDS + 1))}
    SELECT node AS doc_id, score AS pagerank FROM s{_PR_ROUNDS}
    """,
)
def q120_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 fixed rounds) over the
    verified near-dup graph — the centrality diagnostic that ranks
    which documents sit at the CENTER of duplicate families (template
    pages score high; leaf copies low), complementing q57's membership
    and q89's density. Fixed-round PR is also the third classic
    distributed-graph kernel after components and triangles.

    Each round is one broadcast-or-hash join of the edge list against
    the current scores plus one dst-keyed aggregate — the same
    per-round shuffle shape as q57, bounded at 3 rounds by
    construction (no convergence loop to cap). The edge list is
    localCheckpoint'ed once so the q53 candidate pipeline doesn't
    re-execute per round inside the lazy plan. Per-neighbor
    contributions round through decimal(18,6) before summing, so the
    order-dependent float add becomes order-independent and the
    unrolled-CTE oracle matches bit-for-bit. Self-contained subgraph:
    every node in the symmetrized edge set has degree ≥ 1, so there is
    no dangling-mass term."""
    pairs = neardup_pairs(spark, sf_dir).filter(
        F.col("jaccard_sim") >= _CLUSTER_T
    )
    fwd = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    rev = pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    edges = fwd.union(rev).localCheckpoint()
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    scores = deg.select(F.col("src").alias("node"), F.lit(1.0).alias("score"))
    for _ in range(_PR_ROUNDS):
        share = (
            scores.join(deg, scores["node"] == deg["src"])
            .select("node", (F.col("score") / F.col("d")).cast("decimal(18,6)").alias("c"))
        )
        contrib = edges.join(share, edges["src"] == share["node"]).select("dst", "c")
        scores = (
            contrib.groupBy("dst")
            .agg(
                (
                    F.lit(0.15) + F.lit(_PR_DAMP) * F.sum("c").cast("double")
                ).alias("score")
            )
            .select(F.col("dst").alias("node"), "score")
        )
    return scores.select(F.col("node").alias("doc_id"), F.col("score").alias("pagerank"))


# ---------------------------------------------------------------------------
# q127 — incremental near-dup: new batch vs standing corpus
# ---------------------------------------------------------------------------


@query(
    "q127_incremental_neardup",
    oracle=f"""
    WITH e AS ({_SQL_E}),
    sig AS ({_SQL_SIG_AGG}),
    bands AS ({_SQL_BANDS}),
    batch_bands AS (SELECT * FROM bands WHERE doc_id % {_INC_MOD} = 0),
    cand AS (
      SELECT DISTINCT LEAST(a.doc_id, nb.doc_id) AS id_a,
                      GREATEST(a.doc_id, nb.doc_id) AS id_b
      FROM bands a
      JOIN batch_bands nb
        ON a.band = nb.band AND a.k1 = nb.k1 AND a.k2 = nb.k2
       AND a.doc_id <> nb.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM e GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS cnt
      FROM cand c
      JOIN e a ON a.doc_id = c.id_a
      JOIN e b ON b.doc_id = c.id_b AND b.h = a.h
      GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b,
           CAST(COALESCE(i.cnt, 0) AS DOUBLE)
             / (sa.n + sb.n - COALESCE(i.cnt, 0)) AS jaccard_sim,
           CASE WHEN c.id_a % {_INC_MOD} = 0 AND c.id_b % {_INC_MOD} = 0
                THEN 'new-new' ELSE 'new-old' END AS pair_type
    FROM cand c
    LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
    JOIN sizes sa ON sa.doc_id = c.id_a
    JOIN sizes sb ON sb.doc_id = c.id_b
    """,
)
def q127_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup — the shape a standing corpus
    actually runs every batch: find near-dups OF THE NEW BATCH (vs the
    existing corpus and within itself) without re-pairing the corpus
    against itself. Docs with doc_id % 10 == 0 play the arriving
    batch. Candidates come from equi-joining the batch's band keys
    against the full band index; pairs internal to the standing
    corpus can never form, so candidate volume scales with the BATCH,
    not the corpus. Verification is the same
    candidate-only exact-Jaccard join as q53, and `pair_type` splits
    new-vs-new from new-vs-old so the ingest decision (drop the new
    copy) is directly actionable.

    At 100 TB the band index is the precomputed, band-key-bucketed
    artifact the corpus maintains at write time (q32's pay-the-shuffle-
    once-at-ingest economics); each batch probes the index by band key
    (AQE broadcasts a genuinely bounded batch on its own) and appends
    its own bands — no standing-corpus recompute anywhere. Here both sides derive from the same table so the oracle
    can replay the identical arithmetic."""
    e, bands = shingle_index(spark, sf_dir)
    batch_bands = bands.filter(F.col("doc_id") % _INC_MOD == 0)
    # No broadcast HINT on the batch side: here the "batch" is a fixed
    # FRACTION of the corpus (doc_id % 10), so forcing a broadcast
    # makes the build side grow with corpus size — measured OOM at
    # 100x the gate scale. The equi-keyed shuffle join is the safe
    # default; AQE broadcasts automatically whenever a real ingest
    # batch is genuinely bounded, which is the production case the
    # docstring describes.
    nb = batch_bands.select(
        F.col("doc_id").alias("nb_id"),
        F.col("band").alias("nb_band"),
        F.col("k1").alias("nb_k1"),
        F.col("k2").alias("nb_k2"),
    )
    cand = (
        bands.join(
            nb,
            (F.col("band") == F.col("nb_band"))
            & (F.col("k1") == F.col("nb_k1"))
            & (F.col("k2") == F.col("nb_k2"))
            & (F.col("doc_id") != F.col("nb_id")),
        )
        .select(
            F.least(F.col("doc_id"), F.col("nb_id")).alias("id_a"),
            F.greatest(F.col("doc_id"), F.col("nb_id")).alias("id_b"),
        )
        .distinct()
    )
    sizes = e.groupBy("doc_id").agg(F.count("*").alias("n"))
    # merge-hinted e arms: q53's fix verbatim (explode fan-out makes
    # e's size estimate garbage; never let it broadcast)
    inter = (
        cand.join(e.alias("ea").hint("merge"), F.col("id_a") == F.col("ea.doc_id"))
        .join(
            e.alias("eb").hint("merge"),
            (F.col("id_b") == F.col("eb.doc_id")) & (F.col("ea.h") == F.col("eb.h")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("cnt"))
    )
    pair_type = F.when(
        (F.col("id_a") % _INC_MOD == 0) & (F.col("id_b") % _INC_MOD == 0),
        "new-new",
    ).otherwise("new-old")
    return (
        cand.join(inter, ["id_a", "id_b"], "left")
        .na.fill({"cnt": 0})
        .join(sizes.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("cnt").cast("double")
                / (F.col("sa.n") + F.col("sb.n") - F.col("cnt"))
            ).alias("jaccard_sim"),
            pair_type.alias("pair_type"),
        )
    )


# ---------------------------------------------------------------------------
# q134 — boilerplate shingle mining
# ---------------------------------------------------------------------------
_BP_TOPK = 20


@query(
    "q134_boilerplate_shingles",
    oracle=f"""
    WITH e AS ({_SQL_E}),
    df AS (
      SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM e GROUP BY h
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS corpus_docs FROM documents),
    ranked AS (
      SELECT h, n_docs, corpus_docs,
             ROW_NUMBER() OVER (ORDER BY n_docs DESC, h) AS rk
      FROM df, n
    )
    SELECT h, n_docs, CAST(n_docs AS DOUBLE) / corpus_docs AS doc_share, rk
    FROM ranked WHERE rk <= {_BP_TOPK}
    """,
)
def q134_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate mining: the shingles shared by the MOST documents —
    the 'why is my corpus duplicated' diagnostic that names the
    offending templates/headers before any dedup pass runs, and the
    evidence behind q54's df-cap choice (shingles above the cap are
    exactly these). One distinct-count aggregate on the 8-byte shingle
    hash, a one-row corpus count broadcast for the share, and a top-k
    window over the aggregated df table (|vocab| rows, not corpus
    rows; WindowGroupLimit prunes per partition)."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    e, _ = shingle_index(spark, sf_dir)
    df_tbl = e.groupBy("h").agg(F.count_distinct("doc_id").alias("n_docs"))
    n = d.agg(F.count("*").alias("corpus_docs"))
    w = W.orderBy(F.desc("n_docs"), F.asc("h"))
    return (
        df_tbl.crossJoin(F.broadcast(n))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BP_TOPK)
        .select(
            "h",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("corpus_docs")).alias(
                "doc_share"
            ),
            "rk",
        )
    )


# ---------------------------------------------------------------------------
# q135 — dedup impact report (what the keep-list actually saves)
# ---------------------------------------------------------------------------
@query(
    "q135_dedup_impact",
    oracle=_Q57_CTE
    + f"""
    , clusters AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
    scored AS (
      SELECT d.doc_id, d.lang, c.cluster_id, d.n_chars,
             CAST(len({_SQL_W}) AS BIGINT) AS n_tokens
      FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    ),
    ranked AS (
      SELECT doc_id, lang, cluster_id, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM scored
    ),
    verdicts AS (
      SELECT lang, n_tokens,
             (cluster_id IS NULL OR rn = 1) AS keep
      FROM ranked
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_dropped,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(COALESCE(SUM(n_tokens) FILTER (WHERE NOT keep), 0) AS BIGINT)
             AS dropped_tokens,
           CAST(COALESCE(SUM(n_tokens) FILTER (WHERE NOT keep), 0) AS DOUBLE)
             / SUM(n_tokens) AS dropped_frac
    FROM verdicts GROUP BY lang
    """,
)
def q135_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup IMPACT report: per language, how many documents and
    tokens the keep-list (q59) actually removes — the number that
    justifies (or kills) the compute spent on the near-dup pipeline,
    and the per-language skew a mixture plan must absorb (dropping 4%
    of English but 0.1% of German shifts the mixture). Composes q59's
    verdicts with token counts in one aggregate; everything upstream
    is the already-bounded cluster machinery."""
    from ecowatt_etl_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count("text").cast("long").alias("n_tokens")
    )
    keep = q59_dedup_keep_list(spark, sf_dir)
    j = docs.join(keep, "doc_id")
    dropped = F.when(~F.col("keep"), F.col("n_tokens"))
    return j.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(~F.col("keep"), 1)).alias("n_dropped"),
        F.sum("n_tokens").alias("total_tokens"),
        F.coalesce(F.sum(dropped), F.lit(0)).alias("dropped_tokens"),
        (
            F.coalesce(F.sum(dropped), F.lit(0)).cast("double")
            / F.sum("n_tokens")
        ).alias("dropped_frac"),
    )


# ---------------------------------------------------------------------------
# q169 — sorted-neighborhood near-dup candidates + exact Jaccard verify
# ---------------------------------------------------------------------------
_SNM_W = 4  # neighborhood window (rank distance within a block)
_SNM_KEY = 24  # sort-key prefix length
_SNM_BLOCK = 2  # block prefix length — the parallel unit


@query(
    "q169_sorted_neighborhood",
    oracle=f"""
    WITH r AS (
      SELECT doc_id,
             substring(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                       1, {_SNM_BLOCK}) AS block,
             substring(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                       1, {_SNM_KEY}) AS sort_key
      FROM documents
    ),
    rr AS (
      SELECT doc_id, block,
             ROW_NUMBER() OVER (PARTITION BY block
                                ORDER BY sort_key, doc_id) AS rn
      FROM r
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM rr a JOIN rr b
        ON a.block = b.block
       AND b.rn BETWEEN a.rn + 1 AND a.rn + {_SNM_W}
    ),
    e AS ({_SQL_E}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM e GROUP BY doc_id),
    inter AS (
      SELECT cand.doc_a, cand.doc_b, COUNT(*) AS n_inter
      FROM cand
      JOIN e ea ON ea.doc_id = cand.doc_a
      JOIN e eb ON eb.doc_id = cand.doc_b AND eb.h = ea.h
      GROUP BY cand.doc_a, cand.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS BIGINT) AS n_inter,
           CAST(sa.n + sb.n - i.n_inter AS BIGINT) AS n_union,
           CAST(i.n_inter * 10000 // (sa.n + sb.n - i.n_inter) AS BIGINT)
             AS jaccard_bp
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.n_inter * 10000 >= 3000 * (sa.n + sb.n - i.n_inter)
    """,
)
def q169_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup detection — the third candidate-
    generation strategy next to LSH banding (q53) and prefix blocking
    (q58): sort the corpus by a normalized-text key and compare only
    rows within a fixed rank window. Classic SNM sorts globally; this
    implementation partitions by a short block prefix FIRST and ranks
    within blocks, so the sort parallelizes by block (the standard
    blocked-SNM hybrid) at the documented cost of missing pairs that
    straddle a block boundary — deterministic on both engines, unlike
    a sampled RangePartitioner order. Candidates (≤ W per row, O(W·n)
    total — the knob LSH lacks: candidate volume is CAPPED, independent
    of how skewed the corpus is) are verified with EXACT Jaccard over
    the session shingle-hash index (q53's artifact, reused — no second
    tokenize/md5 pass), reported in integer basis points with a
    30% floor. At 100 TB: one block-keyed exchange for ranking, one
    doc-keyed join against the standing index — both bounded."""
    d = load_table(spark, sf_dir, "documents")
    norm = normalized_text("text")
    r = d.select(
        "doc_id",
        F.substring(norm, 1, _SNM_BLOCK).alias("block"),
        F.substring(norm, 1, _SNM_KEY).alias("sort_key"),
    )
    from pyspark.sql.window import Window as W

    # Candidate pairs via LEAD over the block-ranked order (r11,
    # guide §2.4): `doc at rank i` pairs with `doc at rank i+δ`,
    # δ = 1..W, which IS lead(doc_id, δ) over the same window the old
    # row_number ranking used — one window pass emits every pair with
    # ZERO self-join. The history matters: the first implementation
    # joined on block with `rn BETWEEN rn+1 AND rn+W` as a residual
    # (quadratic: Σ n_block² pairs materialized pre-filter, 99 s at
    # 100×), the r-era fix exploded the W offsets into a pure equi
    # key (linear, but still a join whose window input was computed
    # on BOTH arms), and lead() keeps the linear pair set while
    # deleting the join and the duplicate window computation outright.
    win = W.partitionBy("block").orderBy("sort_key", "doc_id")
    nbrs = r.select(
        F.col("doc_id").alias("doc_a"),
        F.array(
            *[F.lead("doc_id", k).over(win) for k in range(1, _SNM_W + 1)]
        ).alias("nbrs"),
    )
    cand = nbrs.select("doc_a", F.explode("nbrs").alias("doc_b")).filter(
        F.col("doc_b").isNotNull()
    )

    e, _ = shingle_index(spark, sf_dir)
    sizes = e.groupBy("doc_id").agg(F.count("*").alias("n"))
    # merge-hinted e arms (q53's fix: explode fan-out wrecks e's size
    # estimate; a corpus-sized frame must never broadcast)
    ea = e.select(F.col("doc_id").alias("doc_a"), "h").hint("merge")
    eb = e.select(F.col("doc_id").alias("doc_b"), "h").hint("merge")
    inter = (
        cand.join(ea, "doc_a")
        .join(eb, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    n_union = F.col("na") + F.col("nb") - F.col("n_inter")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("n_inter") * 10000 >= 3000 * n_union)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_inter").cast("long").alias("n_inter"),
            n_union.cast("long").alias("n_union"),
            F.expr("CAST(n_inter * 10000 DIV (na + nb - n_inter) AS BIGINT)").alias(
                "jaccard_bp"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q171 — TF-IDF-weighted shingle cosine pairs (rare-overlap near-dup)
# ---------------------------------------------------------------------------
_TFIDF_DF_CAP = 50  # posting-list cap: shingles in more docs carry no signal
_TFIDF_MIN_COS = 0.5


@query(
    "q171_tfidf_shingle_pairs",
    oracle=f"""
    WITH e AS ({_SQL_E}),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    df AS (SELECT h, COUNT(*) AS df FROM e GROUP BY h),
    w AS (
      SELECT e.doc_id, e.h,
             CAST(nd.n_docs * 1000 // df.df AS BIGINT) AS wt
      FROM e JOIN df ON e.h = df.h CROSS JOIN nd
      WHERE df.df <= {_TFIDF_DF_CAP}
    ),
    norms AS (
      SELECT doc_id, SUM(CAST(wt AS HUGEINT) * wt) AS nn
      FROM w GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             SUM(CAST(a.wt AS HUGEINT) * b.wt) AS dot,
             COUNT(*) AS n_shared
      FROM w a JOIN w b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
             CAST(CAST(dot AS VARCHAR) AS DOUBLE)
               / (sqrt(CAST(CAST(na.nn AS VARCHAR) AS DOUBLE))
                  * sqrt(CAST(CAST(nb.nn AS VARCHAR) AS DOUBLE))) AS cos_sim
      FROM dots
      JOIN norms na ON na.doc_id = dots.doc_a
      JOIN norms nb ON nb.doc_id = dots.doc_b
    )
    SELECT * FROM scored WHERE cos_sim >= {_TFIDF_MIN_COS}
    """,
)
def q171_tfidf_shingle_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by TF-IDF-WEIGHTED shingle cosine — the weighted
    complement to q54's unweighted Jaccard: two documents sharing ten
    boilerplate shingles score near zero, two sharing ten RARE
    shingles score near one, which is the ranking a curation reviewer
    actually wants. Weights are fixed-point integer IDF
    (N·1000 // df, binary tf over distinct shingles), so dot products
    and norms accumulate exactly (HUGEINT/decimal); cosine is three
    correctly-rounded ops (two sqrt, one divide) over string-routed
    casts — bit-identical cross-engine, threshold comparison included.

    Scale: the df-capped posting lists ride the SAME exploded (doc, h)
    index q53/q169 share (session artifact, no re-tokenize). r11
    restructure (guide §2.3/§2.4): the old shape materialized the
    (doc_id, h, wt) posting rows and self-joined them on h — two
    shuffles of the posting list plus a join-back of the df aggregate
    — when binary tf means dot(a,b) = Σ wt² over SHARED shingles, a
    quantity computable per shingle GROUP. Now the index is grouped
    once by h into df-capped doc lists and candidate pairs explode in
    codegen from each ≤cap list (same Σ df² pair economics, zero
    join). Hot shingles (df > cap, which the old join also dropped)
    are removed BEFORE the list aggregation by a shuffled-hash ANTI
    join against the tiny hot-key set, so no aggregation buffer ever
    holds an uncapped list and nothing corpus-sized is broadcast —
    the measured gate-scale cost fell 2.5 s → ~1.6 s and the 100×
    shape sheds one full posting-list shuffle. Everything still
    shuffles on 8-byte hashes, never text."""
    d = load_table(spark, sf_dir, "documents")
    e, _ = shingle_index(spark, sf_dir)
    nd = d.agg(F.count("*").alias("n_docs"))
    # Zipf head only: shingles in > cap docs. Shuffled (never
    # broadcast) so an adversarial corpus where MOST shingles are hot
    # degrades to an ordinary anti join, not a driver OOM.
    hot = (
        e.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > _TFIDF_DF_CAP)
        .select("h")
    )
    # g is referenced twice (norms + pair arm); without the lineage
    # cut each reference re-runs the anti join and list aggregation
    # over the full posting index (the q265 lesson — different
    # operators above the duplicates, so ReuseExchange recovers
    # nothing). The materialized frame is one row per rare shingle
    # with a ≤cap sorted doc list — strictly smaller than the old
    # (doc_id, h, wt) checkpoint.
    g = (
        e.join(hot.hint("shuffle_hash"), "h", "left_anti")
        .groupBy("h")
        .agg(
            F.count("*").alias("df"),
            F.sort_array(F.collect_list("doc_id")).alias("docs"),
        )
        .crossJoin(F.broadcast(nd))
        .selectExpr("CAST(n_docs * 1000 DIV df AS BIGINT) AS wt", "docs")
        .localCheckpoint()
    )
    w2 = F.col("wt").cast("decimal(38,0)") * F.col("wt")
    norms = (
        g.select(F.explode("docs").alias("doc_id"), "wt")
        .groupBy("doc_id")
        .agg(F.sum(w2).alias("nn"))
    )
    # i<j pairs from the sorted ≤cap list, entirely in codegen: binary
    # tf makes both weights equal, so each shared shingle contributes
    # wt² to the pair's dot product.
    pair_structs = F.expr(
        """
        flatten(transform(docs, (a, i) ->
          transform(slice(docs, i + 2, size(docs)),
                    b -> struct(a AS doc_a, b AS doc_b))))
        """
    )
    dots = (
        g.filter(F.size("docs") >= 2)
        .select(F.explode(pair_structs).alias("p"), "wt")
        .select(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
            "wt",
        )
        # r11 ADVICE: an intra-doc 31-bit word_hash collision can put
        # duplicate (doc_id, h) rows in the index, making the sorted
        # list emit a (D, D) self-pair the old self-join's strict
        # doc_a < doc_b excluded. The list is sorted, so doc_a <=
        # doc_b always holds and != is equivalent to the old <.
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(w2).alias("dot"), F.count("*").alias("n_shared"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nn").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nn").alias("nb"))
    cos = F.col("dot").cast("string").cast("double") / (
        F.sqrt(F.col("na").cast("string").cast("double"))
        * F.sqrt(F.col("nb").cast("string").cast("double"))
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _TFIDF_MIN_COS)
    )


# ---------------------------------------------------------------------------
# q175 — theta-sketch set operations: per-source-pair intersection
#         estimates from mergeable KMV sketches, audited vs exact
# ---------------------------------------------------------------------------
_THETA_K = 64
_THETA_SPACE = 1 << 60  # md5 15-hex-digit prefix range


@query(
    "q175_theta_intersection",
    oracle=f"""
    WITH eh AS (
      SELECT DISTINCT d.source, e.h
      FROM ({_SQL_E}) e JOIN documents d ON d.doc_id = e.doc_id
    ),
    r AS (
      SELECT source, h,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
      FROM eh
    ),
    sk AS (SELECT source, h, rn FROM r WHERE rn <= {_THETA_K}),
    theta AS (SELECT source, h AS th FROM sk WHERE rn = {_THETA_K}),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             LEAST(a.th, b.th) AS theta
      FROM theta a JOIN theta b ON a.source < b.source
    ),
    below AS (
      SELECT p.source_a, p.source_b, p.theta, COUNT(*) AS n_below
      FROM pairs p
      JOIN sk sa ON sa.source = p.source_a
      JOIN sk sb ON sb.source = p.source_b AND sb.h = sa.h
      WHERE sa.h < p.theta
      GROUP BY 1, 2, 3
    ),
    exact AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS n_common_exact
      FROM eh a JOIN eh b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b,
           CAST(p.theta AS BIGINT) AS theta,
           CAST(COALESCE(x.n_common_exact, 0) AS BIGINT) AS n_common_exact,
           CAST(COALESCE(b.n_below, 0) AS BIGINT) AS n_below_theta,
           CAST(CAST(CAST(COALESCE(b.n_below, 0) AS HUGEINT)
                     * {_THETA_SPACE} AS VARCHAR) AS DOUBLE)
             / CAST(p.theta AS DOUBLE) AS inter_estimate
    FROM pairs p
    LEFT JOIN below b ON b.source_a = p.source_a AND b.source_b = p.source_b
    LEFT JOIN exact x ON x.source_a = p.source_a AND x.source_b = p.source_b
    """,
)
def q175_theta_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET OPERATIONS: estimate the distinct-shingle
    overlap of every source pair from their fixed-size KMV sketches
    alone — the cross-corpus contamination / overlap matrix computed
    WITHOUT a cross-corpus join. Each source keeps its k=64 smallest
    distinct 60-bit hashes (q163's mergeable state); a pair's
    intersection estimate is the theta rule: θ = min(θ_a, θ_b),
    count the common sketch hashes below θ, scale by 2^60/θ. The
    exact per-pair overlap rides along as the audit column.

    Determinism: sketch membership is an integer rank, θ a LEAST of
    two integers, the estimate one string-routed division — the
    estimator itself hash-checks cross-engine (q161/q163 discipline).
    Scale: per-source sketches are O(k) rows built with per-partition
    local minima (the KMV combine); the PAIRWISE stage touches only
    O(|sources|²·k) sketch rows — at 10k sources that is 6M tiny rows
    where the exact join would cross-join corpora; the exact audit
    here is the sf0.01 luxury, dropped at scale (that is the point)."""
    d = load_table(spark, sf_dir, "documents")
    e, _ = shingle_index(spark, sf_dir)
    # Both derived frames are multiply-referenced under DIFFERENT
    # operators (sk 3×: theta/sa/sb; eh 2× more for the exact audit),
    # so without the lineage cuts the shingle⋈documents distinct ran 4×
    # and the per-source top-k window 3× — the q265 lesson applied.
    # sk is sources×k rows (trivial); eh materializes the distinct
    # (source, h) set, which is exactly the frame the exact-audit arm
    # needs anyway and which production (sketch-only) would never build.
    eh = (
        e.join(d.select("doc_id", "source"), "doc_id")
        .select("source", "h")
        .distinct()
        .localCheckpoint()
    )
    from pyspark.sql.window import Window as W

    rw = W.partitionBy("source").orderBy("h")
    sk = (
        eh.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") <= _THETA_K)
        .localCheckpoint()
    )
    theta = sk.filter(F.col("rn") == _THETA_K).select(
        "source", F.col("h").alias("th")
    )
    ta = theta.select(F.col("source").alias("source_a"), F.col("th").alias("tha"))
    tb = theta.select(F.col("source").alias("source_b"), F.col("th").alias("thb"))
    pairs = ta.join(tb, F.col("source_a") < F.col("source_b")).select(
        "source_a", "source_b", F.least("tha", "thb").alias("theta")
    )
    sa = sk.select(F.col("source").alias("source_a"), "h")
    sb = sk.select(F.col("source").alias("source_b"), "h")
    below = (
        pairs.join(sa, "source_a")
        .join(sb, ["source_b", "h"])
        .filter(F.col("h") < F.col("theta"))
        .groupBy("source_a", "source_b", "theta")
        .agg(F.count("*").alias("n_below"))
    )
    xa = eh.select(F.col("source").alias("source_a"), "h")
    xb = eh.select(F.col("source").alias("source_b"), "h")
    exact = (
        xa.join(xb, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_common_exact"))
    )
    n_below = F.coalesce(F.col("n_below"), F.lit(0))
    est = (
        (n_below.cast("decimal(38,0)") * F.lit(_THETA_SPACE))
        .cast("decimal(38,0)")
        .cast("string")
        .cast("double")
        / F.col("theta").cast("double")
    )
    return (
        pairs.join(below.drop("theta"), ["source_a", "source_b"], "left")
        .join(exact, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.col("theta").cast("long").alias("theta"),
            F.coalesce(F.col("n_common_exact"), F.lit(0))
            .cast("long")
            .alias("n_common_exact"),
            n_below.cast("long").alias("n_below_theta"),
            est.alias("inter_estimate"),
        )
    )


# ---------------------------------------------------------------------------
# q212 — multi-source BFS hop distance over the near-dup graph
# ---------------------------------------------------------------------------
_BFS_ROUNDS = 3
_BFS_SEED_MOD = _INC_MOD  # seeds = the q127 "ingest batch" documents


def _bfs_iter_sql(k: int) -> str:
    return f"""
    d{k} AS (
      SELECT node, MIN(d) AS d FROM (
        SELECT e.dst AS node, s.d + 1 AS d
        FROM edges e JOIN d{k - 1} s ON s.node = e.src
        UNION ALL
        SELECT node, d FROM d{k - 1}
      ) GROUP BY node
    )"""


@query(
    "q212_bfs_hops",
    oracle=f"""
    WITH pairs AS ({_Q53_ORACLE}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs WHERE jaccard_sim >= {_CLUSTER_T}
      UNION ALL
      SELECT id_b, id_a FROM pairs WHERE jaccard_sim >= {_CLUSTER_T}
    ),
    d0 AS (
      SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS d
      FROM edges WHERE src % {_BFS_SEED_MOD} = 0
    ),
    {",".join(_bfs_iter_sql(k) for k in range(1, _BFS_ROUNDS + 1))}
    SELECT node AS doc_id, CAST(d AS BIGINT) AS hops FROM d{_BFS_ROUNDS}
    """,
)
def q212_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS: hop distance from the nearest SEED document
    (the q127 ingest-batch convention, doc_id % 10 == 0)
    to every graph node reachable within 3 hops of the
    verified near-dup graph — the provenance question "how many
    copy-steps separate this document from the batch under review?".
    Fourth classic distributed-graph kernel alongside q57 components,
    q89 triangles, and q120 PageRank; hop-bounded frontier expansion
    is also the scalable template for k-hop neighborhood queries.

    Each round relaxes dist(v) = min(dist(v), min over in-edges of
    dist(u)+1) as one edge⋈distance hash join plus one node-keyed
    min-aggregate — the identical per-round shuffle shape as q120,
    with the round count fixed at 3 by construction (the
    oracle unrolls the same rounds, so Spark and DuckDB agree row for
    row; an unreached node is ABSENT, not ∞). Arithmetic is pure
    int64, so cross-engine equality is exact. The symmetrized edge
    list is localCheckpoint'ed once — the q53 candidate pipeline
    executes once, not once per round — and every frontier frame is a
    node-keyed (id, dist) pair, so state per round is O(|V|) however
    large the corpus behind it."""
    pairs = neardup_pairs(spark, sf_dir).filter(
        F.col("jaccard_sim") >= _CLUSTER_T
    )
    fwd = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    rev = pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    edges = fwd.union(rev).localCheckpoint()
    dist = (
        edges.filter(F.col("src") % _BFS_SEED_MOD == 0)
        .select(F.col("src").alias("node"))
        .distinct()
        .withColumn("d", F.lit(0).cast("long"))
    )
    for _ in range(_BFS_ROUNDS):
        relaxed = edges.join(dist, edges["src"] == dist["node"]).select(
            F.col("dst").alias("node"), (F.col("d") + 1).alias("d")
        )
        dist = (
            relaxed.unionByName(dist).groupBy("node").agg(F.min("d").alias("d"))
        )
    return dist.select(F.col("node").alias("doc_id"), F.col("d").alias("hops"))


# ---------------------------------------------------------------------------
# q219 — LSH banding recall audit vs exact all-pairs ground truth
# ---------------------------------------------------------------------------
@query(
    "q219_lsh_recall_audit",
    oracle=f"""
    WITH e AS ({_SQL_E}),
    sig AS ({_SQL_SIG_AGG}),
    bands AS ({_SQL_BANDS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
       AND a.doc_id < b.doc_id
    ),
    keep AS (SELECT h FROM e GROUP BY h HAVING COUNT(*) <= {_DF_CAP}),
    e2 AS (SELECT e.doc_id, e.h FROM e JOIN keep USING (h)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM e2 GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM e2 a JOIN e2 b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT id_a, id_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS sim
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {_CLUSTER_T}
    ),
    m AS (
      SELECT t.sim, c.id_a IS NOT NULL AS found
      FROM truth t
      LEFT JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
    )
    SELECT CAST(floor(sim * 10) AS BIGINT) AS sim_decile,
           CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(SUM(CASE WHEN found THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
           CAST(SUM(CASE WHEN found THEN 1 ELSE 0 END) * 10000 // COUNT(*)
                AS BIGINT) AS recall_bp
    FROM m GROUP BY 1
    """,
)
def q219_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECALL AUDIT of the q53 MinHash-LSH banding against EXACT
    all-pairs ground truth — the dedup twin of the ANN recall frontier
    the similarity family publishes (SCALE.md): for every true
    near-dup pair (shingle Jaccard ≥ 0.5 over the df-capped sets —
    q54's economics, since boilerplate shingles shared by > _DF_CAP
    docs carry no near-dup signal but Σdf² join cost), did the band
    bucketing ever co-bucket it? Reported per similarity decile,
    because banding recall is a steep function of similarity (the
    S-curve: at 4 bands × 2 rows a 0.9-Jaccard pair is near-certain,
    a 0.5 pair is a coin flip) — the per-decile table IS the measured
    S-curve, and the basis-point integer recall keeps the report
    hash-exact cross-engine.

    The df cap also bounds the audit itself: the truth self-join is
    ≤ _DF_CAP rows per posting, so ground truth stays linear in the
    corpus (measured: the uncapped form timed out at 100x the gate
    scale; capped it completes in line with q53). A deployment can
    still tighten truth on a stratified q93-style slice. Shares the
    session shingle/band index, so the audit adds one capped
    self-join and one left probe, not a re-tokenize."""
    e, bands = shingle_index(spark, sf_dir)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.k1") == F.col("b.k1"))
            & (F.col("a.k2") == F.col("b.k2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    # Ground truth over the DF-CAPPED shingle sets (q54's economics,
    # mirrored in the oracle's keep/e2 CTEs): a shingle in > _DF_CAP
    # docs is boilerplate — it contributes ~nothing to a >= 0.5
    # Jaccard verdict but df² rows to the self-join, and that Σdf²
    # term is what timed the uncapped audit out at 100x the gate
    # scale. Capped, the self-join is <= _DF_CAP · |e2| — linear.
    keep = (
        e.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _DF_CAP)
        .select("h")
    )
    e2 = e.join(keep, "h").localCheckpoint()
    sizes = e2.groupBy("doc_id").agg(F.count("*").alias("n"))
    # merge-hinted: e2's explode-fanned size estimate is garbage
    # (q53's fix), and a broadcast self-join of a corpus-sized frame
    # is the one shape this audit must never plan
    ea, eb = e2.alias("ea").hint("merge"), e2.alias("eb").hint("merge")
    inter = (
        ea.join(
            eb,
            (F.col("ea.h") == F.col("eb.h"))
            & (F.col("ea.doc_id") < F.col("eb.doc_id")),
        )
        .groupBy(
            F.col("ea.doc_id").alias("id_a"), F.col("eb.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("c"))
    )
    sim = F.col("c").cast("double") / (F.col("sa.n") + F.col("sb.n") - F.col("c"))
    truth = (
        inter.join(sizes.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= _CLUSTER_T)
    )
    m = truth.join(
        cand.withColumn("found", F.lit(True)), ["id_a", "id_b"], "left"
    ).select("sim", F.coalesce("found", F.lit(False)).alias("found"))
    n_found = F.sum(F.when(F.col("found"), 1).otherwise(0))
    return (
        m.groupBy(F.floor(F.col("sim") * 10).cast("long").alias("sim_decile"))
        .agg(
            F.count("*").alias("n_truth"),
            n_found.cast("long").alias("n_found"),
            F.expr(
                "CAST(SUM(CASE WHEN found THEN 1 ELSE 0 END) * 10000"
                " DIV COUNT(*) AS BIGINT)"
            ).alias("recall_bp"),
        )
    )


# ---------------------------------------------------------------------------
# q226 — cross-source shingle contamination matrix
# ---------------------------------------------------------------------------
@query(
    "q226_cross_source_dups",
    oracle=f"""
    WITH e AS ({_SQL_E}),
    ds AS (
      SELECT DISTINCT e.h, d.source
      FROM e JOIN documents d ON d.doc_id = e.doc_id
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
    FROM ds a JOIN ds b ON a.h = b.h AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def q226_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE contamination matrix at SHINGLE granularity — for
    every unordered pair of ingestion sources, how many distinct
    3-word shingles appear in BOTH: the between-source overlap view
    that complements q119 (within-source dup rate) and q134 (which
    shingles are boilerplate). A pair sharing orders of magnitude
    more shingles than its peers is the "two mirrors of one crawl"
    signal that drives keep-one ingest decisions; whole-document
    sharing is the degenerate case (this corpus has none — chunk- and
    shingle-level overlap is where real contamination shows first).
    The q175 theta-sketch intersections are the ESTIMATE form of this
    exact matrix when the digest sets stop fitting a join.

    Shape: the session shingle index joined once to the doc→source
    map, reduced to distinct (shingle, source) pairs — one hash
    aggregate on 8-byte keys, text never shuffles — then a
    shingle-keyed self-join whose per-key fan-out is bounded by the
    SOURCE count (≤ S·(S−1)/2 rows per shingle), never the corpus,
    and a tiny pair-keyed count."""
    e, _ = shingle_index(spark, sf_dir)
    src_map = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ds = (
        e.join(src_map, "doc_id")
        .select("h", "source")
        .distinct()
    )
    a, b = ds.alias("a"), ds.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_shared_shingles"))
    )


# ---------------------------------------------------------------------------
# q246 — entity resolution / record linkage (Fellegi–Sunter shape)
# ---------------------------------------------------------------------------
# Candidate generation is SymSpell-style neighborhood blocking on the
# zero-padded record key, padded to _RL_DIGITS so the scheme holds far
# past the 9-digit suffix embedded in c_name (12 digits covers 10^12
# records): each record emits one key per digit position masked. Two
# equal-width keys share a masked key IFF they differ in at most that
# one digit, so the candidate set is EXACTLY the Hamming<=1 pairs, each
# found exactly once (keys are unique, so two records share at most one
# mask) — no quadratic block anywhere (a fixed-prefix block would
# collapse to one giant skew block on zero-padded ids; the per-position
# mask keeps every group at most alphabet-wide, 10, by construction).
_RL_DIGITS = 12  # blocking-key width: zero-padded custkey
_RL_BAL_TIGHT_US = 100_000_000  # |balance diff| <= $100
_RL_BAL_LOOSE_US = 1_000_000_000  # <= $1000
_RL_MATCH, _RL_POSSIBLE = 65, 45


@query(
    "q246_record_linkage",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
             CAST(CAST(c_acctbal AS DECIMAL(18,6)) * 1000000 AS BIGINT)
               AS bal_us,
             lpad(CAST(c_custkey AS VARCHAR), {_RL_DIGITS}, '0') AS dg
      FROM customer
    ),
    keys AS (
      SELECT c_custkey,
             substr(dg, 1, i - 1) || '_'
               || substr(dg, i + 1, {_RL_DIGITS} - i) AS mk
      FROM c, UNNEST(generate_series(1, {_RL_DIGITS})) AS s(i)
    ),
    cand AS (
      SELECT a.c_custkey AS ka, b.c_custkey AS kb
      FROM keys a JOIN keys b
        ON a.mk = b.mk AND a.c_custkey < b.c_custkey
    ),
    scored AS (
      SELECT
        (CASE WHEN levenshtein(ca.c_name, cb.c_name) <= 1 THEN 30 ELSE 0 END
         + CASE WHEN ca.c_nationkey = cb.c_nationkey THEN 20 ELSE 0 END
         + CASE WHEN ca.c_mktsegment = cb.c_mktsegment THEN 15 ELSE 0 END
         + CASE WHEN abs(ca.bal_us - cb.bal_us) <= {_RL_BAL_TIGHT_US} THEN 20
                WHEN abs(ca.bal_us - cb.bal_us) <= {_RL_BAL_LOOSE_US} THEN 10
                ELSE 0 END) AS score
      FROM cand
      JOIN c ca ON ca.c_custkey = cand.ka
      JOIN c cb ON cb.c_custkey = cand.kb
    )
    SELECT CASE WHEN score >= {_RL_MATCH} THEN 'match'
                WHEN score >= {_RL_POSSIBLE} THEN 'possible'
                ELSE 'non_match' END AS classification,
           CAST(score AS BIGINT) AS score,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM scored GROUP BY 1, 2
    """,
)
def q246_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over structured records — the Fellegi–Sunter
    pipeline shape: blocking -> field-comparison vector -> additive
    match weights -> match / possible / non-match classification, with
    the decision histogram (score x class x pair count) as the audit
    output a linkage review queue is built from. Field weights: name
    edit-distance tier (Levenshtein, both engines' classic integer
    metric), nationality and segment agreement, and a two-tier account
    balance proximity on exact micro-units.

    Scale: candidate generation is the deletion-neighborhood trick
    (header note) — each record emits _RL_DIGITS masked keys and a
    group's width is bounded by the alphabet (≤ 10 records can share
    one masked key), so candidates are O(n x positions), not
    O(block^2). r11 (guide §2.3/§8): the records' comparison
    attributes ride INSIDE the masked-key groups as ≤10-element
    struct lists — i<j pairs explode and score entirely in codegen,
    replacing the old masked-key self-join plus TWO attribute
    join-backs onto the customer table (measured 1.75 → 1.17 s at
    the gate scale; at 100× the 47M scored pairs no longer pass
    through two 1.5M-row joins). A pair differing in exactly one
    digit shares exactly one masked key, so the pair set is
    duplicate-free by construction, before and after. All scoring is
    integer, so the report is engine-exact with no float anywhere."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        (F.col("c_acctbal").cast("decimal(18,6)") * 1_000_000)
        .cast("bigint")
        .alias("bal_us"),
        F.lpad(F.col("c_custkey").cast("string"), _RL_DIGITS, "0").alias("dg"),
    )
    keys = c.select(
        F.struct(
            "c_custkey", "c_name", "c_nationkey", "c_mktsegment", "bal_us"
        ).alias("rec"),
        F.explode(
            F.expr(
                f"transform(sequence(1, {_RL_DIGITS}),"
                " i -> concat(substring(dg, 1, i - 1),"
                f" '_', substring(dg, i + 1, {_RL_DIGITS} - i)))"
            )
        ).alias("mk"),
    )
    # sort_array orders by the struct's first field (c_custkey), so
    # i<j within a list reproduces the old `a.c_custkey < b.c_custkey`
    g = (
        keys.groupBy("mk")
        .agg(F.sort_array(F.collect_list("rec")).alias("recs"))
        .filter(F.size("recs") >= 2)
    )
    pair_structs = F.expr(
        """
        flatten(transform(recs, (a, i) ->
          transform(slice(recs, i + 2, size(recs)),
                    b -> struct(a AS ra, b AS rb))))
        """
    )
    p = g.select(F.explode(pair_structs).alias("p")).select("p.ra", "p.rb")
    # r12 (guide §1.2 per-task work, verdict item 8): the name tier
    # only asks "distance <= 1", so the THRESHOLDED levenshtein
    # (Spark 3.5+ 3-arg form) computes a banded O(len·k) DP with
    # early exit instead of the full O(len²) matrix over every
    # candidate pair (47M at 100×). It returns -1 when the distance
    # exceeds the threshold, so `<= 1` becomes `>= 0` — exact, with
    # no data-shape assumption (the oracle keeps the plain 2-arg
    # form on the DuckDB side).
    score = (
        F.when(
            F.levenshtein(F.col("ra.c_name"), F.col("rb.c_name"), 1) >= 0, 30
        )
        .otherwise(0)
        + F.when(F.col("ra.c_nationkey") == F.col("rb.c_nationkey"), 20).otherwise(0)
        + F.when(F.col("ra.c_mktsegment") == F.col("rb.c_mktsegment"), 15).otherwise(0)
        + F.when(
            F.abs(F.col("ra.bal_us") - F.col("rb.bal_us")) <= _RL_BAL_TIGHT_US, 20
        )
        .when(F.abs(F.col("ra.bal_us") - F.col("rb.bal_us")) <= _RL_BAL_LOOSE_US, 10)
        .otherwise(0)
    )
    scored = p.select(score.alias("score"))
    cls = (
        F.when(F.col("score") >= _RL_MATCH, "match")
        .when(F.col("score") >= _RL_POSSIBLE, "possible")
        .otherwise("non_match")
    )
    return (
        scored.groupBy(
            cls.alias("classification"),
            F.col("score").cast("long").alias("score"),
        )
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .select("classification", "score", "n_pairs")
    )


# ---------------------------------------------------------------------------
# q269 — MinHash banding S-curve calibration (measured vs theoretical)
# ---------------------------------------------------------------------------
_SCURVE_MIN = 0.1  # audit every decile the truth join can price

# Theoretical band-collision probability at each decile MIDPOINT for
# the shipped b=4 bands x r=2 rows: 1 - (1 - s^r)^b. Computed once in
# Python and injected as LITERALS into both engines (identical by
# construction — no cross-engine pow()).
_N_BANDS = N_HASHES // BAND_ROWS
_THEORY_BP = {
    d: int(round((1 - (1 - ((d + 0.5) / 10) ** BAND_ROWS) ** _N_BANDS) * 10000))
    for d in range(1, 10)
}
_THEORY_BP[10] = 10000  # sim == 1.0 -> identical signatures
_SQL_THEORY = (
    "CASE sim_decile "
    + " ".join(f"WHEN {d} THEN {bp}" for d, bp in _THEORY_BP.items())
    + " END"
)


@query(
    "q269_band_s_curve",
    oracle=f"""
    WITH e AS ({_SQL_E}),
    sig AS ({_SQL_SIG_AGG}),
    bands AS ({_SQL_BANDS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
       AND a.doc_id < b.doc_id
    ),
    keep AS (SELECT h FROM e GROUP BY h HAVING COUNT(*) <= {_DF_CAP}),
    e2 AS (SELECT e.doc_id, e.h FROM e JOIN keep USING (h)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM e2 GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM e2 a JOIN e2 b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT id_a, id_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS sim
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {_SCURVE_MIN}
    ),
    m AS (
      SELECT CAST(floor(t.sim * 10) AS BIGINT) AS sim_decile,
             c.id_a IS NOT NULL AS hit
      FROM truth t
      LEFT JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
    )
    SELECT sim_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_collided,
           CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) * 10000 // COUNT(*)
                AS BIGINT) AS collision_bp,
           CAST({_SQL_THEORY} AS BIGINT) AS theory_bp
    FROM m GROUP BY 1
    """,
)
def q269_band_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-CURVE CALIBRATION of the MinHash banding — the design
    artifact behind every (bands, rows) choice: per exact-similarity
    decile (df-capped Jaccard truth, q219's economics, audited from
    0.1 up instead of only above the near-dup threshold), the MEASURED
    band-collision rate next to the THEORETICAL 1-(1-s^r)^b at the
    decile midpoint. Where measured tracks theory, the permutations
    are healthy; where it sags, either signatures are correlated (bad
    hash mixing), the cap is biting, or — dominant on this corpus —
    the df-capped TRUTH arm overstates similarity (capped sets agree
    while the FULL shingle sets the signatures actually see do not;
    q219's note); where it exceeds theory at low sim, degenerate band
    keys are colliding unrelated docs. The table separates those
    stories because n_pairs per decile is published alongside. A deployment
    re-runs this table to pick b x r for ITS recall target instead of
    trusting folklore. Theory values are Python-computed literals
    injected into both engines — no cross-engine pow().

    Scale: reuses the session shingle/band index; the truth self-join
    is df-capped (<= _DF_CAP per posting, linear in corpus); the only
    new work vs q219 is a wider decile range on the same joins."""
    e, bands = shingle_index(spark, sf_dir)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.k1") == F.col("b.k1"))
            & (F.col("a.k2") == F.col("b.k2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    keep = (
        e.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _DF_CAP)
        .select("h")
    )
    e2 = e.join(keep, "h").localCheckpoint()
    sizes = e2.groupBy("doc_id").agg(F.count("*").alias("n"))
    ea, eb = e2.alias("ea").hint("merge"), e2.alias("eb").hint("merge")
    inter = (
        ea.join(
            eb,
            (F.col("ea.h") == F.col("eb.h"))
            & (F.col("ea.doc_id") < F.col("eb.doc_id")),
        )
        .groupBy(
            F.col("ea.doc_id").alias("id_a"), F.col("eb.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("c"))
    )
    sim = F.col("c").cast("double") / (F.col("sa.n") + F.col("sb.n") - F.col("c"))
    truth = (
        inter.join(sizes.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= _SCURVE_MIN)
    )
    m = truth.join(
        cand.withColumn("hit", F.lit(True)), ["id_a", "id_b"], "left"
    ).select(
        F.floor(F.col("sim") * 10).cast("long").alias("sim_decile"),
        F.coalesce("hit", F.lit(False)).alias("hit"),
    )
    theory = F.expr(_SQL_THEORY)  # same CASE literal as the oracle
    return m.groupBy("sim_decile").agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("long").alias("n_collided"),
        F.expr(
            "CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) * 10000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("collision_bp"),
    ).select(
        "sim_decile", "n_pairs", "n_collided", "collision_bp",
        theory.cast("long").alias("theory_bp"),
    )
