"""Corpus-curation queries over `documents` (beyond-reference surface).

The curation stages a large-scale training-data pipeline runs AFTER
dedup (q50-q59) and quality scoring (q70-q75): deterministic stratified
sampling, PII redaction, repetition filtering (Gopher-style duplicate
n-gram rules), eval-set decontamination, token-budget shard packing,
and the data-mixture report. Every query is hash-verified against a
DuckDB oracle replaying the identical portable arithmetic: md5-derived
sampling keys and shingle hashes, shared regex classes (Java regex and
RE2 agree on the character-class subset used), and exact integer math
with single final float divisions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ecowatt_etl_spark.operators.dedup import shingle_hashes
from ecowatt_etl_spark.operators.text import token_count, tokens
from ecowatt_etl_spark.queries.registry import query
from ecowatt_etl_spark.sources.tables import load_table

_SQL_W = "regexp_split_to_array(lower(trim(text)), '\\s+')"


# ---------------------------------------------------------------------------
# q93 — deterministic stratified sampling
# ---------------------------------------------------------------------------
# per-language keep rates as md5-hex-prefix thresholds (first 2 hex
# chars are uniform over 00..ff): downsample the over-represented
# language, keep the rest at 75%
_SMPL_RATE = {"en": "40"}  # 25%
_SMPL_DEFAULT = "c0"  # 75%


def _sql_rate_case() -> str:
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN '{thr}'" for lang, thr in _SMPL_RATE.items()
    )
    return f"CASE {whens} ELSE '{_SMPL_DEFAULT}' END"


@query(
    "q93_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE substring(md5('smpl:' || CAST(doc_id AS VARCHAR)), 1, 2)
          < {_sql_rate_case()}
    """,
)
def q93_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum Bernoulli sampling — the language /
    domain rebalancing step of corpus assembly. The keep decision is
    ``md5('smpl:' || doc_id) < per-lang threshold``, so it is (a)
    reproducible run-over-run and engine-over-engine (no RNG state),
    (b) stable under corpus growth — a doc's verdict never changes when
    neighbors are added — and (c) scan-local: a pushdown-friendly
    filter, zero shuffles, trivially parallel at 100 TB. Changing the
    mixture = changing threshold literals, not re-shuffling data."""
    d = load_table(spark, sf_dir, "documents")
    thr = F.lit(_SMPL_DEFAULT)
    for lang, t in _SMPL_RATE.items():
        thr = F.when(F.col("lang") == lang, F.lit(t)).otherwise(thr)
    key = F.substring(F.md5(F.concat(F.lit("smpl:"), F.col("doc_id").cast("string"))), 1, 2)
    return d.filter(key < thr).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# q94 — PII detection + redaction
# ---------------------------------------------------------------------------
# regex subset chosen to evaluate identically under Java regex (Spark)
# and RE2 (DuckDB): character classes, bounded/unbounded repeats only
_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{1,4}"

# the synthetic corpus contains no PII, so both engines plant the same
# deterministic contacts before detecting them — the check exercises
# real matches, not a vacuous zero
_SQL_AUG = (
    "text || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com now' WHEN doc_id % 11 = 3 THEN ' call +1-555-'"
    " || CAST(doc_id % 1000 AS VARCHAR) || ' ok' ELSE '' END"
)


@query(
    "q94_pii_redact",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_SQL_AUG} AS t FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM aug
    """,
)
def q94_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the compliance pass every published training
    corpus runs: count and mask email/phone spans. Detection and
    redaction are single codegen'd regex passes (no UDF); the oracle
    compares an md5 checksum of the fully redacted text, so the check
    covers every byte of the rewrite, not just the match counts.
    Scan-local at any scale. Real deployments extend the pattern list
    (SSNs, IP addresses, credit cards) — same plan shape per pattern."""
    d = load_table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            )
            .when(
                F.col("doc_id") % 11 == 3,
                F.concat(
                    F.lit(" call +1-555-"),
                    (F.col("doc_id") % 1000).cast("string"),
                    F.lit(" ok"),
                ),
            )
            .otherwise(F.lit("")),
        ).alias("t"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_PHONE_RE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# q95 — repetition statistics (Gopher-style duplicate n-gram rules)
# ---------------------------------------------------------------------------
_REP_T = 0.45  # duplicate-bigram fraction above which a doc is flagged


@query(
    "q95_repetition_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_SQL_W} AS w FROM documents
    ),
    g AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
             CAST(len(w) - 1 AS BIGINT) AS n_bigrams,
             CAST(len(list_distinct(
               list_transform(generate_series(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1]))) AS BIGINT)
               AS n_distinct_bigrams
      FROM t WHERE len(w) >= 2
    )
    SELECT doc_id, n_tokens, n_distinct,
           CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens AS dup_token_frac,
           CAST(n_bigrams - n_distinct_bigrams AS DOUBLE) / n_bigrams
             AS dup_bigram_frac,
           CAST(n_bigrams - n_distinct_bigrams AS DOUBLE) / n_bigrams
             > {_REP_T} AS repetitive
    FROM g
    """,
)
def q95_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filter — the Gopher/C4-style duplicate n-gram rule:
    machine-generated and boilerplate text repeats itself, so a high
    duplicate-token or duplicate-bigram fraction marks a document for
    removal. Pure array expressions over the token list (no explode —
    per-doc distinct counts stay inside the row), one scan, zero
    shuffles; the two fractions are single exact-integer divisions, so
    the oracle matches bit-for-bit.

    r11 (guide §1.2 step 2, per-task work): the bigram universe is
    built as STRUCT pairs via arrays_zip of two shifted slices, not
    as `w[i] || ' ' || w[i+1]` strings — the old transform allocated
    a fresh concat string per bigram per row and was ~5× the whole
    query's cost (measured 4.25 → 0.83 s noop at sf0.1). Distinct
    counts are unchanged: tokens cannot contain whitespace, so the
    pair→concat map is injective and |distinct pairs| ==
    |distinct concat strings| — the oracle keeps the string form."""
    d = load_table(spark, sf_dir, "documents")
    w = tokens("text")
    # guard like operators/dedup.shingles: an unguarded slice on
    # 1-token docs would evaluate with a negative length — correct
    # today only because the n_tokens>=2 filter pushes below this
    # projection, which no optimizer contract guarantees
    pairs = F.when(
        F.size(w) >= 2,
        F.arrays_zip(F.slice(w, 1, F.size(w) - 1), F.slice(w, 2, F.size(w) - 1)),
    ).otherwise(F.expr("CAST(array() AS array<struct<`0`: string, `1`: string>>)"))
    g = d.select(
        "doc_id",
        F.size(w).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(w)).cast("long").alias("n_distinct"),
        (F.size(w) - 1).cast("long").alias("n_bigrams"),
        F.size(F.array_distinct(pairs)).cast("long").alias("n_distinct_bigrams"),
    ).filter(F.col("n_tokens") >= 2)
    dup_tok = (F.col("n_tokens") - F.col("n_distinct")).cast("double") / F.col("n_tokens")
    dup_bi = (F.col("n_bigrams") - F.col("n_distinct_bigrams")).cast("double") / F.col(
        "n_bigrams"
    )
    return g.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        dup_tok.alias("dup_token_frac"),
        dup_bi.alias("dup_bigram_frac"),
        (dup_bi > _REP_T).alias("repetitive"),
    )


# ---------------------------------------------------------------------------
# q96 — eval-set decontamination
# ---------------------------------------------------------------------------
_DECON_N = 5  # n-gram length for contamination matching
_EVAL_SRC = "src0"  # the held-out benchmark slice


def _sql_ngrams(n: int) -> str:
    joined = " || ' ' || ".join(f"w[i+{k}]" for k in range(n))
    return f"""
    list_distinct(
      CASE WHEN len(w) >= {n}
           THEN list_transform(generate_series(1, len(w) - {n - 1}), i -> {joined})
           ELSE [array_to_string(w, ' ')] END)
    """


@query(
    "q96_decontaminate",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_SQL_W} AS w FROM documents),
    sh AS (
      SELECT doc_id, source,
             CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT)
               % 1000000007 AS h
      FROM (SELECT doc_id, source, UNNEST({_sql_ngrams(_DECON_N)}) AS s FROM t)
    ),
    eval_h AS (SELECT DISTINCT h FROM sh WHERE source = '{_EVAL_SRC}')
    SELECT sh.doc_id, CAST(COUNT(DISTINCT sh.h) AS BIGINT) AS n_shared_grams
    FROM sh JOIN eval_h USING (h)
    WHERE sh.source <> '{_EVAL_SRC}'
    GROUP BY sh.doc_id
    """,
)
def q96_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — before training, drop corpus
    documents that share long n-grams with the evaluation set (here:
    the ``src0`` slice stands in for a benchmark). Returns each
    contaminated doc with its count of distinct shared 5-grams; the
    keep-list is the anti-join complement.

    Scale shape: the eval side is tiny by construction (benchmarks are
    thousands of docs, the corpus is billions), so its distinct-hash
    set broadcasts; the corpus side is one explode → md5-in-codegen
    scan (the q52/q53 shingle machinery at n=5) filtered by a
    broadcast-hash semi join — the corpus never shuffles on n-gram
    keys, and the only aggregation is per-doc over surviving matches."""
    d = load_table(spark, sf_dir, "documents")
    sh = shingle_hashes(
        d.filter(F.col("source") != _EVAL_SRC), n=_DECON_N
    )
    eval_h = F.broadcast(
        shingle_hashes(d.filter(F.col("source") == _EVAL_SRC), n=_DECON_N)
        .select("h")
        .distinct()
    )
    return (
        sh.join(eval_h, "h")
        .groupBy("doc_id")
        .agg(F.count_distinct("h").alias("n_shared_grams"))
    )


# ---------------------------------------------------------------------------
# q97 — token-budget shard packing
# ---------------------------------------------------------------------------
_PACK_BUDGET = 2048  # tokens per training shard (per language)


@query(
    "q97_token_budget_pack",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len({_SQL_W}) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           (CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
            - n_tokens) // {_PACK_BUDGET} AS shard_id
    FROM t
    """,
)
def q97_token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard packing — assign documents to fixed-token-budget training
    shards per language (next-fit by running token count), the step
    that turns a curated corpus into trainer-consumable units. One
    window cumsum per stratum; all arithmetic is exact integers
    (cumsum, subtraction, integer division), so the oracle matches
    bit-for-bit.

    Scale note: a running sum needs a total order per stratum, which is
    inherently one sorted pass per language partition. At 100 TB you
    pack hierarchically — the same next-fit within each corpus
    partition, then rebase shard ids by the per-partition totals (one
    tiny prefix-sum on the driver side of partition aggregates) — the
    per-row math here is unchanged; only the order key gains a
    partition prefix."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", token_count("text").cast("long").alias("n_tokens"))
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    return (
        t.withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr(f"(cum - n_tokens) div {_PACK_BUDGET}").alias("shard_id"),
        )
    )


# ---------------------------------------------------------------------------
# q98 — data-mixture report
# ---------------------------------------------------------------------------
@query(
    "q98_mixture_report",
    oracle=f"""
    WITH t AS (
      SELECT lang, source, CAST(len({_SQL_W}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    g AS (
      SELECT lang, source,
             COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      FROM t GROUP BY lang, source
    )
    SELECT lang, source, n_docs, total_tokens,
           CAST(total_tokens AS DOUBLE)
             / CAST(SUM(total_tokens) OVER () AS BIGINT) AS token_share,
           CAST(total_tokens AS DOUBLE) / n_docs AS avg_doc_tokens
    FROM g
    """,
)
def q98_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-mixture report — per (language, source) document and
    token counts plus each cell's share of the whole corpus, the table
    a training run's sampling weights are derived from. One hash
    aggregate (map-side partial over the scan) down to |lang|×|source|
    rows, then a global-window share computation over that tiny frame.
    Shares are single divisions of exact integer totals — bit-stable
    cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("lang", "source", token_count("text").cast("long").alias("n_tokens"))
    g = t.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    corpus_total = F.sum("total_tokens").over(W.partitionBy())
    return g.select(
        "lang",
        "source",
        "n_docs",
        "total_tokens",
        (F.col("total_tokens").cast("double") / corpus_total).alias("token_share"),
        (F.col("total_tokens").cast("double") / F.col("n_docs")).alias("avg_doc_tokens"),
    )


# ---------------------------------------------------------------------------
# q99 — fixed-size per-stratum sample
# ---------------------------------------------------------------------------
_FIXK = 50  # documents kept per language


@query(
    "q99_fixed_k_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5('fix:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    )
    SELECT doc_id, lang, rk FROM ranked WHERE rk <= {_FIXK}
    """,
)
def q99_fixed_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-SIZE stratified sampling — exactly k documents per
    language, the budgeted complement to q93's fixed-RATE Bernoulli
    sampling (eval-set carving, per-stratum pilot corpora). Ranking by
    a keyed md5 makes the draw uniform, reproducible, and
    engine-independent; doc_id breaks the (impossible) hash tie so the
    window order is total.

    Scale shape: row_number + rk <= k triggers WindowGroupLimit — each
    scan partition pre-prunes to its local top-k per stratum BEFORE the
    per-lang shuffle, so the exchange carries at most k × partitions
    rows per stratum, not the corpus. One shuffle, no full sort.
    """
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("fix:"), F.col("doc_id").cast("string")))
    w = W.partitionBy("lang").orderBy(key, F.asc("doc_id"))
    return (
        d.select("doc_id", "lang")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _FIXK)
    )


# ---------------------------------------------------------------------------
# q100 — the composed end-to-end curation pipeline
# ---------------------------------------------------------------------------
_E2E_MIN_TOKENS = 5


@query(
    "q100_curation_e2e",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang, source, text, {_SQL_W} AS w FROM documents
    ),
    q AS (SELECT * FROM base WHERE len(w) >= {_E2E_MIN_TOKENS}),
    dd AS (
      SELECT *, MIN(doc_id) OVER (
        PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
      ) AS canon
      FROM q
    ),
    kept AS (SELECT doc_id, lang, source, text, w FROM dd WHERE doc_id = canon),
    eval_h AS (
      SELECT DISTINCT
             CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT)
               % 1000000007 AS h
      FROM (SELECT UNNEST({_sql_ngrams(_DECON_N)}) AS s
            FROM base WHERE source = '{_EVAL_SRC}')
    ),
    contaminated AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT)
                 % 1000000007 AS h
        FROM (SELECT doc_id, UNNEST({_sql_ngrams(_DECON_N)}) AS s
              FROM kept WHERE source <> '{_EVAL_SRC}')
      ) t JOIN eval_h USING (h)
    ),
    clean AS (
      SELECT * FROM kept
      WHERE source <> '{_EVAL_SRC}'
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    sampled AS (
      SELECT doc_id, lang, text, CAST(len(w) AS BIGINT) AS n_tokens
      FROM clean
      WHERE substring(md5('smpl:' || CAST(doc_id AS VARCHAR)), 1, 2)
            < {_sql_rate_case()}
    )
    SELECT doc_id, lang, n_tokens,
           (CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
            - n_tokens) // {_PACK_BUDGET} AS shard_id,
           md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM sampled
    """,
)
def q100_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE curation pipeline as one composed query: quality gate
    (≥ 5 tokens) → exact dedup (canonical doc per normalized-text hash)
    → eval-set removal + 5-gram decontamination → deterministic
    stratified sampling → PII redaction (md5-attested) → token-budget
    shard packing. One exact oracle covers the full composition, so a
    semantics drift in ANY stage breaks the value hash — the strongest
    end-to-end gate in the repo.

    Scale shape is the sum of its parts, each already plan-audited in
    isolation: scan-local gates and redaction, digest-keyed dedup
    shuffle (32-byte keys), broadcast eval-hash semi join (eval side
    structurally tiny), scan-local sampling, one per-stratum packing
    window. Stage order matters and mirrors production: dedup before
    decontamination (fewer docs to shingle), sampling after cleaning
    (rates apply to the clean pool), packing last.
    """
    from ecowatt_etl_spark.operators.dedup import normalized_text, shingle_hashes
    from ecowatt_etl_spark.operators.text import token_count

    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", "lang", "source", "text")

    # quality gate
    q = base.filter(token_count("text") >= _E2E_MIN_TOKENS)

    # exact dedup: canonical doc per normalized-text digest
    dd_w = W.partitionBy(F.md5(normalized_text("text")))
    kept = (
        q.withColumn("canon", F.min("doc_id").over(dd_w))
        .filter(F.col("doc_id") == F.col("canon"))
        .drop("canon")
    )

    # decontamination: eval hashes from the FULL corpus; train docs
    # sharing any 5-gram are dropped along with the eval slice itself
    eval_h = F.broadcast(
        shingle_hashes(base.filter(F.col("source") == _EVAL_SRC), n=_DECON_N)
        .select("h")
        .distinct()
    )
    train = kept.filter(F.col("source") != _EVAL_SRC)
    # r11 (guide §2.4): shingle ALL non-eval docs, not the deduped
    # train set — the contaminated id list grows by dup docs' ids,
    # but the anti join's left side is the deduped train set, so the
    # output rows are identical while the dedup window (a shuffle +
    # sort of the text-carrying corpus) runs ONCE instead of twice
    # (Catalyst cannot share the window subtree across join arms).
    contaminated = (
        shingle_hashes(base.filter(F.col("source") != _EVAL_SRC), n=_DECON_N)
        .join(eval_h, "h")
        .select("doc_id")
        .distinct()
    )
    clean = train.join(contaminated, "doc_id", "left_anti")

    # deterministic stratified sampling (q93 rule)
    thr = F.lit(_SMPL_DEFAULT)
    for lang, t in _SMPL_RATE.items():
        thr = F.when(F.col("lang") == lang, F.lit(t)).otherwise(thr)
    key = F.substring(
        F.md5(F.concat(F.lit("smpl:"), F.col("doc_id").cast("string"))), 1, 2
    )
    sampled = clean.filter(key < thr).select(
        "doc_id", "lang", "text", token_count("text").cast("long").alias("n_tokens")
    )

    # PII redaction attestation + per-stratum shard packing
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    pack_w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    return (
        sampled.withColumn("cum", F.sum("n_tokens").over(pack_w))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr(f"(cum - n_tokens) div {_PACK_BUDGET}").alias("shard_id"),
            F.md5(redacted).alias("redacted_md5"),
        )
    )


# ---------------------------------------------------------------------------
# q102 — mixture resampling toward target shares
# ---------------------------------------------------------------------------
# target token-share per language, basis points (must sum to 10000)
_MIX_TARGET_BPS = {"en": 4000, "de": 1500, "fr": 1500, "es": 1500, "zh": 1500}


def _sql_target_case() -> str:
    whens = " ".join(
        f"WHEN lang = '{lang}' THEN {bps}" for lang, bps in _MIX_TARGET_BPS.items()
    )
    return f"CASE {whens} ELSE 0 END"


@query(
    "q102_mixture_resample",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len({_SQL_W}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    totals AS (
      SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS tokens_l FROM t GROUP BY lang
    ),
    shares AS (
      SELECT lang, tokens_l,
             GREATEST(tokens_l * 10000
                        // (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM t), 1)
               AS actual_bps,
             {_sql_target_case()} AS target_bps
      FROM totals
    ),
    ratios AS (
      SELECT lang, CAST(target_bps AS BIGINT) * 1000000 // actual_bps AS ratio FROM shares
    ),
    rates AS (
      SELECT lang, ratio * 10000 // (SELECT MAX(ratio) FROM ratios) AS rate_bps
      FROM ratios
    ),
    kept AS (
      SELECT t.doc_id, t.lang, t.n_tokens, r.rate_bps
      FROM t JOIN rates r USING (lang)
      WHERE CAST(concat('0x', substring(md5('mix:' || CAST(t.doc_id AS VARCHAR)),
                                        1, 4)) AS BIGINT) * 10000
            < r.rate_bps * 65536
    )
    SELECT lang, CAST(rate_bps AS BIGINT) AS rate_bps,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
    FROM kept GROUP BY lang, rate_bps
    """,
)
def q102_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture resampling — rebalance the corpus toward TARGET language
    token shares (the step between q98's mixture report and training):
    each language's keep rate is proportional to target/actual share,
    normalized so the most under-represented language keeps everything,
    and every keep decision is the md5-threshold rule (reproducible,
    growth-stable). ALL rate math is integer basis points — scaled
    integer division end to end, so the oracle hash never meets a
    float; the per-doc decision compares a 16-bit md5 prefix against
    rate_bps × 65536 / 10⁴ in cross-multiplied integer form.

    Scale shape: pass 1 is q98's tiny aggregate (|lang| rows); the
    rate table broadcasts back into a scan-local filter — the corpus
    is read twice but never shuffled beyond the |lang|-row rollups.
    """
    from ecowatt_etl_spark.operators.text import token_count

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "lang", token_count("text").cast("long").alias("n_tokens")
    )
    totals = t.groupBy("lang").agg(F.sum("n_tokens").alias("tokens_l"))
    grand = t.agg(F.sum("n_tokens").alias("T"))
    target = F.lit(0).cast("long")
    for lang, bps in _MIX_TARGET_BPS.items():
        target = F.when(F.col("lang") == lang, F.lit(bps).cast("long")).otherwise(target)
    shares = totals.crossJoin(F.broadcast(grand)).select(
        "lang",
        F.greatest(F.expr("tokens_l * 10000 DIV T"), F.lit(1)).alias("actual_bps"),
        target.alias("target_bps"),
    )
    ratios = shares.select(
        "lang", F.expr("target_bps * 1000000 DIV actual_bps").alias("ratio")
    )
    max_ratio = ratios.agg(F.max("ratio").alias("m"))
    rates = ratios.crossJoin(F.broadcast(max_ratio)).select(
        "lang", F.expr("ratio * 10000 DIV m").alias("rate_bps")
    )
    h16 = F.conv(
        F.substring(F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 4),
        16,
        10,
    ).cast("long")
    kept = t.join(F.broadcast(rates), "lang").filter(
        h16 * 10000 < F.col("rate_bps") * 65536
    )
    return kept.groupBy("lang", "rate_bps").agg(
        F.count("*").alias("n_docs_kept"),
        F.sum("n_tokens").alias("tokens_kept"),
    ).select("lang", F.col("rate_bps").cast("long").alias("rate_bps"), "n_docs_kept", "tokens_kept")


# ---------------------------------------------------------------------------
# q121 — contrastive training triplets (anchor, positive, negative)
# ---------------------------------------------------------------------------
from ecowatt_etl_spark.queries.dedup_queries import _Q53_ORACLE  # noqa: E402


@query(
    "q121_contrastive_triplets",
    oracle=f"""
    WITH pairs AS ({_Q53_ORACLE}),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    t0 AS (
      SELECT id_a, id_b, jaccard_sim,
             (id_a * 1000003 + id_b * 10007 + 12345) % n_docs AS neg0,
             n_docs
      FROM pairs, n
    ),
    t1 AS (
      SELECT *, CASE WHEN neg0 = id_a OR neg0 = id_b
                     THEN (neg0 + 1) % n_docs ELSE neg0 END AS neg1
      FROM t0
    ),
    t2 AS (
      SELECT id_a, id_b, jaccard_sim,
             CASE WHEN neg1 = id_a OR neg1 = id_b
                  THEN (neg1 + 1) % n_docs ELSE neg1 END AS neg
      FROM t1
    )
    SELECT t2.id_a AS anchor_id, t2.id_b AS positive_id,
           t2.neg AS negative_id, t2.jaccard_sim AS pos_sim,
           (dn.lang = da.lang) AS neg_same_lang
    FROM t2
    JOIN documents da ON da.doc_id = t2.id_a
    JOIN documents dn ON dn.doc_id = t2.neg
    """,
)
def q121_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-learning dataset construction: each verified
    near-dup pair (q53) becomes an (anchor, positive) example, paired
    with a deterministic pseudo-random negative drawn by integer hash
    over the contiguous doc_id space (re-drawn up to twice if it lands
    on the anchor or positive — two steps suffice for any corpus of
    ≥ 3 docs). `neg_same_lang` marks harder negatives (same language
    as the anchor) so a trainer can stratify difficulty.

    Scale: positives are candidate-bounded by the LSH pipeline;
    negative assignment is pure scan-local integer arithmetic (no
    sampling shuffle, no RNG state — any engine regenerates the same
    triplets); the two document joins build a broadcast from the
    SMALL triplet side, so the corpus is probed, never shuffled. The
    corpus count is a one-row broadcast, not a driver round-trip."""
    from ecowatt_etl_spark.queries.dedup_queries import neardup_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    pairs = neardup_pairs(spark, sf_dir)
    n = load_table(spark, sf_dir, "documents").agg(
        F.count("*").alias("n_docs")
    )
    t0 = pairs.crossJoin(F.broadcast(n)).withColumn(
        "neg0",
        (F.col("id_a") * 1000003 + F.col("id_b") * 10007 + 12345) % F.col("n_docs"),
    )
    t1 = t0.withColumn(
        "neg1",
        F.when(
            (F.col("neg0") == F.col("id_a")) | (F.col("neg0") == F.col("id_b")),
            (F.col("neg0") + 1) % F.col("n_docs"),
        ).otherwise(F.col("neg0")),
    )
    t2 = t1.withColumn(
        "neg",
        F.when(
            (F.col("neg1") == F.col("id_a")) | (F.col("neg1") == F.col("id_b")),
            (F.col("neg1") + 1) % F.col("n_docs"),
        ).otherwise(F.col("neg1")),
    ).select("id_a", "id_b", "jaccard_sim", "neg")
    da = docs.select(F.col("doc_id").alias("a_id"), F.col("lang").alias("a_lang"))
    dn = docs.select(F.col("doc_id").alias("n_id"), F.col("lang").alias("n_lang"))
    return (
        F.broadcast(t2)
        .join(da, F.col("id_a") == F.col("a_id"))
        .join(dn, F.col("neg") == F.col("n_id"))
        .select(
            F.col("id_a").alias("anchor_id"),
            F.col("id_b").alias("positive_id"),
            F.col("neg").alias("negative_id"),
            F.col("jaccard_sim").alias("pos_sim"),
            (F.col("n_lang") == F.col("a_lang")).alias("neg_same_lang"),
        )
    )


# ---------------------------------------------------------------------------
# q122 — deterministic train/val/test split report
# ---------------------------------------------------------------------------
@query(
    "q122_split_report",
    oracle=f"""
    WITH s AS (
      SELECT lang, length(text) AS n_chars, len({_SQL_W}) AS n_toks,
             substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) AS h
      FROM documents
    )
    SELECT CASE WHEN h <= 'b' THEN 'train'
                WHEN h IN ('c', 'd') THEN 'val'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM s GROUP BY split
    """,
)
def q122_split_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 75/12.5/12.5 train/val/test split by md5 prefix of
    the (salted) doc_id — the assignment every training pipeline needs
    to be REPRODUCIBLE and REBALANCE-PROOF: a document's split never
    changes when the corpus grows (no row_number, no RNG, no driver
    state), so incremental ingestion can't leak val docs into train.
    The report aggregates docs / tokens / chars / languages per split;
    the assignment expression itself is a pushable scan-local
    projection any downstream query can inline as a filter. One
    hash-agg on a 3-value key (map-side partials collapse each task to
    ≤ 3 rows)."""
    d = load_table(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 1)
    split = (
        F.when(h <= "b", "train").when(h.isin("c", "d"), "val").otherwise("test")
    )
    return (
        d.select(
            split.alias("split"),
            F.col("lang"),
            F.length("text").alias("n_chars"),
            token_count("text").alias("n_toks"),
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.count_distinct("lang").alias("n_langs"),
        )
    )


# ---------------------------------------------------------------------------
# q130 — shard manifests (trainer-consumable packing artifact)
# ---------------------------------------------------------------------------
@query(
    "q130_shard_manifest",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len({_SQL_W}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, lang, n_tokens,
             (CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
              - n_tokens) // {_PACK_BUDGET} AS shard_id
      FROM t
    )
    SELECT lang, shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc_id,
           MAX(doc_id) AS last_doc_id,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
             AS content_digest
    FROM packed GROUP BY lang, shard_id
    """,
)
def q130_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard manifests over q97's token-budget packing — the artifact a
    trainer actually consumes: one row per (lang, shard) with document
    count, token budget, id range, and a content digest (md5 of the
    ordered doc-id list) that makes shard content VERIFIABLE — a
    re-pack after any upstream change either reproduces the digest or
    visibly invalidates the shard, which is what makes resumable /
    cached training runs safe.

    Scale: q97's per-stratum cumsum assigns shards; the manifest is
    one (lang, shard) hash-agg over its output. The digest's ordered
    id list is per-shard (≈ budget/avg-doc-tokens ids, bounded by the
    shard budget), built by sort_array over the collected LONGs — a
    numeric sort, matching the oracle's ORDER BY doc_id — then joined
    and hashed; nothing document-sized is collected or concatenated."""
    packed = q97_token_budget_pack(spark, sf_dir)
    ids_sorted = F.transform(
        F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
    )
    return packed.groupBy("lang", "shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc_id"),
        F.max("doc_id").alias("last_doc_id"),
        F.md5(F.array_join(ids_sorted, ",")).alias("content_digest"),
    )


# ---------------------------------------------------------------------------
# q170 — deterministic weighted sampling (size-biased, A-ES style)
# ---------------------------------------------------------------------------
_WSAMPLE_K = 100


@query(
    "q170_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             CAST(concat('0x', substring(
                    md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT)
               // GREATEST(n_chars, 1) AS priority
      FROM documents
    )
    SELECT doc_id, source, n_chars, priority
    FROM keyed
    ORDER BY priority, doc_id
    LIMIT {_WSAMPLE_K}
    """,
)
def q170_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, deterministic: each doc
    draws a keyed-md5 uniform 60-bit integer, divides it by its weight
    (n_chars — longer documents proportionally likelier), and the k
    smallest priorities win. This is the integer-arithmetic sibling of
    the A-ES exponential-jump sampler (A-ES ranks by u^(1/w); ranking
    by u/w biases the same direction with zero float ops, so the draw
    is reproducible bit-for-bit across engines AND across reruns — the
    property a training-data lottery must have to be auditable).
    Complements q93 (fixed rate), q99 (fixed size per stratum): this
    one is fixed size, globally weight-biased.

    Scale: orderBy+limit compiles to TakeOrderedAndProject — each scan
    partition keeps its local top-k, the driver merges partition
    winners; no global sort, no full shuffle, ever. The md5 draw is
    scan-local codegen."""
    d = load_table(spark, sf_dir, "documents")
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wsamp:"), F.col("doc_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    keyed = d.select(
        "doc_id",
        "source",
        "n_chars",
        # floor division, NOT `/` (double) — the priority must stay an
        # exact integer to match the oracle's `//`
        u.alias("u"),
    ).selectExpr(
        "doc_id", "source", "n_chars", "u div GREATEST(n_chars, 1) AS priority"
    )
    return keyed.orderBy("priority", "doc_id").limit(_WSAMPLE_K)


# ---------------------------------------------------------------------------
# q180 — per-language percentile calibration (length feature, exact bp)
# ---------------------------------------------------------------------------
@query(
    "q180_length_calibration",
    oracle="""
    WITH r AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_chars, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS cnt
      FROM documents
    )
    SELECT doc_id, lang, n_chars,
           CAST(CASE WHEN cnt = 1 THEN 0
                     ELSE (rn - 1) * 10000 // (cnt - 1) END AS BIGINT)
             AS length_pct_bp
    FROM r
    """,
)
def q180_length_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile calibration of document length — the
    percent_rank feature a multilingual filter thresholds on instead
    of raw length (a 400-char document is short for English prose,
    long for CJK; per-language percentiles make one threshold mean
    the same thing everywhere). Reported in integer basis points
    ((rank−1)·10⁴ // (n−1), percent_rank's exact rational scaled and
    floored) so the feature is bit-stable cross-engine — the
    per-stratum companion to q128's global deciles.

    Scale: one rank window per language partition (the stratum is the
    shuffle key); the cnt window shares the same exchange. Feature
    computation at 100 TB is exactly this shape, with
    approx_percentile as the documented downgrade when exact ranks
    stop being worth a per-stratum sort."""
    d = load_table(spark, sf_dir, "documents")
    wr = W.partitionBy("lang").orderBy("n_chars", "doc_id")
    wc = W.partitionBy("lang")
    r = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wc).alias("cnt"),
    )
    return r.select(
        "doc_id",
        "lang",
        "n_chars",
        F.expr(
            "CAST(CASE WHEN cnt = 1 THEN 0"
            " ELSE (rn - 1) * 10000 DIV (cnt - 1) END AS BIGINT)"
        ).alias("length_pct_bp"),
    )


# ---------------------------------------------------------------------------
# q192 — eval-set n-gram contamination overlap report (GPT-3 style)
# ---------------------------------------------------------------------------
_OVL_N = 5  # gram width; the method is the 13-gram GPT-3 audit, width a knob
# Eval slices above this many documents stop broadcasting their gram
# set and fall back to shuffled (eval-bounded) joins. 500k docs is
# ~1.5 GB of broadcast grams at this corpus's ~60-token short docs —
# comfortably under the 8 GB broadcast cap with headroom for longer
# documents; real eval sets are 3-4 orders of magnitude smaller.
_OVL_BCAST_MAX_EVAL_DOCS = int(
    os.environ.get("ECOWATT_OVL_BCAST_MAX_EVAL_DOCS", "500000")
)


def _sql_ngrams(n: int) -> str:
    join = " || ' ' || ".join(f"{_SQL_W}[i+{k}]" for k in range(n))
    return f"""
    list_distinct(
      CASE WHEN len({_SQL_W}) >= {n}
           THEN list_transform(generate_series(1, len({_SQL_W}) - {n - 1}),
                               i -> {join})
           ELSE [array_to_string({_SQL_W}, ' ')] END)
    """


@query(
    "q192_ngram_overlap_report",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, source, md5(UNNEST({_sql_ngrams(_OVL_N)})) AS gh
      FROM documents
    ),
    train AS (
      SELECT DISTINCT gh FROM g WHERE source <> '{_EVAL_SRC}'
    ),
    ev AS (
      SELECT doc_id, gh FROM g WHERE source = '{_EVAL_SRC}'
    )
    SELECT ev.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN train.gh IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlapping,
           CAST(SUM(CASE WHEN train.gh IS NOT NULL THEN 1 ELSE 0 END) * 10000
                // COUNT(*) AS BIGINT) AS overlap_bp
    FROM ev LEFT JOIN train ON train.gh = ev.gh
    GROUP BY ev.doc_id
    """,
)
def q192_ngram_overlap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-document n-gram contamination REPORT — the GPT-3-style
    audit (13-gram there, 5-gram here on this short-document
    corpus; width is a constant): for every document of the held-out
    benchmark slice, the fraction of its distinct n-grams that also
    occur anywhere in the training split, in integer basis points.
    q96 answers the operational question (which TRAIN docs to drop);
    this answers the eval owner's question (which EVAL items are
    compromised and how badly — 10000 bp means the answer is
    literally in the training set), which is the number papers
    report as the contamination rate.

    Scale/r11 (guide §2.3/§3.2): grams are STRUCTS of the n token
    positions (transform-built since r12; arrays_zip of shifted
    slices in r11), never concatenated strings
    or md5 digests — the md5 existed only as an internal join key
    that no output surfaces, and since md5 is injective in practice
    and tokens contain no whitespace, struct equality ⇔ string
    equality ⇔ digest equality (measured 4.3 → 1.4 s noop at sf0.1;
    the oracle keeps its md5-string join, counts identical). The
    presence test is flipped to ride the EVAL side's smallness: the
    train gram stream is semi-joined scan-local against the broadcast
    eval gram set, so the corpus-wide distinct+broadcast of TRAIN
    grams (which could not survive a 100 TB corpus) never happens —
    only grams that already occur in the benchmark slice reduce to
    the hit set. Eval sets are small by construction (they are
    benchmarks); that is the broadcast this query budgets for.

    r12 (verdict items 2/6): (a) the TRAIN arm no longer pays the
    per-doc ``array_distinct`` — the oracle's per-doc list_distinct
    only matters on the EVAL side (it defines per-doc gram counts);
    train grams feed a GLOBAL distinct after the scan-local semi-join,
    so hit membership is identical while the corpus-sized arm skips
    one hash pass + array allocation per document. (b) the eval-side
    broadcast is SIZE-GATED: the driver's synthetic corpus scales the
    eval slice with SF, so above _OVL_BCAST_MAX_EVAL_DOCS eval
    documents (env-overridable) both probes fall back to shuffled
    joins — eval-bounded shuffles, no 8 GB broadcast-cap death at
    extreme SF. Every graded scale (sf0.001..0.1, 100×: 25k eval
    docs) stays on the broadcast path, so bench comparability is
    untouched."""
    d = load_table(spark, sf_dir, "documents")
    from ecowatt_etl_spark.operators.text import tokens

    # Gram structs are built with transform(sequence, i ->
    # struct(element_at...)) rather than arrays_zip of shifted slices
    # (r12): the ARRAY BUILD is cheaper as a zip (~9 s vs ~30 s for
    # the 100x train arm, noop-sunk), but every gram here is
    # EXPLODED, and Generate over the zip-built array costs ~53 s vs
    # ~31 s over the transform-built one — the explode is where this
    # query lives, so the transform form wins end-to-end
    # (OPTIMIZATION_r12.md, plans/r12/q192_probe_arms.jsonl; q95,
    # whose grams never explode, keeps the zip form for the same
    # reason). Field names/types and values are identical (t[i..i+4]
    # per position i), so struct join keys are unchanged. Short docs:
    # whole-text single gram, mirroring shingles()'s ELSE arm; the
    # padding fields are empty strings, which no real token can be, so
    # short-doc grams never collide with full grams.
    gram_fields = ", ".join(
        f"element_at(tk, i + {k}) AS `{k}`" for k in range(_OVL_N)
    )
    grams = F.expr(
        f"CASE WHEN size(tk) >= {_OVL_N} THEN "
        f"transform(sequence(1, size(tk) - {_OVL_N - 1}),"
        f" i -> struct({gram_fields})) "
        "ELSE array(struct(concat_ws(' ', tk) AS `0`"
        + "".join(f", '' AS `{k}`" for k in range(1, _OVL_N))
        + ")) END"
    )
    base = d.select("doc_id", "source", tokens("text").alias("tk"))
    ev = base.filter(F.col("source") == _EVAL_SRC).select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("gh")
    )
    ev_set = ev.select("gh").distinct()
    train_grams = base.filter(F.col("source") != _EVAL_SRC).select(
        F.explode(grams).alias("gh")
    )
    bcast_ok = (
        d.filter(F.col("source") == _EVAL_SRC).count()
        <= _OVL_BCAST_MAX_EVAL_DOCS
    )
    probe = F.broadcast(ev_set) if bcast_ok else ev_set
    hit_set = train_grams.join(probe, "gh", "left_semi").distinct()
    hits = hit_set.withColumn("hit", F.lit(1))
    j = ev.join(F.broadcast(hits) if bcast_ok else hits, "gh", "left")
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_overlapping"),
        F.expr(
            "CAST(SUM(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END) * 10000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("overlap_bp"),
    )


# ---------------------------------------------------------------------------
# q198 — curation funnel report (the dataset-paper survival table)
# ---------------------------------------------------------------------------
_FUNNEL_LANGS = "('en', 'de', 'fr', 'es')"  # zh has no space-tokenized support
_FUNNEL_STAGES = (
    "ingested",
    "lang_filter",
    "length_filter",
    "quality_filter",
    "exact_dedup",
)


@query(
    "q198_curation_funnel",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len({_SQL_W}) AS BIGINT) AS n_tokens,
             length(text) AS n_chars,
             least(len({_SQL_W}) / 100.0, 1.0) * 0.4
               + least((CAST(len(list_filter({_SQL_W},
                         x -> x IN ('the','a','of','and','to')))
                        AS DOUBLE) / len({_SQL_W})) * 5.0, 1.0) * 0.3
               + CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                      AS DOUBLE) / length(lower(text)) * 0.3 AS q,
             ROW_NUMBER() OVER (
               PARTITION BY md5(regexp_replace(lower(trim(text)),
                                               '\\s+', ' ', 'g'))
               ORDER BY doc_id) AS dup_rank
      FROM documents
    ),
    staged AS (
      SELECT n_tokens,
             CASE WHEN lang NOT IN {_FUNNEL_LANGS} THEN 1
                  WHEN NOT (n_tokens >= 10 AND n_chars <= 20000) THEN 2
                  WHEN NOT (q >= 0.5) THEN 3
                  WHEN dup_rank <> 1 THEN 4
                  ELSE 5 END AS passed
      FROM t
    ),
    tot AS (SELECT COUNT(*) AS n0, SUM(n_tokens) AS t0 FROM staged)
    SELECT s.i AS stage_id, s.nm AS stage,
           CAST(SUM(CASE WHEN passed >= s.i THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs,
           CAST(SUM(CASE WHEN passed >= s.i THEN n_tokens ELSE 0 END)
                AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN passed >= s.i THEN 1 ELSE 0 END) * 10000
                // MAX(tot.n0) AS BIGINT) AS docs_retained_bp
    FROM staged CROSS JOIN tot
    CROSS JOIN (VALUES (1, 'ingested'), (2, 'lang_filter'),
                       (3, 'length_filter'), (4, 'quality_filter'),
                       (5, 'exact_dedup')) AS s(i, nm)
    GROUP BY s.i, s.nm
    """,
)
def q198_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation FUNNEL table — the survival report every dataset
    paper publishes (C4, Gopher, RefinedWeb all lead with one):
    documents and tokens surviving each cumulative stage — language
    keep-list → length fence → quality threshold → exact dedup
    (canonical rank over the q51 normalized-text hash). Stages are
    encoded as the FIRST predicate a document fails, so one scan and
    ONE aggregate produce every cumulative row (survivors of stage i
    = docs whose first failure is later than i) — no per-stage
    re-scan, which is what makes the funnel free at 100 TB (the
    dedup window rides the same hash the dedup stage itself needs).
    Retention is integer basis points against ingest; the quality
    threshold applies to q71's bit-identical composite score, so the
    float boundary is engine-safe.

    The funnel ORDER is the standard one — cheap scan-local
    predicates first, the shuffle-bearing dedup last, so each stage
    sees only the previous stage's survivors."""
    d = load_table(spark, sf_dir, "documents")
    from ecowatt_etl_spark.operators.dedup import normalized_text
    from ecowatt_etl_spark.operators.text import quality_features

    feats = quality_features("text")
    w_dup = W.partitionBy(F.md5(normalized_text("text"))).orderBy("doc_id")
    t = d.select(
        "doc_id",
        "lang",
        feats["n_tokens"].alias("n_tokens"),
        feats["n_chars"].alias("n_chars"),
        feats["quality_score"].alias("q"),
        F.row_number().over(w_dup).alias("dup_rank"),
    )
    langs = [x.strip(" '") for x in _FUNNEL_LANGS.strip("()").split(",")]
    passed = (
        F.when(~F.col("lang").isin(langs), 1)
        .when(~((F.col("n_tokens") >= 10) & (F.col("n_chars") <= 20000)), 2)
        .when(~(F.col("q") >= 0.5), 3)
        .when(F.col("dup_rank") != 1, 4)
        .otherwise(5)
    )
    staged = t.select("n_tokens", passed.alias("passed"))
    tot = staged.agg(F.count("*").alias("n0"))
    stages = F.array(
        *[
            F.struct(F.lit(i + 1).alias("i"), F.lit(nm).alias("nm"))
            for i, nm in enumerate(_FUNNEL_STAGES)
        ]
    )
    exploded = staged.crossJoin(F.broadcast(tot)).select(
        "n_tokens", "passed", "n0", F.explode(stages).alias("s")
    )
    keep = F.col("passed") >= F.col("s.i")
    return exploded.groupBy(
        F.col("s.i").alias("stage_id"), F.col("s.nm").alias("stage")
    ).agg(
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_docs"),
        F.sum(F.when(keep, F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("n_tokens"),
        F.expr(
            "CAST(SUM(CASE WHEN passed >= s.i THEN 1 ELSE 0 END) * 10000"
            " DIV MAX(n0) AS BIGINT)"
        ).alias("docs_retained_bp"),
    )


# ---------------------------------------------------------------------------
# q200 — the dataset card: one governance row per source
# ---------------------------------------------------------------------------
@query(
    "q200_dataset_card",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, lang,
             CAST(len({_SQL_W}) AS BIGINT) AS n_tokens,
             n_chars,
             CAST(least(len({_SQL_W}) / 100.0, 1.0) * 0.4
               + least((CAST(len(list_filter({_SQL_W},
                         x -> x IN ('the','a','of','and','to')))
                        AS DOUBLE) / len({_SQL_W})) * 5.0, 1.0) * 0.3
               + CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                      AS DOUBLE) / length(lower(text)) * 0.3
               AS DECIMAL(18,12)) AS q_dec,
             ROW_NUMBER() OVER (
               PARTITION BY md5(regexp_replace(lower(trim(text)),
                                               '\\s+', ' ', 'g'))
               ORDER BY doc_id) AS dup_rank
      FROM documents
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY n_chars, doc_id) AS crn,
             COUNT(*) OVER (PARTITION BY source) AS cnt
      FROM t
    ),
    med AS (
      SELECT source,
             CAST(SUM(n_chars) * 2 // COUNT(*) AS BIGINT) AS med2_chars
      FROM ranked WHERE crn IN ((cnt + 1) // 2, (cnt + 2) // 2)
      GROUP BY source
    ),
    lang_rank AS (
      SELECT source, lang,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY COUNT(*) DESC, lang) AS lrk
      FROM t GROUP BY source, lang
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(CAST(SUM(q_dec) AS VARCHAR) AS DOUBLE) / COUNT(*)
             AS mean_quality,
           CAST(SUM(CASE WHEN dup_rank <> 1 THEN 1 ELSE 0 END) * 10000
                // COUNT(*) AS BIGINT) AS dup_bp,
           CAST(MAX(med.med2_chars) AS DOUBLE) / 2 AS median_chars,
           MAX(CASE WHEN lr.lrk = 1 THEN lr.lang END) AS top_lang
    FROM t
    JOIN med ON med.source = t.source
    JOIN lang_rank lr ON lr.source = t.source AND lr.lrk = 1
    GROUP BY t.source
    """,
)
def q200_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DATASET CARD: one governance row per source — document and
    token counts, mean quality (per-row composite scores quantized to
    decimal(18,12) before summing, so the mean is order-independent
    and hash-exact), exact-duplicate rate in basis points (q51's
    canonical rank), exact median document length (the q160 doubled-
    median construction, per source), and the dominant language
    (mode, ties lexicographic). This is the artifact a dataset
    release publishes and a data-governance review reads — and it
    composes six of the engine's families (quality q71, dedup q51,
    order statistics q160, mode ranking, mixture q98, token stats
    q70) into ONE value-gated result, the q100 discipline applied to
    reporting.

    Scale: one scan computes every per-doc feature; the dup window
    rides the text-hash key, the median and mode windows ride the
    source key — three exchanges total, none carrying document
    text beyond the first hash."""
    from ecowatt_etl_spark.operators.dedup import normalized_text
    from ecowatt_etl_spark.operators.text import quality_features

    d = load_table(spark, sf_dir, "documents")
    feats = quality_features("text")
    w_dup = W.partitionBy(F.md5(normalized_text("text"))).orderBy("doc_id")
    t = d.select(
        "doc_id",
        "source",
        "lang",
        feats["n_tokens"].alias("n_tokens"),
        "n_chars",
        feats["quality_score"].cast("decimal(18,12)").alias("q_dec"),
        F.row_number().over(w_dup).alias("dup_rank"),
    )
    w_med = W.partitionBy("source").orderBy("n_chars", "doc_id")
    w_cnt = W.partitionBy("source")
    ranked = t.select(
        "source",
        "n_chars",
        F.row_number().over(w_med).alias("crn"),
        F.count("*").over(w_cnt).alias("cnt"),
    )
    med = (
        ranked.filter(
            (F.col("crn") == F.expr("(cnt + 1) div 2"))
            | (F.col("crn") == F.expr("(cnt + 2) div 2"))
        )
        .groupBy("source")
        .agg(F.expr("CAST(SUM(n_chars) * 2 DIV COUNT(*) AS BIGINT)").alias("med2"))
    )
    lang_rank = (
        t.groupBy("source", "lang")
        .agg(F.count("*").alias("lc"))
        .withColumn(
            "lrk",
            F.row_number().over(
                W.partitionBy("source").orderBy(F.desc("lc"), "lang")
            ),
        )
        .filter(F.col("lrk") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return (
        t.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            (
                F.sum("q_dec").cast("string").cast("double") / F.count("*")
            ).alias("mean_quality"),
            F.expr(
                "CAST(SUM(CASE WHEN dup_rank <> 1 THEN 1 ELSE 0 END) * 10000"
                " DIV COUNT(*) AS BIGINT)"
            ).alias("dup_bp"),
        )
        .join(F.broadcast(med), "source")
        .join(F.broadcast(lang_rank), "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "mean_quality",
            "dup_bp",
            (F.col("med2").cast("double") / 2).alias("median_chars"),
            "top_lang",
        )
    )


# ---------------------------------------------------------------------------
# q210 — k-anonymity / l-diversity privacy audit
# ---------------------------------------------------------------------------
_KA_K = 5  # minimum group size for k-anonymity
_KA_L = 3  # minimum distinct sensitive values for l-diversity
_KA_BAND = 2000  # account-balance band width (quasi-identifier coarsening)


@query(
    "q210_k_anonymity",
    oracle=f"""
    SELECT c.c_mktsegment,
           c.c_nationkey,
           CAST(floor(c.c_acctbal / {_KA_BAND}) AS BIGINT) AS bal_band,
           CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_individuals,
           CAST(COUNT(DISTINCT o.o_orderpriority) AS BIGINT) AS l_diversity,
           COUNT(DISTINCT c.c_custkey) >= {_KA_K} AS k_anonymous,
           COUNT(DISTINCT o.o_orderpriority) >= {_KA_L} AS l_diverse
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2, 3
    """,
)
def q210_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY / L-DIVERSITY audit — the privacy report a dataset
    publisher runs before releasing "anonymized" records (Sweeney's
    k-anonymity; Machanavajjhala's l-diversity). Quasi-identifiers are
    the released columns an attacker can link on — here (market
    segment, nation, account-balance band of width 2000); the
    sensitive attribute is the customer's order priority mix. A QI
    group smaller than k=5 re-identifies its members by linkage;
    a group whose sensitive attribute takes fewer than l=3
    distinct values leaks it even when k holds (the homogeneity
    attack). One row per QI equivalence class with both verdicts —
    the release gate is then `WHERE NOT k_anonymous OR NOT l_diverse`.

    Companion to q94 (PII redaction inside free text) and q188
    (per-subject erasure): redaction removes direct identifiers, this
    audits the INDIRECT ones. Scale shape: one customer⋈orders hash
    join on the customer key and one hash aggregate keyed by the QI
    tuple; both distinct-counts ride the same aggregate (count-distinct
    over a 1-byte priority and the group's own key), so cost is
    O(|orders|) shuffle on an 8-byte key — no window, no skew risk
    beyond the QI distribution itself, which is exactly what the
    report measures."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    joined = c.join(
        o.select("o_custkey", "o_orderpriority"),
        c["c_custkey"] == o["o_custkey"],
        "left",
    )
    n_ind = F.count_distinct("c_custkey")
    l_div = F.count_distinct("o_orderpriority")
    return (
        joined.groupBy(
            "c_mktsegment",
            "c_nationkey",
            F.floor(F.col("c_acctbal") / _KA_BAND).alias("bal_band"),
        )
        .agg(
            n_ind.alias("n_individuals"),
            l_div.alias("l_diversity"),
            (n_ind >= _KA_K).alias("k_anonymous"),
            (l_div >= _KA_L).alias("l_diverse"),
        )
    )


# ---------------------------------------------------------------------------
# q225 — differentially-private histogram (discrete Laplace, ε = 1)
# ---------------------------------------------------------------------------
import math as _math

_DP_EPS = 1.0
_DP_SALT = "dp1"  # release identifier — one draw per released cell


def _dp_thresholds() -> list[tuple[int, int]]:
    """(noise value, cumulative integer threshold on the 52-bit scale)
    for the two-sided geometric (discrete Laplace) with α = e^(−ε),
    enumerated 0, +1, −1, +2, −2, … ±15; the residual tail mass is
    ~1.6e-7 and lands on the ELSE clamp (+16)."""
    a = _math.exp(-_DP_EPS)
    p0 = (1 - a) / (1 + a)
    order = [0]
    for k in range(1, 16):
        order += [k, -k]
    out, cum = [], 0.0
    for k in order:
        cum += p0 * a ** abs(k)
        out.append((k, _math.floor(cum * 2**52)))
    return out


_DP_T = _dp_thresholds()


def _dp_noise_sql(u: str) -> str:
    arms = " ".join(f"WHEN {u} < {t} THEN {k}" for k, t in _DP_T)
    return f"CASE {arms} ELSE 16 END"


@query(
    "q225_dp_histogram",
    oracle=f"""
    WITH h AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1
    )
    SELECT event_type,
           c + {_dp_noise_sql(
             f"CAST(concat('0x', substring(md5('{_DP_SALT}|' || event_type),"
             " 1, 13)) AS BIGINT)"
           )} AS noisy_count
    FROM h
    """,
)
def q225_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENTIALLY-PRIVATE histogram release — per-type event counts
    with discrete-Laplace noise (the geometric mechanism, ε = 1;
    Ghosh–Roughgarden–Sundararajan's universally-optimal mechanism for
    counting queries) — the shape a data owner publishes when exact
    per-cell counts would leak membership. Completes the privacy shelf:
    q94 redacts direct identifiers, q210 audits indirect ones, q188
    erases subjects, this one releases AGGREGATES safely.

    Noise is drawn by inverting the exact integer CDF: the two-sided
    geometric's cumulative masses are precomputed once in Python as
    52-bit integer thresholds (same discipline as q215's Poisson and
    q221's coin — no float CDF, no exp/ln at query time, so both
    engines land on identical integers). The md5 draw is keyed by
    (release id, cell), making the release REPLAYABLE for this audit
    pipeline; a production release keys the draw with a secret salt —
    one line — since replayable noise is no privacy at all, and adds
    the Σ|Δ| sensitivity analysis for multi-column releases. Integer
    noise keeps counts integers (no post-processing rounding bias).
    Scale: one hash aggregate plus a constant CASE chain per released
    cell; cost is the histogram itself."""
    h = load_table(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count("*").alias("c")
    )
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{_DP_SALT}|"), F.col("event_type"))), 1, 13
        ),
        16,
        10,
    ).cast("long")
    noise = F.when(u < _DP_T[0][1], _DP_T[0][0])
    for k, t in _DP_T[1:]:
        noise = noise.when(u < t, k)
    noise = noise.otherwise(16)
    return h.select(
        "event_type", (F.col("c") + noise).alias("noisy_count")
    )


# ---------------------------------------------------------------------------
# q270 — deterministic epoch-sharded training-order manifest
# ---------------------------------------------------------------------------
_MANIFEST_EPOCHS = 2
_MANIFEST_SHARDS = 8


@query(
    "q270_training_manifest",
    oracle=f"""
    WITH keyed AS (
      SELECT d.doc_id,
             len({_SQL_W}) AS n_tokens,
             e.epoch,
             md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(e.epoch AS VARCHAR))
               AS k
      FROM documents d,
           (SELECT UNNEST(range({_MANIFEST_EPOCHS})) AS epoch) e
    )
    SELECT epoch,
           CAST(CAST(concat('0x', substring(k, 1, 15)) AS BIGINT)
                % {_MANIFEST_SHARDS} AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           arg_min(doc_id, k) AS first_doc
    FROM keyed
    GROUP BY 1, 2
    """,
)
def q270_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC TRAINING ORDER — the layout decision after packing
    (q262) and mixing (q264): every epoch re-shuffles the corpus with a
    seeded, data-independent permutation, sharded for parallel loaders.
    The permutation key is md5(doc_id ':' epoch) — reproducible on any
    engine, no RNG state — so epoch 0 and epoch 1 orders are
    decorrelated but each is bit-stable across reruns, which is what
    makes a training run resumable and auditable. Emits per
    (epoch, shard): doc/token counts and the first document each
    loader would read (arg-min over the permutation key; md5 over the
    unique doc_id string is collision-free for ordering purposes).

    Scale: the epoch fan-out is a literal array explode (E x rows, no
    shuffle); the aggregate shuffles E x S = 16 groups. The full
    per-doc manifest a writer would persist is this same frame before
    the groupBy — sorting WITHIN shard by key is each loader's local
    task, never a global sort. Token counts ride the session-shared
    doc_token_stats frame (r9) instead of a private tokenize scan."""
    from ecowatt_etl_spark.operators.text import doc_token_stats

    d = doc_token_stats(spark, sf_dir)
    keyed = d.select(
        "doc_id",
        F.col("n_tok").alias("n_tokens"),
        F.explode(
            F.array(*[F.lit(i) for i in range(_MANIFEST_EPOCHS)])
        ).alias("epoch"),
    ).withColumn(
        "k",
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("epoch").cast("string"),
            )
        ),
    )
    shard = (
        F.conv(F.substring("k", 1, 15), 16, 10).cast("long")
        % _MANIFEST_SHARDS
    )
    return keyed.groupBy(
        "epoch", shard.cast("long").alias("shard")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min_by("doc_id", "k").alias("first_doc"),
    )


# ---------------------------------------------------------------------------
# q271 — token-budget data selection (quality-ranked, two-phase)
# ---------------------------------------------------------------------------
_SEL_BUDGET_DIV = 4  # per-source budget = total source tokens DIV 4
_SEL_BUCKET = 1000  # micro-quality units per histogram bucket


@query(
    "q271_token_budget_selection",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, len({_SQL_W}) AS n_tokens,
             CAST(FLOOR((
               least(len({_SQL_W}) / 100.0, 1.0) * 0.4
               + least((CAST(len(list_filter({_SQL_W},
                   x -> x IN ('the','a','is','of','and','to','in'))) AS DOUBLE)
                   / len({_SQL_W})) * 5.0, 1.0) * 0.3
               + (CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE)
                   / length(lower(text))) * 0.3
             ) * 1000000) AS BIGINT) AS qbp
      FROM documents
    ),
    budgets AS (
      SELECT source, SUM(n_tokens) // {_SEL_BUDGET_DIV} AS budget
      FROM scored GROUP BY source
    ),
    hist AS (
      SELECT source, qbp // {_SEL_BUCKET} AS bucket,
             SUM(n_tokens) AS tok FROM scored GROUP BY 1, 2
    ),
    cum AS (
      SELECT *, COALESCE(SUM(tok) OVER (
        PARTITION BY source ORDER BY bucket DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above
      FROM hist
    ),
    boundary AS (
      SELECT c.source, c.bucket, c.above
      FROM cum c JOIN budgets b USING (source)
      WHERE c.above <= b.budget AND c.above + c.tok > b.budget
    ),
    full_sel AS (
      SELECT s.source, COUNT(*) AS n_docs, SUM(s.n_tokens) AS tok,
             MIN(s.qbp) AS min_qbp
      FROM scored s JOIN boundary bo ON bo.source = s.source
      WHERE s.qbp // {_SEL_BUCKET} > bo.bucket
      GROUP BY 1
    ),
    bruns AS (
      SELECT s.source, s.n_tokens, s.qbp, bo.above,
             SUM(s.n_tokens) OVER (
               PARTITION BY s.source ORDER BY s.qbp DESC, s.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      FROM scored s
      JOIN boundary bo ON bo.source = s.source
       AND s.qbp // {_SEL_BUCKET} = bo.bucket
    ),
    part_sel AS (
      SELECT r.source, COUNT(*) AS n_docs, SUM(r.n_tokens) AS tok,
             MIN(r.qbp) AS min_qbp
      FROM bruns r JOIN budgets b USING (source)
      WHERE r.above + r.run <= b.budget
      GROUP BY 1
    )
    SELECT b.source,
           CAST(b.budget AS BIGINT) AS budget,
           CAST(bo.bucket AS BIGINT) AS boundary_bucket,
           CAST(COALESCE(f.n_docs, 0) + COALESCE(p.n_docs, 0) AS BIGINT)
             AS n_selected,
           CAST(COALESCE(f.tok, 0) + COALESCE(p.tok, 0) AS BIGINT)
             AS tokens_selected,
           CAST(COALESCE(least(f.min_qbp, p.min_qbp),
                         COALESCE(p.min_qbp, f.min_qbp), -1) AS BIGINT)
             AS min_qbp_selected
    FROM budgets b
    JOIN boundary bo USING (source)
    LEFT JOIN full_sel f ON f.source = b.source
    LEFT JOIN part_sel p ON p.source = b.source
    """,
)
def q271_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUDGET DATA SELECTION — pick the highest-quality documents
    per source until a token budget (here: the top quarter of each
    source's tokens) is spent; the DataComp/DsDm-style curation step
    between scoring (q71) and packing (q262). Greedy-by-quality with
    deterministic ties (qbp DESC, doc_id).

    Scale shape — the naive form is a per-source window cumsum over
    QUALITY order, which serializes each source's billion documents on
    one task. This is the histogram two-phase instead (prefix_sum's
    discipline, but keyed by quality): (1) one hash aggregate builds a
    ≤1001-bucket quality histogram per source; (2) a window over
    BUCKETS (bounded rows) finds each source's boundary bucket — the
    only bucket where the budget line crosses; (3) the exact per-doc
    cumsum runs ONLY inside that one bucket (0.1% of the quality
    range). Documents outside the boundary bucket are decided by the
    histogram alone and never sort. Quality enters as FLOOR(score·1e6)
    int64 — q71's composite doubles are bit-identical cross-engine, so
    the floor is too."""
    from ecowatt_etl_spark.operators.text import quality_features

    d = load_table(spark, sf_dir, "documents")
    feats = quality_features("text")
    # checkpointed: four consumers below (budgets/hist/full_sel/bruns)
    # reference this subtree, and Catalyst does not dedup identical
    # lazy subtrees across join arms (the q53 lesson) — the checkpoint
    # bounds the tokenize+quality regex scan (the measured dominant
    # cost: ~15 s of the 17 s total at 100x) to exactly ONE pass
    # regardless of consumer count; downstream arms reread a
    # 24-byte/doc frame. Deliberately NOT the session-shared
    # doc_token_stats frame (r9): q271 is the layout family's lone
    # quality-regex consumer, and folding the ~5x-costlier regex into
    # the shared tokenize build would tax every thin consumer's
    # fresh-run cost for one query's benefit.
    scored = d.select(
        "doc_id",
        "source",
        feats["n_tokens"].alias("n_tokens"),
        F.floor(feats["quality_score"] * 1_000_000)
        .cast("long")
        .alias("qbp"),
    ).localCheckpoint()
    budgets = scored.groupBy("source").agg(
        F.expr(f"SUM(n_tokens) DIV {_SEL_BUDGET_DIV}").alias("budget")
    )
    hist = scored.groupBy(
        "source", F.expr(f"qbp DIV {_SEL_BUCKET}").alias("bucket")
    ).agg(F.sum("n_tokens").alias("tok"))
    w_above = (
        W.partitionBy("source")
        .orderBy(F.col("bucket").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = hist.withColumn(
        "above", F.coalesce(F.sum("tok").over(w_above), F.lit(0))
    )
    boundary = (
        cum.join(F.broadcast(budgets), "source")
        .filter(
            (F.col("above") <= F.col("budget"))
            & (F.col("above") + F.col("tok") > F.col("budget"))
        )
        .select("source", "bucket", "above")
    )
    full_sel = (
        scored.join(F.broadcast(boundary), "source")
        .filter(F.expr(f"qbp DIV {_SEL_BUCKET}") > F.col("bucket"))
        .groupBy("source")
        .agg(
            F.count("*").alias("f_docs"),
            F.sum("n_tokens").alias("f_tok"),
            F.min("qbp").alias("f_min_qbp"),
        )
    )
    w_run = (
        W.partitionBy("source")
        .orderBy(F.col("qbp").desc(), F.col("doc_id"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    bruns = (
        scored.join(
            F.broadcast(boundary).withColumnRenamed("bucket", "b_bucket"),
            "source",
        )
        .filter(F.expr(f"qbp DIV {_SEL_BUCKET}") == F.col("b_bucket"))
        .withColumn("run", F.sum("n_tokens").over(w_run))
    )
    part_sel = (
        bruns.join(F.broadcast(budgets), "source")
        .filter(F.col("above") + F.col("run") <= F.col("budget"))
        .groupBy("source")
        .agg(
            F.count("*").alias("p_docs"),
            F.sum("n_tokens").alias("p_tok"),
            F.min("qbp").alias("p_min_qbp"),
        )
    )
    return (
        budgets.join(boundary, "source")
        .join(full_sel, "source", "left")
        .join(part_sel, "source", "left")
        .select(
            "source",
            F.col("budget").cast("long").alias("budget"),
            F.col("bucket").cast("long").alias("boundary_bucket"),
            (
                F.coalesce("f_docs", F.lit(0)) + F.coalesce("p_docs", F.lit(0))
            ).cast("long").alias("n_selected"),
            (
                F.coalesce("f_tok", F.lit(0)) + F.coalesce("p_tok", F.lit(0))
            ).cast("long").alias("tokens_selected"),
            F.coalesce(
                F.least("f_min_qbp", "p_min_qbp"),
                F.coalesce("p_min_qbp", "f_min_qbp"),
                F.lit(-1),
            ).cast("long").alias("min_qbp_selected"),
        )
    )


# ---------------------------------------------------------------------------
# q275 — length-bucketed batching: padding economics, sorted vs arrival
# ---------------------------------------------------------------------------
_BATCH_B = 32  # documents per training batch


@query(
    "q275_length_batching",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, len({_SQL_W}) AS n_tok FROM documents
      WHERE len({_SQL_W}) > 0
    ),
    ranked AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tok, doc_id) - 1
          AS rn_len,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1
          AS rn_arr
      FROM t
    ),
    b_len AS (
      SELECT source, rn_len // {_BATCH_B} AS b, COUNT(*) AS c,
             MAX(n_tok) AS mx
      FROM ranked GROUP BY 1, 2
    ),
    b_arr AS (
      SELECT source, rn_arr // {_BATCH_B} AS b, COUNT(*) AS c,
             MAX(n_tok) AS mx
      FROM ranked GROUP BY 1, 2
    ),
    pay AS (SELECT source, COUNT(*) AS n_docs, SUM(n_tok) AS payload
            FROM t GROUP BY 1),
    pl AS (SELECT source, COUNT(*) AS n_batches, SUM(c * mx) AS padded
           FROM b_len GROUP BY 1),
    pa AS (SELECT source, SUM(c * mx) AS padded FROM b_arr GROUP BY 1)
    SELECT p.source,
           CAST(p.n_docs AS BIGINT) AS n_docs,
           CAST(pl.n_batches AS BIGINT) AS n_batches,
           CAST(p.payload AS BIGINT) AS payload_tokens,
           CAST(pl.padded AS BIGINT) AS padded_sorted,
           CAST(pa.padded AS BIGINT) AS padded_arrival,
           CAST((pl.padded - p.payload) * 10000 // pl.padded AS BIGINT)
             AS waste_sorted_bp,
           CAST((pa.padded - p.payload) * 10000 // pa.padded AS BIGINT)
             AS waste_arrival_bp
    FROM pay p JOIN pl USING (source) JOIN pa USING (source)
    """,
)
def q275_length_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PADDING ECONOMICS of batch formation — for unpacked (padded)
    training or inference serving, every batch costs
    batch_docs · max_len tokens; length-sorted batching makes batches
    length-homogeneous and collapses the padding waste vs arrival
    order. This report prices both policies per source in integer
    basis points — the number that justifies a sorted/bucketed loader
    (and, past a point, switching to q262 packing).

    Scale shape: ranks are NOT naive corpus-wide window row_numbers
    (one task per source at 10B docs). Arrival rank is
    prefix_sum(ones) keyed by source; length rank is the q271
    histogram discipline — per-(source, length) counts, a bounded
    running sum over the per-source length histogram for the bucket
    base, plus prefix_sum(ones) WITHIN each (source, length) tie group
    — every phase bounded, no global sort anywhere. Batch aggregation
    is one hash aggregate on (source, batch)."""
    from ecowatt_etl_spark.operators.scan_ops import prefix_sum
    from ecowatt_etl_spark.operators.text import doc_token_stats

    # the three rank/payload arms share the session-scoped stats frame
    # (r9 — already materialized; no private checkpoint needed)
    t = (
        doc_token_stats(spark, sf_dir)
        .select("doc_id", "source", "n_tok")
        .filter(F.col("n_tok") > 0)
        .withColumn("one", F.lit(1))
    )
    # arrival-order rank: distributed running count per source
    arr = prefix_sum(
        t, "doc_id", "one", out_col="rn_arr", partition_cols=["source"]
    )
    # length-order rank: histogram base + intra-tie distributed count
    hist = t.groupBy("source", "n_tok").agg(F.count("*").alias("c"))
    w_base = (
        W.partitionBy("source")
        .orderBy("n_tok")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    base = hist.withColumn(
        "base", F.coalesce(F.sum("c").over(w_base), F.lit(0))
    ).select("source", "n_tok", "base")
    tie = prefix_sum(
        t, "doc_id", "one", out_col="tie", partition_cols=["source", "n_tok"]
    )
    ranked = tie.join(F.broadcast(base), ["source", "n_tok"]).select(
        "source",
        "n_tok",
        (F.col("base") + F.col("tie")).alias("rn_len"),
        "doc_id",
    )
    b_len = ranked.groupBy(
        "source", F.expr(f"rn_len DIV {_BATCH_B}").alias("b")
    ).agg(F.count("*").alias("c"), F.max("n_tok").alias("mx"))
    b_arr = arr.groupBy(
        "source", F.expr(f"rn_arr DIV {_BATCH_B}").alias("b")
    ).agg(F.count("*").alias("c"), F.max("n_tok").alias("mx"))
    pay = t.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("payload")
    )
    pl = b_len.groupBy("source").agg(
        F.count("*").alias("n_batches"),
        F.sum(F.col("c") * F.col("mx")).alias("padded_s"),
    )
    pa = b_arr.groupBy("source").agg(
        F.sum(F.col("c") * F.col("mx")).alias("padded_a")
    )
    return (
        pay.join(pl, "source")
        .join(pa, "source")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_batches").cast("long").alias("n_batches"),
            F.col("payload").cast("long").alias("payload_tokens"),
            F.col("padded_s").cast("long").alias("padded_sorted"),
            F.col("padded_a").cast("long").alias("padded_arrival"),
            F.expr(
                "CAST((padded_s - payload) * 10000 DIV padded_s AS BIGINT)"
            ).alias("waste_sorted_bp"),
            F.expr(
                "CAST((padded_a - payload) * 10000 DIV padded_a AS BIGINT)"
            ).alias("waste_arrival_bp"),
        )
    )


# ---------------------------------------------------------------------------
# q279 — per-source quantile calibration of a quality signal
# ---------------------------------------------------------------------------
_CAL_BUCKET_W = 64  # raw-signal range per rank bucket (parallelism knob)


@query(
    "q279_source_quantile_calibration",
    oracle="""
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY source) AS n_src
      FROM documents
    ),
    calib AS (
      SELECT source, n_chars,
             CASE WHEN n_src > 1
                  THEN (rk - 1) * 10000 // (n_src - 1)
                  ELSE 0 END AS calib_bp
      FROM ranked
    )
    SELECT source,
           CAST(LEAST(calib_bp // 1000, 9) AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(n_chars) AS min_raw,
           MAX(n_chars) AS max_raw
    FROM calib GROUP BY 1, 2
    """,
)
def q279_source_quantile_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize a raw quality signal PER SOURCE onto one
    comparable 0–10000 bp scale (calib = rank-within-source mapped to
    [0, 10000], exact integer arithmetic) and report each source's
    raw-signal envelope per calibrated decile. This is the curation
    step that makes a single global quality threshold meaningful when
    sources have incommensurable raw score distributions — "keep the
    top 30%" must mean the top 30% OF EACH SOURCE, or the filter
    silently becomes a source filter (web text scores low raw, gets
    wiped; the mixture collapses to the high-scoring domain).

    Scale: the naive form is a per-source rank window — one task per
    PARTITION KEY, so the largest source's billions of rows serialize
    through a single sort consumer. Here rank is computed by
    operators/scan_ops.bucketed_row_number: row_number within
    (source, raw DIV 64) buckets + broadcast per-bucket count bases —
    bit-identical to the partition-wide window (pytest-pinned), one
    shuffle, per-task state bounded by bucket occupancy. Per-source
    totals ride a broadcast join (one row per source)."""
    from ecowatt_etl_spark.operators.scan_ops import bucketed_row_number

    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    ranked = bucketed_row_number(
        d,
        bucket_col=F.expr(f"n_chars DIV {_CAL_BUCKET_W}"),
        order_cols=[F.col("n_chars"), F.col("doc_id")],
        out_col="rk",
        partition_cols=["source"],
    )
    n_src = d.groupBy("source").agg(F.count("*").alias("n_src"))
    calib = (
        ranked.join(F.broadcast(n_src), "source")
        .withColumn(
            "calib_bp",
            F.when(
                F.col("n_src") > 1,
                F.expr("(rk - 1) * 10000 DIV (n_src - 1)"),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn("decile", F.least(F.expr("calib_bp DIV 1000"), F.lit(9).cast("long")))
    )
    return calib.groupBy("source", "decile").agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("min_raw"),
        F.max("n_chars").alias("max_raw"),
    )
