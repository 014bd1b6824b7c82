"""Text-analysis queries over `documents` (beyond-reference surface).

Every query has a DuckDB oracle that replays the operator's exact
arithmetic (portable md5-derived hashes, identical regex classes) —
these are hash-verified, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ecowatt_etl_spark.operators.text import (
    HASH_PRIME,
    LANG_MARKERS,
    STOPWORDS,
    fingerprint,
    predict_lang,
    quality_features,
    token_count,
    tokens,
)
from ecowatt_etl_spark.queries.registry import query
from ecowatt_etl_spark.sources.tables import file_memo, load_table

from ecowatt_etl_spark.operators.text import (  # noqa: E402
    SQL_TOKENS as _SQL_TOKENS,
)


def _sql_marker_count(markers: list[str]) -> str:
    quoted = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({_SQL_TOKENS}, x -> x IN ({quoted})))"


# ---------------------------------------------------------------------------
# q70 — token counting + corpus stats
# ---------------------------------------------------------------------------
@query(
    "q70_token_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             len({_SQL_TOKENS}) AS n_tokens,
             length(text) AS n_chars
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens,
           MAX(n_chars) AS max_chars
    FROM t GROUP BY lang
    """,
)
def q70_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus token statistics — the budget/size pass every
    training-data pipeline runs first. Tokenization is a codegen'd
    split; the aggregate shuffles only (lang → 5 groups)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        token_count("text").cast("long").alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )
    return t.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.sum("n_tokens").cast("double") / F.count("*")).alias("avg_tokens"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# q71 — quality scoring
# ---------------------------------------------------------------------------
_SW = ", ".join(f"'{m}'" for m in STOPWORDS)


# shared by q71 (per-doc scores) and q128 (decile curriculum report)
_SQL_QUALITY = f"""
    WITH t AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len({_SQL_TOKENS}) AS n_tokens,
             CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
               / len({_SQL_TOKENS}) AS avg_token_len,
             CAST(len(list_filter({_SQL_TOKENS}, x -> x IN ({_SW}))) AS DOUBLE)
               / len({_SQL_TOKENS}) AS stopword_ratio,
             CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE)
               / length(lower(text)) AS alnum_ratio
      FROM documents
    )
    SELECT doc_id, n_chars, n_tokens, avg_token_len, stopword_ratio, alnum_ratio,
           least(n_tokens / 100.0, 1.0) * 0.4
             + least(stopword_ratio * 5.0, 1.0) * 0.3
             + alnum_ratio * 0.3 AS quality_score
    FROM t
"""


@query("q71_quality_scores", oracle=_SQL_QUALITY)
def q71_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + composite score (C4/Gopher-style
    length, stopword-density and alnum-share rules). Pure expressions —
    one scan, no shuffle, no UDF."""
    d = load_table(spark, sf_dir, "documents")
    feats = quality_features("text")
    return d.select("doc_id", *[c.alias(n) for n, c in feats.items()])


# ---------------------------------------------------------------------------
# q72 — language identification
# ---------------------------------------------------------------------------
def _sql_predict_lang() -> str:
    langs = list(LANG_MARKERS)
    score = {lang: f"s_{lang}" for lang in langs}
    branches = []
    for i, lang in enumerate(langs):
        conds = [f"{score[lang]} > 0"]
        for j, other in enumerate(langs):
            if i == j:
                continue
            op = ">=" if j > i else ">"
            conds.append(f"{score[lang]} {op} {score[other]}")
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(branches) + " ELSE 'und' END"


@query(
    "q72_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang AS labeled_lang,
             {", ".join(f"{_sql_marker_count(m)} AS s_{lang}" for lang, m in LANG_MARKERS.items())}
      FROM documents
    )
    SELECT labeled_lang,
           {_sql_predict_lang()} AS predicted_lang,
           COUNT(*) AS n_docs
    FROM scored
    GROUP BY 1, 2
    """,
)
def q72_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID (per-language marker-token hits → argmax
    with deterministic tie-break) crossed against the labeled lang.
    The scorer is a fixed-size expression per language — no vocabulary
    join, so it runs scan-local at any scale."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            F.col("lang").alias("labeled_lang"),
            predict_lang("text").alias("predicted_lang"),
        )
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# q73 — document fingerprinting
# ---------------------------------------------------------------------------
@query(
    "q73_fingerprints",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform({_SQL_TOKENS},
                 x -> CAST(concat('0x', substring(md5(x), 1, 15)) AS BIGINT)
                      % {HASH_PRIME})),
             (acc, x) -> (acc * 31 + x) % {HASH_PRIME}
           ) AS fingerprint
    FROM documents
    """,
)
def q73_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprint per document
    (fold (acc*31 + md5-word-hash) mod P over the token stream) —
    the cheap first-pass identity for dedup and change detection."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint("text").alias("fingerprint"))


# ---------------------------------------------------------------------------
# q74 — BPE-ish regex subword tokenization
# ---------------------------------------------------------------------------
_SUBWORD_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


@query(
    "q74_subword_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(lower(text), '{_SUBWORD_RE}')) AS n_subwords,
             len(regexp_extract_all(lower(text), '[a-z]+')) AS n_alpha,
             len(regexp_extract_all(lower(text), '[0-9]+')) AS n_num
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_subwords) AS BIGINT) AS total_subwords,
           CAST(SUM(n_alpha) AS BIGINT) AS total_alpha,
           CAST(SUM(n_num) AS BIGINT) AS total_num,
           CAST(SUM(n_subwords - n_alpha - n_num) AS BIGINT) AS total_other,
           CAST(SUM(n_subwords) AS DOUBLE) / COUNT(*) AS avg_subwords
    FROM t GROUP BY lang
    """,
)
def q74_subword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization budget pass: split into alpha runs,
    digit runs, and single non-alnum symbols (the classic byte-level
    BPE pre-split classes) and aggregate per language. A closer token
    estimate than whitespace counting (q70) for code/punctuation-heavy
    corpora; still a pure codegen'd projection — no vocabulary, no UDF,
    scan-local at any scale."""
    d = load_table(spark, sf_dir, "documents")
    lowered = F.lower(F.col("text"))
    t = d.select(
        "lang",
        F.size(F.regexp_extract_all(lowered, F.lit(_SUBWORD_RE), 0)).alias("n_subwords"),
        F.size(F.regexp_extract_all(lowered, F.lit("[a-z]+"), 0)).alias("n_alpha"),
        F.size(F.regexp_extract_all(lowered, F.lit("[0-9]+"), 0)).alias("n_num"),
    )
    return t.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_subwords").cast("long").alias("total_subwords"),
        F.sum("n_alpha").cast("long").alias("total_alpha"),
        F.sum("n_num").cast("long").alias("total_num"),
        F.sum(F.col("n_subwords") - F.col("n_alpha") - F.col("n_num"))
        .cast("long")
        .alias("total_other"),
        (F.sum("n_subwords").cast("double") / F.count("*")).alias("avg_subwords"),
    )


# ---------------------------------------------------------------------------
# q75 — composed corpus-curation pipeline
# ---------------------------------------------------------------------------
_MIN_TOKENS = 10
_MIN_QUALITY = 0.5


@query(
    "q75_corpus_pipeline",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, lang, text,
             len({_SQL_TOKENS}) AS n_tokens,
             least(len({_SQL_TOKENS}) / 100.0, 1.0) * 0.4
               + least((CAST(len(list_filter({_SQL_TOKENS}, x -> x IN ({_SW}))) AS DOUBLE)
                        / len({_SQL_TOKENS})) * 5.0, 1.0) * 0.3
               + CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE)
                 / length(lower(text)) * 0.3 AS quality_score
      FROM documents
    ),
    kept AS (
      SELECT * FROM feat
      WHERE n_tokens >= {_MIN_TOKENS} AND quality_score >= {_MIN_QUALITY}
    ),
    deduped AS (
      SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h,
             MIN(doc_id) AS canonical_id,
             MIN(lang) AS lang,
             MIN(n_tokens) AS n_tokens
      FROM kept GROUP BY 1
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(canonical_id) AS min_doc_id
    FROM deduped GROUP BY lang
    """,
)
def q75_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline every training corpus runs:
    quality/length filter → exact dedup on normalized text → per-language
    budget report. One declarative plan: Catalyst fuses the filter into
    the scan, the dedup is one hash-agg on a digest key, the report one
    more tiny agg — three operators, two shuffles, no materialization
    between stages (contrast: the eager per-stage frames of a
    pandas-style pipeline). Duplicates resolve to the smallest doc_id;
    lang/n_tokens ride along via MIN — deterministic even if a
    duplicate group ever disagreed on its labels."""
    from ecowatt_etl_spark.operators.dedup import normalized_text

    d = load_table(spark, sf_dir, "documents")
    feats = quality_features("text")
    kept = d.select(
        "doc_id", "lang", "text",
        feats["n_tokens"].alias("n_tokens"),
        feats["quality_score"].alias("quality_score"),
    ).filter(
        (F.col("n_tokens") >= _MIN_TOKENS) & (F.col("quality_score") >= _MIN_QUALITY)
    )
    deduped = kept.groupBy(F.md5(normalized_text("text")).alias("h")).agg(
        F.min("doc_id").alias("canonical_id"),
        F.min("lang").alias("lang"),
        F.min("n_tokens").alias("n_tokens"),
    )
    return deduped.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("canonical_id").alias("min_doc_id"),
    )


# ---------------------------------------------------------------------------
# q76/q77 — vocabulary heavy hitters: exact + sketch superset
# ---------------------------------------------------------------------------
@query(
    "q76_vocab_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_SQL_TOKENS}) AS token FROM documents
    ),
    c AS (
      SELECT token, COUNT(*) AS n_occurrences
      FROM tok WHERE token <> '' GROUP BY token
    ),
    t AS (SELECT SUM(n_occurrences) AS total FROM c)
    SELECT token, n_occurrences,
           CAST(n_occurrences AS DOUBLE) / CAST(total AS DOUBLE) AS share
    FROM c, t
    WHERE n_occurrences * 1000 >= total
    """,
)
def q76_vocab_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters: tokens with ≥ 0.1 % of all token
    occurrences. The threshold compare is pure integer math
    (n·1000 ≥ total) so both engines agree exactly; only the reported
    `share` divides, and a single long→double division is deterministic.

    Scale: explode → two-phase count (map-side partials make the
    shuffle O(distinct tokens)); the total rides a broadcast 1-row
    cross join, never a second scan. Skewed hot tokens are exactly the
    rows this query keeps, and partial aggregation is what makes their
    shuffle volume per-partition-bounded."""
    from ecowatt_etl_spark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens("text")).alias("token")).filter(
        F.col("token") != ""
    )
    counts = tok.groupBy("token").agg(F.count("*").alias("n_occurrences"))
    total = counts.agg(F.sum("n_occurrences").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * 1000 >= F.col("total"))
        .select(
            "token",
            "n_occurrences",
            (
                F.col("n_occurrences").cast("double") / F.col("total").cast("double")
            ).alias("share"),
        )
    )


@query("q77_heavy_hitters_sketch")  # one-pass approximate → rows-only check
def q77_heavy_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch path for heavy hitters: `DataFrame.stat.freqItems`
    (Karp–Shenker–Papadimitriou streaming algorithm) over the exploded
    tokens in ONE pass with O(1/support) state per partition — no
    full vocabulary shuffle at all. KSP guarantees a SUPERSET of the
    true ≥ support items (false positives possible, no false
    negatives); tests assert q76 ⊆ q77. The production shape at
    100 TB: run the sketch to get a small candidate set, then one
    filtered exact count over candidates only."""
    from ecowatt_etl_spark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens("text")).alias("token")).filter(
        F.col("token") != ""
    )
    freq = tok.stat.freqItems(["token"], support=0.001)
    return freq.select(
        F.explode("token_freqItems").alias("candidate_token")
    ).orderBy("candidate_token")


# ---------------------------------------------------------------------------
# q78 — bigram novelty scoring (corpus-LM OOV rate)
# ---------------------------------------------------------------------------
_NOVEL_MIN_DF = 2  # a bigram is "known" once >= 2 documents contain it


@query(
    "q78_bigram_novelty",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
    sh AS (
      SELECT doc_id,
             CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT)
               % {HASH_PRIME} AS h
      FROM (
        SELECT doc_id, UNNEST(list_distinct(
          CASE WHEN len(w) >= 2
               THEN list_transform(generate_series(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i+1])
               ELSE [array_to_string(w, ' ')] END)) AS s
        FROM t)
    ),
    df AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM sh GROUP BY h)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN df.doc_freq < {_NOVEL_MIN_DF} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN df.doc_freq < {_NOVEL_MIN_DF} THEN 1 ELSE 0 END)
                  * 10000 // COUNT(*) AS BIGINT) AS novelty_bps
    FROM sh JOIN df USING (h)
    GROUP BY sh.doc_id
    """,
)
def q78_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM novelty scoring — the cheap statistical stand-in for
    perplexity filtering: score each document by the fraction of its
    distinct bigrams that the rest of the corpus (df < 2) has never
    seen. High novelty flags gibberish/unique boilerplate for review;
    near-zero novelty flags templated text (pairs with q95's
    repetition rule in a curation stack).

    Two aggregates over one (doc, bigram) stream (r11, guide §2.3/2.4
    — the old shape joined the full bigram stream back onto the
    per-bigram frequency table, shuffling the corpus stream by h a
    second time): a novelty threshold of df < 2 means every novel
    bigram occurs in exactly ONE row, so min(doc_id) of its h-group IS
    the owning document — per-doc novel counts fall out of the
    frequency aggregate itself and only two compact per-key frames
    ever shuffle. No collect, no broadcast of corpus-sized state;
    novelty is integer basis points.
    """
    from ecowatt_etl_spark.operators.dedup import shingle_hashes

    # the min(doc_id) ownership shortcut is only valid while "novel"
    # means df == 1; a higher threshold would need the doc list back.
    # An explicit raise, not assert: asserts vanish under python -O,
    # and this guard must survive optimized mode (r11 ADVICE).
    if _NOVEL_MIN_DF != 2:
        raise ValueError(
            "q78's min(doc_id) ownership shortcut requires _NOVEL_MIN_DF"
            f" == 2 (got {_NOVEL_MIN_DF}); restore the doc-list join"
            " before raising the threshold"
        )

    d = load_table(spark, sf_dir, "documents")
    sh = shingle_hashes(d, n=2)
    per_doc = sh.groupBy("doc_id").agg(F.count("*").alias("n_bigrams"))
    novel_per_doc = (
        sh.groupBy("h")
        .agg(F.count("*").alias("doc_freq"), F.min("doc_id").alias("doc_id"))
        .filter(F.col("doc_freq") < _NOVEL_MIN_DF)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_novel"))
    )
    return (
        per_doc.join(novel_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_bigrams",
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
        )
        .selectExpr(
            "doc_id",
            "n_bigrams",
            "n_novel",
            "CAST(n_novel * 10000 DIV n_bigrams AS BIGINT) AS novelty_bps",
        )
    )


# ---------------------------------------------------------------------------
# q79 — overlapping token-window chunking
# ---------------------------------------------------------------------------
_CHUNK_SIZE = 32  # tokens per chunk
_CHUNK_STRIDE = 24  # tokens between chunk starts (overlap = 8)


@query(
    "q79_doc_chunks",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS} AS w,
             CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tok
      FROM documents
    ),
    sized AS (
      SELECT doc_id, w, n_tok,
             CASE WHEN n_tok <= {_CHUNK_SIZE} THEN 1
                  ELSE (n_tok - {_CHUNK_SIZE} + {_CHUNK_STRIDE} - 1)
                         // {_CHUNK_STRIDE} + 1 END AS n_chunks
      FROM t
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_id,
           CAST(least({_CHUNK_SIZE}, n_tok - i * {_CHUNK_STRIDE}) AS BIGINT)
             AS chunk_tokens,
           md5(array_to_string(
                 w[i * {_CHUNK_STRIDE} + 1 : i * {_CHUNK_STRIDE} + {_CHUNK_SIZE}],
                 ' ')) AS chunk_md5
    FROM sized, UNNEST(generate_series(0, n_chunks - 1)) AS u(i)
    """,
)
def q79_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the document → chunk
    explosion that feeds embedding models and RAG indexes (size 32,
    stride 24, so consecutive chunks share 8 tokens; every doc yields
    at least one chunk). The oracle compares an md5 of every chunk's
    exact text, so the check covers chunk boundaries byte-for-byte,
    not just counts.

    Scale shape: pure scan-local explode — tokenization, the chunk
    index sequence, slicing, and hashing all happen inside the
    projection with ZERO shuffles; output row count is a controlled
    ~n_tokens/stride amplification of the input. Downstream embedding
    (q60-q67) consumes (doc_id, chunk_id) keyed rows directly.
    """
    d = load_table(spark, sf_dir, "documents")
    from ecowatt_etl_spark.operators.text import tokens

    w = tokens("text")
    sized = d.select(
        "doc_id",
        w.alias("w"),
        F.size(w).cast("long").alias("n_tok"),
    ).withColumn(
        "n_chunks",
        F.when(F.col("n_tok") <= _CHUNK_SIZE, F.lit(1)).otherwise(
            F.expr(
                f"(n_tok - {_CHUNK_SIZE} + {_CHUNK_STRIDE} - 1)"
                f" DIV {_CHUNK_STRIDE} + 1"
            )
        ),
    )
    exploded = sized.select(
        "doc_id",
        "w",
        "n_tok",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_id"),
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.least(
            F.lit(_CHUNK_SIZE), F.col("n_tok") - F.col("chunk_id") * _CHUNK_STRIDE
        )
        .cast("long")
        .alias("chunk_tokens"),
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("w"), F.col("chunk_id") * _CHUNK_STRIDE + 1, _CHUNK_SIZE)
            )
        ).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# q68 — inverted-index keyword search
# ---------------------------------------------------------------------------
_SEARCH_TERMS = ("spark", "join", "vector")  # conjunctive query
_SEARCH_K = 10


@query(
    "q68_keyword_search",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
    tf AS (
      SELECT doc_id, s AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, UNNEST(w) AS s FROM t)
      WHERE s IN ({", ".join(f"'{t}'" for t in _SEARCH_TERMS)})
      GROUP BY doc_id, s
    ),
    hits AS (
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS total_tf,
             COUNT(*) AS n_terms
      FROM tf GROUP BY doc_id
      HAVING COUNT(*) = {len(_SEARCH_TERMS)}
    )
    SELECT doc_id, total_tf,
           ROW_NUMBER() OVER (ORDER BY total_tf DESC, doc_id) AS rk
    FROM hits
    ORDER BY rk LIMIT {_SEARCH_K}
    """,
)
def q68_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive keyword retrieval over an inverted-index shape:
    docs containing ALL query terms, ranked by total term frequency
    (integer math only — no idf float, so the ranking is exact
    cross-engine; ties break on doc_id).

    Scale shape: the posting-list build explodes only tokens MATCHING
    the query terms (the IN filter runs before the explode output
    leaves the scan stage), so the exploded stream is O(hits), not
    O(corpus tokens); one (doc, term) aggregate + a per-doc rollup
    with the conjunction HAVING, then a global top-k window on the
    (already tiny) hit set. At 100 TB with a large query workload this
    becomes a pre-materialized posting-list table bucketed by term —
    the per-query plan here is the online form.
    """
    from ecowatt_etl_spark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("term")).filter(
        F.col("term").isin(*_SEARCH_TERMS)
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    hits = (
        tf.groupBy("doc_id")
        .agg(F.sum("tf").alias("total_tf"), F.count("*").alias("n_terms"))
        .filter(F.col("n_terms") == len(_SEARCH_TERMS))
        .select("doc_id", "total_tf")
    )
    w = W.orderBy(F.desc("total_tf"), F.asc("doc_id"))
    return (
        hits.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _SEARCH_K)
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# q153 — BM25 ranked retrieval
# ---------------------------------------------------------------------------
# Okapi BM25 with the standard k1=1.2, b=0.75 and the always-positive
# idf = ln(1 + (N − df + 0.5)/(df + 0.5)). Written so every double is
# bit-reproducible cross-engine: the per-term contributions are
# PIVOTED to fixed columns and added in query-term order (a SUM over
# (doc, term) rows would be fold-order-nondeterministic), constants
# are exact-or-identical literals, and ln/÷ are correctly-rounded in
# both engines for identical inputs.
_BM25_SQL_TERMS = ", ".join(f"'{t}'" for t in _SEARCH_TERMS)


def _bm25_contrib_sql(term: str) -> str:
    return (
        f"COALESCE(MAX(CASE WHEN term = '{term}' THEN contrib END), "
        f"CAST(0.0 AS DOUBLE))"
    )


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full BM25-scored hit set (doc_id, bm25) for the q153 query
    terms — shared by q153's top-k ranking and q202's hybrid fusion,
    so both rank the identical bit-stable scores."""
    import math

    from ecowatt_etl_spark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("w"))
    dl = t.select("doc_id", F.size("w").cast("long").alias("dl"))
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        t.select("doc_id", F.explode("w").alias("term"))
        .filter(F.col("term").isin(*_SEARCH_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    # corpus size and per-term document frequency: computed once per
    # version of the documents file, so a warm call plans without a job
    n_docs, df_map = file_memo(
        f"{sf_dir}/documents.parquet",
        ("bm25_df",),
        lambda: (
            dl.count(),
            {
                r["term"]: r["df"]
                for r in tf.groupBy("term").agg(F.count("*").alias("df")).collect()
            },
        ),
    )
    idf_col = None
    for term in _SEARCH_TERMS:
        dfv = df_map.get(term, 0)
        idf_v = math.log(1.0 + (n_docs - dfv + 0.5) / (dfv + 0.5))
        branch = F.when(F.col("term") == term, F.lit(idf_v))
        idf_col = branch if idf_col is None else idf_col.when(
            F.col("term") == term, F.lit(idf_v)
        )
    contribs = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            (
                idf_col
                * (
                    (F.col("tf") * F.lit(2.2))
                    / (
                        F.col("tf")
                        + F.lit(1.2)
                        * (
                            F.lit(0.25)
                            + (F.lit(0.75) * (F.col("dl") / F.col("avgdl")))
                        )
                    )
                )
            ).alias("contrib"),
        )
    )

    def pivot(term: str) -> F.Column:
        return F.coalesce(
            F.max(F.when(F.col("term") == term, F.col("contrib"))), F.lit(0.0)
        )

    scored = contribs.groupBy("doc_id").agg(
        (
            pivot(_SEARCH_TERMS[0])
            + pivot(_SEARCH_TERMS[1])
            + pivot(_SEARCH_TERMS[2])
        ).alias("bm25")
    )
    return scored


@query(
    "q153_bm25_search",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
    dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM t),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, s AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, UNNEST(w) AS s FROM t)
      WHERE s IN ({_BM25_SQL_TERMS})
      GROUP BY doc_id, s
    ),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    contribs AS (
      -- every float constant CAST to DOUBLE: DuckDB parses bare
      -- decimal literals as DECIMAL, and DECIMAL-typed arithmetic
      -- diverges from IEEE double chains by 1 ulp on some inputs
      SELECT tf.doc_id, tf.term,
             ln(CAST(1.0 AS DOUBLE)
                + (s.n_docs - df.df + CAST(0.5 AS DOUBLE))
                  / (df.df + CAST(0.5 AS DOUBLE)))
               * ((tf.tf * CAST(2.2 AS DOUBLE))
                  / (tf.tf + CAST(1.2 AS DOUBLE)
                     * (CAST(0.25 AS DOUBLE)
                        + (CAST(0.75 AS DOUBLE) * (dl.dl / s.avgdl)))))
               AS contrib
      FROM tf, df, dl, stats s
      WHERE df.term = tf.term AND dl.doc_id = tf.doc_id
    ),
    scored AS (
      SELECT doc_id,
             {_bm25_contrib_sql(_SEARCH_TERMS[0])}
               + {_bm25_contrib_sql(_SEARCH_TERMS[1])}
               + {_bm25_contrib_sql(_SEARCH_TERMS[2])} AS bm25
      FROM contribs GROUP BY doc_id
    )
    SELECT doc_id, bm25,
           ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
    FROM scored
    ORDER BY rk LIMIT {_SEARCH_K}
    """,
)
def q153_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (disjunctive — any query term scores) for
    the q68 query set: the relevance-ranking upgrade over q68's raw
    term-frequency conjunction, and the retrieval primitive a
    decontamination / near-ground-truth mining pass runs at corpus
    scale. idf uses the always-positive ln(1 + (N−df+0.5)/(df+0.5))
    form; tf saturates under k1=1.2 with length normalization b=0.75.

    Scale shape: the exploded token stream is filtered to query terms
    BEFORE leaving the scan stage (O(hits), not O(tokens)); doc
    lengths are a scan-local projection; avgdl is a 1-row broadcast;
    df is |terms| rows broadcast back onto the tf stream; the pivoted
    score add keeps the double arithmetic fold-order-free so the
    ranking is bit-stable under any partitioning (and equals the
    DuckDB oracle's). Top-k is one window over the hit set.

    Determinism note: idf is computed DRIVER-SIDE from the |terms|-row
    df aggregate (a bounded collect, like q63's query matrix) with
    CPython math.log, because JVM Math.log and libm ln round a few
    inputs to different ulps — CPython and DuckDB share the platform
    libm, so the Python-computed literal matches the oracle's ln()
    bit-for-bit (verified over the full plausible df range), while an
    F.log in the plan would not. Everything else is +,-,*,/ — correctly
    rounded and engine-identical.
    """
    scored = _bm25_scored(spark, sf_dir)
    w = W.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _SEARCH_K)
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# q157 — bigram-LM quality scoring (statistical fluency signal)
# ---------------------------------------------------------------------------
# Probabilities are QUANTIZED to integers — (C(w1,w2)·2^20) div C(w1) —
# so the per-doc reduction is an order-independent int64 sum and the
# score is bit-identical cross-engine without transcendentals (a
# log-perplexity would hit the JVM-vs-libm ln divergence q153 works
# around; the arithmetic-mean-probability form needs no log at all).
# Both engines truncate positive integer division identically
# (Spark DIV, DuckDB //).
_LM_SCALE = 1 << 20


@query(
    "q157_lm_quality",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
    tok AS (
      SELECT doc_id, i AS pos, w[i] AS w1
      FROM t, UNNEST(generate_series(1, len(w))) AS s(i)
    ),
    bigr AS (
      SELECT doc_id, w1, w2 FROM (
        SELECT doc_id, w1,
               lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM tok)
      WHERE w2 IS NOT NULL
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigr GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bigr GROUP BY w1),
    q AS (
      SELECT c12.w1, c12.w2, (c12.c12 * {_LM_SCALE}) // c1.c1 AS q
      FROM c12 JOIN c1 ON c1.w1 = c12.w1
    ),
    d AS (
      SELECT b.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(q.q) AS BIGINT) AS q_sum
      FROM bigr b JOIN q ON q.w1 = b.w1 AND q.w2 = b.w2
      GROUP BY b.doc_id
    )
    SELECT doc_id, n_bigrams, q_sum,
           CAST(q_sum AS DOUBLE) / n_bigrams / {_LM_SCALE} AS avg_prob
    FROM d
    """,
)
def q157_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical (language-model) quality scoring: train a bigram LM
    on the corpus itself and score every document by its mean bigram
    probability — the CCNet/KenLM-style fluency signal that catches
    boilerplate, gibberish, and template text that q71's surface
    heuristics (length/stopword/alnum ratios) miss. Low avg_prob =
    improbable token transitions = flag for the curation mix.

    Probabilities are integer-quantized (see the constants comment) so
    the whole pipeline is exact: per-token q = (C(w1,w2)·2^20) div
    C(w1), per-doc score = Σq / (n·2^20). Scale shape: bigrams form
    scan-locally (one posexplode + a lead over the per-doc window —
    one doc_id shuffle); the model is two hash aggregates over bigram
    types (vocabulary-sized, not corpus-sized); scoring joins the
    bigram stream back to the model — at 100 TB both sides hash the
    (w1,w2) pair to an 8-byte key first (q78's join economics) and
    the model side is map-side-combined. The bigram stream is
    localCheckpoint'ed once per call: three consumers (two model aggs
    + the scoring join) would otherwise re-derive the explode+window
    lineage three times (the q53/q89 recompute lesson, plan-capped)."""
    from ecowatt_etl_spark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.posexplode(tokens("text")).alias("pos", "w1"))
    wdw = W.partitionBy("doc_id").orderBy("pos")
    bigr = (
        tok.withColumn("w2", F.lead("w1").over(wdw))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", "w1", "w2")
        .localCheckpoint()
    )
    c12 = bigr.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = bigr.groupBy("w1").agg(F.count("*").alias("c1"))
    # The model frames are VOCABULARY-sized, and vocabulary grows with
    # the corpus (Heaps' law — q259 measures it on this very corpus),
    # so neither side of the model joins is broadcast-safe: the
    # optimizer's post-aggregate size guesses under-estimate at scale
    # (measured: driver OOM building the qt broadcast at 100x the
    # gate scale). Pin spill-safe sort-merge joins — strategy hints
    # change the physical plan only, never the values.
    qt = c12.join(c1.hint("merge"), "w1").select(
        "w1", "w2", F.expr(f"(c12 * {_LM_SCALE}) div c1").alias("q")
    )
    scored = bigr.join(qt.hint("merge"), ["w1", "w2"]).groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"), F.sum("q").alias("q_sum")
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "q_sum",
        (F.col("q_sum").cast("double") / F.col("n_bigrams") / F.lit(_LM_SCALE))
        .alias("avg_prob"),
    )


# ---------------------------------------------------------------------------
# q86 — term co-occurrence statistics
# ---------------------------------------------------------------------------
_CO_MIN_DF = 300  # vocabulary: terms present in >= this many docs
_CO_TOPK = 15


@query(
    "q86_term_cooccurrence",
    oracle=f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, s AS term
      FROM (SELECT doc_id, UNNEST(list_distinct({_SQL_TOKENS})) AS s
            FROM documents)
    ),
    vocab AS (
      SELECT term FROM dt GROUP BY term HAVING COUNT(*) >= {_CO_MIN_DF}
    ),
    vt AS (SELECT doc_id, term FROM dt JOIN vocab USING (term)),
    pairs AS (
      SELECT a.term AS term_a, b.term AS term_b,
             CAST(COUNT(*) AS BIGINT) AS co_df
      FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT term_a, term_b, co_df,
             ROW_NUMBER() OVER (ORDER BY co_df DESC, term_a, term_b) AS rk
      FROM pairs
    )
    SELECT term_a, term_b, co_df, rk FROM ranked WHERE rk <= {_CO_TOPK}
    ORDER BY rk
    """,
)
def q86_term_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-restricted term co-occurrence — the co-document-
    frequency table behind PMI embeddings, topic discovery, and
    query-expansion features. Counts only (no log/PMI float), so the
    ranking is exact cross-engine.

    Scale shape: the (doc, term) stream is corpus-sized but the df
    threshold reduces the vocabulary to a FIXED small set first, so
    (a) the vocab frame broadcasts into a semi filter, (b) the doc_id
    self-join emits at most |vocab-terms-in-doc|² pairs per doc —
    bounded per row, never corpus² — and (c) the pair aggregate has at
    most |vocab|² keys. The df-threshold is the same Σdf² cost bound
    q54 uses for its inverted index.
    """
    from ecowatt_etl_spark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    dt = d.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("term")
    )
    vocab = F.broadcast(
        dt.groupBy("term").agg(F.count("*").alias("df")).filter(
            F.col("df") >= _CO_MIN_DF
        ).select("term")
    )
    # r12 (guide §2.3/§2.4, the q171/q246/q207 grouped-pairs pattern):
    # the old doc_id SELF-JOIN evaluated the scan+tokenize+explode
    # subtree twice and shuffled the (doc, term) stream once per join
    # arm. Per-doc vocab terms are a small set (bounded by the doc's
    # distinct tokens ∩ vocab), so ONE groupBy(doc_id) collects each
    # doc's sorted vocab-term list and i<j pairs explode in codegen —
    # one corpus-stream shuffle instead of two plus a join, and the
    # strict < falls out of the sorted distinct list.
    vt = dt.join(vocab, "term")
    per_doc = vt.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("term")).alias("ts")
    )
    pair_structs = F.expr(
        """
        flatten(transform(ts, (a, i) ->
          transform(slice(ts, i + 2, size(ts)),
                    b -> struct(a AS term_a, b AS term_b))))
        """
    )
    pairs = (
        per_doc.filter(F.size("ts") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.term_a").alias("term_a"), F.col("p.term_b").alias("term_b"))
        .agg(F.count("*").alias("co_df"))
    )
    w = W.orderBy(F.desc("co_df"), F.asc("term_a"), F.asc("term_b"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _CO_TOPK)
        .orderBy("rk")
    )


# ---------------------------------------------------------------------------
# q128 — quality-decile curriculum report
# ---------------------------------------------------------------------------
@query(
    "q128_quality_deciles",
    oracle=f"""
    WITH q AS ({_SQL_QUALITY}),
    d AS (
      SELECT doc_id, n_tokens, quality_score,
             NTILE(10) OVER (ORDER BY quality_score DESC, doc_id) AS decile
      FROM q
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(quality_score) AS min_score,
           MAX(quality_score) AS max_score
    FROM d GROUP BY decile
    """,
)
def q128_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile curriculum table: rank the corpus by composite
    quality (q71's score, doc_id tiebreak), cut into 10 equal-count
    tiers, and report each tier's document count, token budget, and
    score range — the table a curriculum-training or quality-ablation
    run is planned from ('train on deciles 1–7, hold out 8–10').

    Scale honesty: NTILE over one global ordering is a total sort —
    but of (score, doc_id, n_tokens) triples, ~24 bytes/doc, NOT of
    document bytes; a 10^9-doc corpus sorts ~24 GB, well inside one
    shuffle's budget at 1000 executors. For corpora beyond that, swap
    the exact NTILE for q25b-style approx-percentile boundaries and
    bucket scan-locally; the report schema is unchanged. The decile
    aggregate itself is 10 keys with map-side partials."""
    scores = q71_quality_scores(spark, sf_dir).select(
        "doc_id", "n_tokens", "quality_score"
    )
    w = W.orderBy(F.desc("quality_score"), F.asc("doc_id"))
    return (
        scores.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("quality_score").alias("min_score"),
            F.max("quality_score").alias("max_score"),
        )
    )


# ---------------------------------------------------------------------------
# q138 — sentence segmentation via Python UDTF (table-function surface)
# ---------------------------------------------------------------------------
@query(
    "q138_sentence_udtf",
    oracle="""
    WITH parts AS (
      SELECT doc_id,
             unnest(string_split(text, '. ')) AS sentence,
             generate_subscripts(string_split(text, '. '), 1) AS i
      FROM documents
    )
    SELECT doc_id,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS pos,
           sentence
    FROM parts
    WHERE sentence <> ''
    """,
)
def q138_sentence_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation through a Python UDTF (Spark 4 user-defined
    TABLE function) applied with a LATERAL join: one input document row
    expands to N (pos, sentence) rows. This is the one UDx shape the
    engine had not yet exercised (scalar pandas_udf, grouped
    applyInPandas, mapInPandas, applyInPandasWithState are all covered
    elsewhere); `useArrow=True` keeps the row transfer Arrow-batched.

    The UDTF body is deliberately trivial (literal '. ' split — the
    DuckDB oracle's string_split twin) so the cross-engine check is
    exact; a real segmenter (regex rules, language-aware
    abbreviation handling) drops into the same eval() with the plan
    unchanged. Scale: the UDTF is scan-local (no shuffle — LATERAL
    against a deterministic generator), output is ~sentences/doc ×
    corpus, and Arrow batching amortizes the Python boundary; for a
    pure-SQL fast path the same semantics are posexplode(split(...)),
    which stays entirely in codegen — the UDTF form is the surface
    demo for segmentation logic too procedural for regex splits."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos bigint, sentence string", useArrow=True)
    class SplitSentences:
        def eval(self, text):
            pos = 0
            for part in (text or "").split(". "):
                if part != "":
                    pos += 1
                    yield pos, part

    spark.udtf.register("split_sentences", SplitSentences)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "q138_documents"
    )
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, s.sentence
        FROM q138_documents d, LATERAL split_sentences(d.text) s
        """
    )


# ---------------------------------------------------------------------------
# q139 — BPE vocabulary training (iterative; rows-only by necessity)
# q142 — BPE encoding of the corpus with the trained merge table
# ---------------------------------------------------------------------------
_BPE_MERGES = 10
_BPE_SCHEMA = "merge_rank int, left string, right string, merged string, pair_freq long"
# Trained merge tables are session-scoped artifacts (like the shared
# IVF index): a real pipeline trains the tokenizer once and ships the
# tiny merge table to every encode job, so per-call retraining would
# misstate both semantics and cost.
_BPE_MERGE_CACHE: dict[tuple[int, str], list] = {}


def _corpus_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecowatt_etl_spark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens("text")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def trained_merges(spark: SparkSession, sf_dir: str) -> list:
    """Train (once per session × sf_dir) and cache the BPE merge rows."""
    from ecowatt_etl_spark.operators.bpe import train_bpe

    key = (id(spark), sf_dir)
    if key not in _BPE_MERGE_CACHE:
        _BPE_MERGE_CACHE[key] = train_bpe(
            spark, _corpus_word_freq(spark, sf_dir), _BPE_MERGES
        ).collect()
    return _BPE_MERGE_CACHE[key]


@query("q139_bpe_train")
def q139_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn a 10-merge BPE table from the corpus (operators/bpe.py):
    one corpus shuffle builds the word-frequency table, then every
    merge round runs over the vocabulary only — the corpus is read
    once no matter how many merges are trained. Iterative argmax
    per round is not ANSI-expressible → rows-only driver check; the
    merge sequence is validated token-for-token against a pure-Python
    BPE reference in tests/test_curation_properties.py (deterministic:
    count desc, then lexicographic pair tie-break)."""
    return spark.createDataFrame(trained_merges(spark, sf_dir), _BPE_SCHEMA)


@query("q142_bpe_encode")
def q142_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merge table to the corpus — the encode
    side of the tokenizer pair (q139 trains, q142 tokenizes), reported
    as per-language subword statistics. Two scale decisions:

    * The merge table is baked into ONE nested JVM-side fold
      expression (operators/bpe.py::encode_expr) — encoding is a
      scan-local codegen'd projection, no Python, no per-merge pass
      over the data.
    * Encoding runs over the DISTINCT VOCABULARY (the same compression
      the trainer uses), then joins back to per-(lang, word) counts —
      at 100 TB the expensive fold touches ~10^6 vocab rows, not 10^11
      corpus words; the join key is the word itself and the vocab side
      is orders of magnitude smaller than the corpus.

    Training is iterative (not ANSI-expressible) → rows-only driver
    check; subword-exactness vs a pure-Python BPE encoder and the
    lossless concat-roundtrip property are asserted in
    tests/test_curation_properties.py."""
    from ecowatt_etl_spark.operators.bpe import encode_expr
    from ecowatt_etl_spark.operators.text import tokens

    merges = [
        (r["left"], r["right"], r["merged"])
        for r in sorted(trained_merges(spark, sf_dir), key=lambda r: r["merge_rank"])
    ]
    d = load_table(spark, sf_dir, "documents")
    lang_wf = (
        d.select("lang", F.explode(tokens("text")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("lang", "word")
        .agg(F.count("*").alias("cnt"))
    )
    vocab_enc = (
        lang_wf.select("word")
        .distinct()
        .select("word", F.expr(f"size({encode_expr('word', merges)})").alias("n_sub"))
    )
    return (
        lang_wf.join(vocab_enc, "word")
        .groupBy("lang")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sub")).alias("n_subwords"),
            F.countDistinct("word").alias("n_vocab"),
        )
        .select(
            "lang",
            "n_words",
            "n_subwords",
            "n_vocab",
            F.try_divide(F.col("n_subwords"), F.col("n_words")).alias(
                "subwords_per_word"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q144 — boilerplate stripping with document reconstruction
# ---------------------------------------------------------------------------
_BPS_SEG = 2  # tokens per segment (demo-scaled; prod: 8-16-token passages)
_BPS_DF = 5  # segments in >= this many distinct docs are boilerplate


@query(
    "q144_boilerplate_strip",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
    docs AS (SELECT doc_id, CAST(len(w) // {_BPS_SEG} AS BIGINT) AS n_segs FROM t),
    segs AS (
      SELECT doc_id, i AS pos,
             array_to_string(w[(i*{_BPS_SEG}+1):(i*{_BPS_SEG}+{_BPS_SEG})], ' ') AS s
      FROM (SELECT doc_id, w, UNNEST(generate_series(0, len(w)//{_BPS_SEG} - 1)) AS i
            FROM t)
    ),
    hashed AS (
      SELECT doc_id, pos, s,
             CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT)
               % {HASH_PRIME} AS h
      FROM segs
    ),
    dfq AS (SELECT h, COUNT(DISTINCT doc_id) AS n_docs FROM hashed GROUP BY h),
    kept AS (SELECT doc_id, pos, s FROM hashed JOIN dfq USING (h)
             WHERE n_docs < {_BPS_DF}),
    agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   md5(string_agg(s, ' ' ORDER BY pos)) AS cleaned_md5
            FROM kept GROUP BY doc_id)
    SELECT d.doc_id, d.n_segs,
           COALESCE(a.n_kept, 0) AS n_kept,
           COALESCE(a.cleaned_md5, md5('')) AS cleaned_md5
    FROM docs d LEFT JOIN agg a USING (doc_id)
    """,
)
def q144_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate REMOVAL with document reconstruction — the rewrite
    stage q134's mining report feeds: chop each document into
    fixed-width token segments (positions kept), count each segment's
    corpus document frequency on an 8-byte portable hash, drop
    segments appearing in >= _BPS_DF docs, and REASSEMBLE the
    surviving segments in original order. The md5 of every
    reconstructed document is value-checked cross-engine, so the whole
    explode → df-join → ordered-reassembly path is exact, not just the
    counts.

    Scale shape: one shuffle keyed by the 8-byte segment hash for the
    df table, one join back (AQE broadcasts the df table when small;
    at corpus scale both sides are hash-partitioned on h), and the
    per-doc reassembly is one aggregate whose state is the document's
    own kept segments — array_sort(collect_list(struct(pos, s))) makes
    assembly order deterministic regardless of arrival order.
    explode_outer + the left join keep fully-boilerplate and
    too-short documents in the output (md5('') contract). Segment
    width/df are demo-scaled constants; production passages are 8-16
    tokens with a df threshold per q134's mining report."""
    from ecowatt_etl_spark.operators.text import doc_token_stats, tokens, word_hash

    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", tokens("text").alias("w"))
    seg_expr = f"""
    CASE WHEN size(w) >= {_BPS_SEG}
         THEN transform(sequence(0, size(w) DIV {_BPS_SEG} - 1),
                        i -> struct(CAST(i AS INT) AS pos,
                                    array_join(slice(w, i * {_BPS_SEG} + 1,
                                                     {_BPS_SEG}), ' ') AS s))
         ELSE cast(array() as array<struct<pos: int, s: string>>) END
    """
    # r11: the all-docs arm needs only size(tokens) — ride the session
    # doc_token_stats artifact (same tokenize expression) instead of a
    # second private scan+tokenize of the corpus.
    docs = doc_token_stats(spark, sf_dir).select(
        "doc_id",
        F.expr(f"CAST(n_tok DIV {_BPS_SEG} AS BIGINT)").alias("n_segs"),
    )
    segs = (
        base.select("doc_id", F.explode(F.expr(seg_expr)).alias("g"))
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.s").alias("s"))
        .withColumn("h", word_hash(F.col("s")))
    )
    dfq = segs.groupBy("h").agg(F.count_distinct("doc_id").alias("n_docs"))
    # Measured A/B at 100x the gate scale (interleaved fresh runs):
    # this inner join plans as a broadcast of the df table (~70 s);
    # the "obvious" anti-join against only the >=threshold drop-set
    # ran 98 s both times despite its smaller build side — no win to
    # buy here while dfq fits a broadcast. The at-scale flip stays a
    # one-liner: when dfq outgrows the broadcast ceiling (its inner
    # join would degrade to shuffling segment STRINGS by h), switch
    # to segs.join(dfq.filter(n_docs >= _BPS_DF).select("h"), "h",
    # "left_anti") — the drop-set stays broadcastable long after the
    # full df table doesn't, and every segment h exists in dfq, so
    # the two forms keep the identical row set.
    kept = segs.join(dfq, "h").filter(F.col("n_docs") < _BPS_DF)
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "s"))),
                    lambda x: x["s"],
                ),
                " ",
            )
        ).alias("cleaned_md5"),
    )
    return docs.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_segs",
        F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
        F.coalesce(F.col("cleaned_md5"), F.md5(F.lit(""))).alias("cleaned_md5"),
    )


# ---------------------------------------------------------------------------
# q161 — Count-Min sketch build + estimation audit
# ---------------------------------------------------------------------------
# d=4 depths x w=256 buckets; bucket_j(t) = md5-derived hash of "j|t"
# (the portable word-hash idiom) mod w. Counters are exact integers, so
# the whole sketch AND the estimates are bit-identical cross-engine —
# a SKETCH operator with an exact oracle, unlike the HLL path (q09b)
# whose estimator is engine-internal and stays rows-only.
_CMS_D, _CMS_W = 4, 256
_CMS_TOPK = 10


def _cms_bucket_sql(j: int, var: str) -> str:
    return (
        f"CAST(concat('0x', substring(md5('{j}|' || {var}), 1, 15)) AS BIGINT)"
        f" % {_CMS_W}"
    )


@query(
    "q161_countmin_audit",
    oracle=f"""
    WITH toks AS (
      SELECT s AS t
      FROM (SELECT UNNEST({_SQL_TOKENS}) AS s FROM documents)
    ),
    cms AS (
      SELECT depth, bucket, CAST(COUNT(*) AS BIGINT) AS counter
      FROM (
        {" UNION ALL ".join(f"SELECT {j} AS depth, {_cms_bucket_sql(j, 't')} AS bucket, t FROM toks" for j in range(_CMS_D))}
      ) GROUP BY depth, bucket
    ),
    heavy AS (
      SELECT t, exact_count FROM (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS exact_count,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, t) AS rk
        FROM toks GROUP BY t)
      WHERE rk <= {_CMS_TOPK}
    ),
    probes AS (
      {" UNION ALL ".join(f"SELECT t, exact_count, {j} AS depth, {_cms_bucket_sql(j, 't')} AS bucket FROM heavy" for j in range(_CMS_D))}
    )
    SELECT p.t AS term, p.exact_count,
           MIN(c.counter) AS cms_estimate,
           MIN(c.counter) - p.exact_count AS overestimate
    FROM probes p JOIN cms c ON c.depth = p.depth AND c.bucket = p.bucket
    GROUP BY p.t, p.exact_count
    """,
)
def q161_countmin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the corpus token stream (d=4 × w=256
    integer counters, md5-derived bucket hashes) plus the estimation
    audit for the exact top-10 terms: estimate = min over depths of
    the term's bucket counters, reported next to the exact count and
    the (provably ≥ 0) overestimate. This is the mergeable fixed-size
    frequency sketch a streaming/distributed pipeline keeps when the
    vocabulary doesn't fit anywhere — 1024 counters stand in for any
    number of distinct tokens, per-partition sketches sum cell-wise
    (counter addition is the merge operator), and the CM guarantee
    (estimate ≥ truth, error ≤ N·e/w with prob 1−e^−d) is checked
    here against ground truth rather than asserted.

    Unlike the HLL sketch (q09b, rows-only — engine-internal
    estimator), every counter and estimate is exact integer
    arithmetic on portable hashes, so the full build+probe pipeline
    hash-matches the DuckDB oracle. Scale shape: the build is ONE
    map-side-combined aggregate over the exploded token stream (each
    scan task emits ≤ d·w partial cells); probes join the d·topk
    probe rows against the 1024-row sketch — broadcast-trivial."""
    from ecowatt_etl_spark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("t"))

    def bucket(j: int, col: F.Column) -> F.Column:
        h = F.md5(F.concat(F.lit(f"{j}|"), col))
        return F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % _CMS_W

    cells = toks.select(
        F.posexplode(F.array(*[bucket(j, F.col("t")) for j in range(_CMS_D)]))
        .alias("depth", "bucket")
    )
    cms = cells.groupBy("depth", "bucket").agg(F.count("*").alias("counter"))

    counts = toks.groupBy("t").agg(F.count("*").alias("exact_count"))
    rk_w = W.orderBy(F.desc("exact_count"), F.asc("t"))
    heavy = (
        counts.withColumn("rk", F.row_number().over(rk_w))
        .filter(F.col("rk") <= _CMS_TOPK)
        .select("t", "exact_count")
    )
    probes = heavy.select(
        "t",
        "exact_count",
        F.posexplode(F.array(*[bucket(j, F.col("t")) for j in range(_CMS_D)]))
        .alias("depth", "bucket"),
    )
    est = (
        probes.join(F.broadcast(cms), ["depth", "bucket"])
        .groupBy("t", "exact_count")
        .agg(F.min("counter").alias("cms_estimate"))
    )
    return est.select(
        F.col("t").alias("term"),
        "exact_count",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
    )


# ---------------------------------------------------------------------------
# q163 — KMV distinct-count sketch + accuracy audit
# ---------------------------------------------------------------------------
# k-minimum-values estimator over the 60-bit md5 hash space: keep the k
# smallest distinct hash values per group; estimate = (k-1)·2^60 / h_k.
# Every step is deterministic integer/double arithmetic on portable
# hashes, so the ESTIMATE hash-matches the oracle — the second sketch
# (after q161's Count-Min) whose estimator is itself value-checked,
# in contrast to engine-internal HLL (q09b, rows-only).
_KMV_K = 64
_KMV_SPACE = 1 << 60  # md5 15-hex-digit prefix range


@query(
    "q163_kmv_distinct",
    oracle=f"""
    WITH dt AS (
      SELECT DISTINCT lang, s AS t
      FROM (SELECT lang, UNNEST({_SQL_TOKENS}) AS s FROM documents)
    ),
    exact AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_distinct_exact
      FROM dt GROUP BY lang
    ),
    h AS (
      SELECT DISTINCT lang,
             CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) AS h
      FROM dt
    ),
    r AS (
      SELECT lang, h,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn
      FROM h
    ),
    kth AS (SELECT lang, h AS h_k FROM r WHERE rn = {_KMV_K})
    SELECT e.lang, e.n_distinct_exact,
           COALESCE(CAST({(_KMV_K - 1) * _KMV_SPACE} AS DOUBLE)
                      / CAST(k.h_k AS DOUBLE),
                    CAST(e.n_distinct_exact AS DOUBLE)) AS kmv_estimate,
           (COALESCE(CAST({(_KMV_K - 1) * _KMV_SPACE} AS DOUBLE)
                       / CAST(k.h_k AS DOUBLE),
                     CAST(e.n_distinct_exact AS DOUBLE))
            - e.n_distinct_exact) / e.n_distinct_exact AS rel_err
    FROM exact e LEFT JOIN kth k ON k.lang = e.lang
    """,
)
def q163_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-token estimate per language,
    audited against the exact distinct count. The sketch state is the
    k=64 smallest distinct 60-bit md5 hashes per group — mergeable
    (union two sketches, re-take the k smallest), fixed-size, and the
    basis of the theta-sketch family; estimate = (k−1)·2^60 / h_k,
    with the exact count as the documented fallback when a group has
    fewer than k distinct values. Standard error is 1/sqrt(k−2) ≈ 13%
    at k=64 — the audit column shows where the real error lands.

    Cross-engine: hashes are the portable md5 idiom; the kth-smallest
    selection is an integer rank; the estimate divides two exactly-
    agreed doubles — so unlike HLL (q09b) the estimator itself is
    hash-checked. Scale shape: one distinct over (lang, token-hash)
    (map-side partial), one per-group rank window over ≤ distinct-
    hash rows; at 100 TB the k smallest per partition pre-prune the
    window input (each task keeps its local k minima — the classic
    KMV combine), so the exchange carries O(tasks·k) rows."""
    from ecowatt_etl_spark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    dt = d.select("lang", F.explode(tokens("text")).alias("t")).distinct()
    exact = dt.groupBy("lang").agg(F.count("*").alias("n_distinct_exact"))
    h = dt.select(
        "lang",
        F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long").alias("h"),
    ).distinct()
    rw = W.partitionBy("lang").orderBy("h")
    kth = (
        h.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") == _KMV_K)
        .select("lang", F.col("h").alias("h_k"))
    )
    est = F.coalesce(
        F.lit(float((_KMV_K - 1) * _KMV_SPACE)) / F.col("h_k").cast("double"),
        F.col("n_distinct_exact").cast("double"),
    )
    return (
        exact.join(kth, "lang", "left")
        .select(
            "lang",
            "n_distinct_exact",
            est.alias("kmv_estimate"),
            ((est - F.col("n_distinct_exact")) / F.col("n_distinct_exact")).alias(
                "rel_err"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q179 — Bloom filter build + false-positive audit
# ---------------------------------------------------------------------------
# m bits / k independent md5-derived hash positions per element. The
# "filter" is represented relationally as the DISTINCT set-bit table —
# membership testing is then a semi-join, which is exactly what Spark's
# runtime bloom pruning does physically with a bitmap.
_BLOOM_M = 1024
_BLOOM_K = 4


def _bloom_pos_sql(i: int) -> str:
    return (
        f"CAST(concat('0x', substring(md5('bloom{i}:' || md5(text)), 1, 15))"
        f" AS BIGINT) % {_BLOOM_M}"
    )


def _bloom_pos(i: int) -> F.Column:
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"bloom{i}:"), F.md5("text"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % _BLOOM_M
    )


@query(
    "q179_bloom_audit",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, doc_id % 5 = 0 AS is_member,
             list_distinct([{", ".join(_bloom_pos_sql(i) for i in range(_BLOOM_K))}])
               AS ps
      FROM documents
    ),
    bits AS (
      SELECT DISTINCT UNNEST(ps) AS bit FROM pos WHERE is_member
    ),
    flat AS (
      SELECT doc_id, is_member, len(ps) AS n_pos, UNNEST(ps) AS bit FROM pos
    ),
    hits AS (
      SELECT f.doc_id, f.is_member, MAX(f.n_pos) AS n_pos,
             COUNT(b.bit) AS n_hit
      FROM flat f LEFT JOIN bits b ON b.bit = f.bit
      GROUP BY f.doc_id, f.is_member
    )
    SELECT CAST({_BLOOM_M} AS BIGINT) AS m_bits,
           CAST({_BLOOM_K} AS BIGINT) AS k_hashes,
           CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS n_set_bits,
           CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_members,
           CAST(SUM(CASE WHEN is_member AND n_hit = n_pos THEN 1 ELSE 0 END)
                AS BIGINT) AS n_member_hits,
           CAST(SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tested,
           CAST(SUM(CASE WHEN NOT is_member AND n_hit = n_pos THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positives,
           CAST(SUM(CASE WHEN NOT is_member AND n_hit = n_pos THEN 1 ELSE 0 END)
                * 10000
                // SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END) AS BIGINT)
             AS fpr_bp
    FROM hits
    """,
)
def q179_bloom_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership structure with a full accuracy audit —
    the last of the sketch family (Count-Min q161, KMV q163, theta
    set-ops q175, MinHash/SimHash q52–q56): k=4 md5-derived bit
    positions over m=1024 bits for a member set (every 5th document),
    then EVERY document tested against the filter. The audit proves
    the two bloom guarantees numerically: n_member_hits = n_members
    (zero false negatives, structural), and the false-positive rate
    lands near (n_set_bits/m)^k — reported in integer basis points.
    The filter is held relationally as the distinct set-bit table and
    membership is a semi-join on bit positions, which is the
    declarative twin of what the engine's runtime bloom-join pruning
    (test_runtime_bloom_filter_prunes_shuffle_join) does with a
    physical bitmap.

    Exactness: every position is portable md5 integer arithmetic;
    flagged = (distinct positions hit) == (distinct positions), all
    counts integers — bit-identical cross-engine. Scale: the bit
    table is ≤ m rows (broadcast — a bloom filter's entire point is
    fitting in memory); the corpus is tested scan-side with one
    aggregate; sizing is m/n bits per element, so at a larger member
    set this m SATURATES and the audit's fpr_bp column is the alarm
    that says so (measured: 32% occupancy → ~1% FPR at sf0.01)."""
    d = load_table(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id",
        (F.col("doc_id") % 5 == 0).alias("is_member"),
        F.array_distinct(
            F.array(*[_bloom_pos(i) for i in range(_BLOOM_K)])
        ).alias("ps"),
    )
    bits = (
        pos.filter("is_member")
        .select(F.explode("ps").alias("bit"))
        .distinct()
    )
    flat = pos.select(
        "doc_id", "is_member", F.size("ps").alias("n_pos"), F.explode("ps").alias("bit")
    )
    hits = (
        flat.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "bit", "left")
        .groupBy("doc_id", "is_member")
        .agg(F.max("n_pos").alias("n_pos"), F.count("hit").alias("n_hit"))
    )
    n_set_bits = bits.agg(F.count("*").alias("n_set_bits"))
    flagged = F.col("n_hit") == F.col("n_pos")
    member = F.when(F.col("is_member"), 1).otherwise(0)
    nonmember = F.when(~F.col("is_member"), 1).otherwise(0)
    fp = F.when(~F.col("is_member") & flagged, 1).otherwise(0)
    return hits.crossJoin(F.broadcast(n_set_bits)).agg(
        F.lit(_BLOOM_M).cast("long").alias("m_bits"),
        F.lit(_BLOOM_K).cast("long").alias("k_hashes"),
        F.max("n_set_bits").cast("long").alias("n_set_bits"),
        F.sum(member).cast("long").alias("n_members"),
        F.sum(F.when(F.col("is_member") & flagged, 1).otherwise(0))
        .cast("long")
        .alias("n_member_hits"),
        F.sum(nonmember).cast("long").alias("n_tested"),
        F.sum(fp).cast("long").alias("n_false_positives"),
        F.expr(
            "CAST(SUM(CASE WHEN NOT is_member AND n_hit = n_pos THEN 1 ELSE 0 END)"
            " * 10000 DIV SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("fpr_bp"),
    )


# ---------------------------------------------------------------------------
# q185 — hashing-trick featurization (fixed-width sparse count vectors)
# ---------------------------------------------------------------------------
_FEAT_DIMS = 16


@query(
    "q185_feature_hashing",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST({_SQL_TOKENS}) AS t FROM documents
    )
    SELECT doc_id,
           CAST(CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT)
                % {_FEAT_DIMS} AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CASE WHEN CAST(concat('0x', substring(md5('sign:' || t), 1, 15))
                          AS BIGINT) % 2 = 0
                     THEN COUNT(*) ELSE -COUNT(*) END AS BIGINT) AS signed_n
    FROM tok GROUP BY doc_id, dim,
             CAST(concat('0x', substring(md5('sign:' || t), 1, 15)) AS BIGINT) % 2
    """,
)
def q185_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization: each document's token counts
    folded into a FIXED 16-dimension space by hashing the
    token (dim = md5 mod D), with the standard second sign hash that
    makes collisions cancel in expectation (Weinberger et al.'s
    feature hashing — the vectorizer that needs NO vocabulary, no
    fitting pass, and no driver state, which is why it is the one
    that works on an unbounded stream). Emitted exploded as
    (doc_id, dim, count, signed_count) rows — the sparse
    representation a trainer consumes and an engine exchanges;
    reassembling a dense array is a trivial pivot.

    Scale: explode → one (doc, dim, sign) hash aggregate, all md5
    arithmetic in codegen; no vocabulary join (contrast q76's
    heavy-hitter vocabulary, which this trades accuracy against);
    output is bounded by docs × D regardless of vocabulary growth."""
    from ecowatt_etl_spark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("t"))
    u = F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long")
    sign = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("sign:"), F.col("t"))), 1, 15),
            16,
            10,
        ).cast("long")
        % 2
    )
    g = tok.groupBy(
        "doc_id", (u % _FEAT_DIMS).alias("dim"), sign.alias("s")
    ).agg(F.count("*").alias("n"))
    return g.select(
        "doc_id",
        F.col("dim").cast("long").alias("dim"),
        F.col("n").cast("long").alias("n"),
        F.when(F.col("s") == 0, F.col("n"))
        .otherwise(-F.col("n"))
        .cast("long")
        .alias("signed_n"),
    )


# ---------------------------------------------------------------------------
# q191 — paragraph/chunk-level dedup report (sub-document duplication)
# ---------------------------------------------------------------------------
@query(
    "q191_chunk_dedup_report",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS} AS w,
             CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tok
      FROM documents
    ),
    sized AS (
      SELECT doc_id, w, n_tok,
             CASE WHEN n_tok <= {_CHUNK_SIZE} THEN 1
                  ELSE (n_tok - {_CHUNK_SIZE} + {_CHUNK_STRIDE} - 1)
                         // {_CHUNK_STRIDE} + 1 END AS n_chunks
      FROM t
    ),
    chunks AS (
      SELECT doc_id,
             CAST(least({_CHUNK_SIZE}, n_tok - i * {_CHUNK_STRIDE}) AS BIGINT)
               AS chunk_tokens,
             md5(array_to_string(
                   w[i * {_CHUNK_STRIDE} + 1 : i * {_CHUNK_STRIDE} + {_CHUNK_SIZE}],
                   ' ')) AS chunk_md5
      FROM sized, UNNEST(generate_series(0, n_chunks - 1)) AS u(i)
    ),
    df AS (SELECT chunk_md5, COUNT(*) AS df FROM chunks GROUP BY chunk_md5)
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           CAST(SUM(CASE WHEN df.df > 1 THEN c.chunk_tokens ELSE 0 END)
                AS BIGINT) AS dup_tokens,
           CAST(SUM(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) * 10000
                // COUNT(*) AS BIGINT) AS dup_frac_bp
    FROM chunks c JOIN df ON df.chunk_md5 = c.chunk_md5
    GROUP BY c.doc_id
    """,
)
def q191_chunk_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplication report: documents are chunked by q79's
    token windows and each chunk is checked against the CORPUS-WIDE
    chunk frequency — the paragraph-level dedup modern curation
    pipelines run after document-level dedup (q50–q59), because
    templated corpora duplicate at the paragraph grain while every
    full document stays unique (boilerplate headers, licence blocks,
    quoted threads). Per document: chunk count, duplicated-chunk
    count, duplicated token mass, and the duplication fraction in
    integer basis points — the inputs to a strip-or-drop policy
    (q144 is the strip side for mined boilerplate).

    Scale: composes the q79 chunk frame (explode inside the
    projection); the frequency table groups on 32-char digests and
    joins back on the same key — shuffle O(chunks × digest), document
    text never moves twice. Exactly the q51 hash-dedup economics one
    level down the grain."""
    chunks = q79_doc_chunks(spark, sf_dir)
    cdf = chunks.groupBy("chunk_md5").agg(F.count("*").alias("df"))
    j = chunks.join(cdf, "chunk_md5")
    dup = F.when(F.col("df") > 1, 1).otherwise(0)
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(dup).cast("long").alias("n_dup_chunks"),
        F.sum(F.when(F.col("df") > 1, F.col("chunk_tokens")).otherwise(0))
        .cast("long")
        .alias("dup_tokens"),
        F.expr(
            "CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) * 10000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("dup_frac_bp"),
    )


# ---------------------------------------------------------------------------
# q202 — hybrid retrieval: BM25 + vector ranks fused by RRF
# ---------------------------------------------------------------------------
from ecowatt_etl_spark.queries.similarity_queries import (  # noqa: E402
    _sql_dot,
    _sql_norm,
)

_RRF_K = 60  # the standard RRF damping constant
_FUSE_DEPTH = 50  # per-retriever candidate depth
_FUSE_TOP = 10
_QVEC_ID = 0  # the semantic query: embedding of vec_id 0


@query(
    "q202_hybrid_rrf",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
    dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM t),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, s AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, UNNEST(w) AS s FROM t)
      WHERE s IN ({_BM25_SQL_TERMS})
      GROUP BY doc_id, s
    ),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    contribs AS (
      SELECT tf.doc_id, tf.term,
             ln(CAST(1.0 AS DOUBLE)
                + (s.n_docs - df.df + CAST(0.5 AS DOUBLE))
                  / (df.df + CAST(0.5 AS DOUBLE)))
               * ((tf.tf * CAST(2.2 AS DOUBLE))
                  / (tf.tf + CAST(1.2 AS DOUBLE)
                     * (CAST(0.25 AS DOUBLE)
                        + (CAST(0.75 AS DOUBLE) * (dl.dl / s.avgdl)))))
               AS contrib
      FROM tf, df, dl, stats s
      WHERE df.term = tf.term AND dl.doc_id = tf.doc_id
    ),
    lex AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
      FROM (SELECT doc_id,
                   {_bm25_contrib_sql(_SEARCH_TERMS[0])}
                     + {_bm25_contrib_sql(_SEARCH_TERMS[1])}
                     + {_bm25_contrib_sql(_SEARCH_TERMS[2])} AS bm25
            FROM contribs GROUP BY doc_id)
      QUALIFY lex_rank <= {_FUSE_DEPTH}
    ),
    qv AS (SELECT embedding AS q_emb FROM embeddings
           WHERE vec_id = {_QVEC_ID}),
    sem AS (
      SELECT e.vec_id AS doc_id,
             ROW_NUMBER() OVER (
               ORDER BY {_sql_dot('qv.q_emb', 'e.embedding')}
                 / ({_sql_norm('qv.q_emb')} * {_sql_norm('e.embedding')}) DESC,
               e.vec_id) AS sem_rank
      FROM embeddings e CROSS JOIN qv
      WHERE e.vec_id <> {_QVEC_ID}
      QUALIFY sem_rank <= {_FUSE_DEPTH}
    )
    SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
           lex.lex_rank, sem.sem_rank,
           COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + lex.lex_rank),
                    CAST(0.0 AS DOUBLE))
             + COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + sem.sem_rank),
                        CAST(0.0 AS DOUBLE)) AS rrf_score
    FROM lex FULL OUTER JOIN sem ON sem.doc_id = lex.doc_id
    ORDER BY rrf_score DESC, doc_id
    LIMIT {_FUSE_TOP}
    """,
)
def q202_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — the shape modern RAG stacks serve: a lexical
    candidate list (q153's BM25 scorer, shared bit-stable scores) and
    a semantic candidate list (cosine against a query embedding,
    doc_id ↔ vec_id aligned in this synthetic corpus) fused by
    Reciprocal Rank Fusion: score = Σ 1/(k + rank), k=60. RRF
    is the fusion every hybrid search engine defaults to precisely
    because it consumes only RANKS — integers — so two retrievers
    with incomparable score scales compose without calibration, and
    (the engine's angle) the fused ordering is exactly reproducible:
    ranks are deterministic (score desc, id tiebreak), and the fused
    score is two fixed-order divisions — value-checked end to end
    across both retrieval pipelines and the fusion.

    Scale: each retriever prunes to its own top-50 before
    the fusion join (depth × 2 rows — nothing corpus-sized is
    joined); BM25 keeps q153's scan-side term filter, the semantic
    side is one broadcast query vector against the corpus (or q65's
    index when the corpus outgrows brute force)."""
    from ecowatt_etl_spark.operators.similarity import cosine

    scored = _bm25_scored(spark, sf_dir)
    w_lex = W.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex = (
        scored.withColumn("lex_rank", F.row_number().over(w_lex))
        .filter(F.col("lex_rank") <= _FUSE_DEPTH)
        .select("doc_id", "lex_rank")
    )
    from ecowatt_etl_spark.operators.similarity import (
        spread_to_parallelism,
    )

    em = spread_to_parallelism(load_table(spark, sf_dir, "embeddings"))
    qv = F.broadcast(
        em.filter(F.col("vec_id") == _QVEC_ID).select(
            F.col("embedding").alias("q_emb")
        )
    )
    w_sem = W.orderBy(F.desc("cos"), F.asc("doc_id"))
    sem = (
        em.filter(F.col("vec_id") != _QVEC_ID)
        .crossJoin(qv)
        .select(
            F.col("vec_id").alias("doc_id"),
            # each vector appears in exactly one pair, so norm
            # precompute buys nothing here — the fused cosine is right
            cosine(F.col("q_emb"), F.col("embedding")).alias("cos"),
        )
        .withColumn("sem_rank", F.row_number().over(w_sem))
        .filter(F.col("sem_rank") <= _FUSE_DEPTH)
        .select("doc_id", "sem_rank")
    )
    fused = lex.join(sem, "doc_id", "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (_RRF_K + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (_RRF_K + F.col("sem_rank")), F.lit(0.0))
    return (
        fused.select("doc_id", "lex_rank", "sem_rank", rrf.alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(_FUSE_TOP)
    )


# ---------------------------------------------------------------------------
# q214 — memorization-risk spans: corpus-repeated n-grams merged per doc
# ---------------------------------------------------------------------------
_MEM_K = 5  # shingle width in tokens


@query(
    "q214_memorization_spans",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks, len({_SQL_TOKENS}) AS n_tok
      FROM documents
    ),
    sh AS (
      SELECT doc_id, i - 1 AS pos,
             CAST(concat('0x', substring(md5(
               array_to_string(toks[i:i+{_MEM_K - 1}], chr(31))
             ), 1, 15)) AS BIGINT) AS h
      FROM base, UNNEST(generate_series(1, n_tok - {_MEM_K} + 1)) AS g(i)
      WHERE n_tok >= {_MEM_K}
    ),
    dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) >= 2),
    dp AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup USING (h)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos - LAG(pos) OVER w <= {_MEM_K} THEN 0 ELSE 1 END AS brk
      FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    isl2 AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM isl
    ),
    spans AS (
      SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + {_MEM_K} - 1 AS e,
             COUNT(*) AS ns
      FROM isl2 GROUP BY 1, 2
    ),
    perdoc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(ns) AS BIGINT) AS n_dup_shingles,
             CAST(MAX(e - s + 1) AS BIGINT) AS longest_span,
             CAST(SUM(e - s + 1) AS BIGINT) AS covered_tokens
      FROM spans GROUP BY 1
    )
    SELECT b.doc_id, CAST(b.n_tok AS BIGINT) AS n_tokens,
           COALESCE(p.n_dup_shingles, 0) AS n_dup_shingles,
           COALESCE(p.n_spans, 0) AS n_spans,
           COALESCE(p.longest_span, 0) AS longest_span,
           COALESCE(p.covered_tokens, 0) AS covered_tokens,
           CAST(COALESCE(p.covered_tokens, 0) * 10000 // b.n_tok AS BIGINT)
             AS coverage_bp
    FROM base b LEFT JOIN perdoc p USING (doc_id)
    """,
)
def q214_memorization_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEMORIZATION-RISK spans — the exact-substring dedup report of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better") at 5-token shingle granularity: for every
    document, the maximal token spans covered by 5-grams that
    occur ≥2 times ANYWHERE in the corpus. q95 flags repetition
    WITHIN a document and q191 duplication at fixed chunk boundaries;
    this is the sub-document CROSS-corpus view — the spans a trained
    model is most likely to regurgitate verbatim, and the rewrite
    targets for surgical (span-level, not document-level) dedup.

    Pipeline: positional shingles in one scan-local projection
    (transform over sequence + slice — no window, no Python), 8-byte
    md5 digests, one global digest-frequency aggregate (map-side
    combinable), a semi-join back to positions, then gaps-and-islands
    (lag + running sum) over only the DUPLICATED positions to merge
    overlapping shingles into maximal spans. Coverage is reported in
    integer basis points (covered·10000 DIV n_tokens) so the whole
    report is int64-exact cross-engine. Scale: shuffle keys are the
    8-byte digest and doc_id; window state is per-doc duplicated
    positions only — corpus text bytes never shuffle. r11: the
    all-docs (doc_id, n_tok) arm of the final left join rides the
    session doc_token_stats artifact (token_count is the SAME
    tokenize expression) instead of a second private scan+tokenize
    of the corpus — one tokenize pass per call instead of two."""
    from ecowatt_etl_spark.operators.text import doc_token_stats

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", tokens("text").alias("toks")
    ).select("doc_id", "toks", F.size("toks").alias("n_tok"))
    sh = (
        base.filter(F.col("n_tok") >= _MEM_K)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {_MEM_K} + 1),"
                    f" i -> concat_ws(chr(31), slice(toks, i, {_MEM_K})))"
                )
            ).alias("pos", "sh_text"),
        )
        .select(
            "doc_id",
            "pos",
            F.conv(F.substring(F.md5("sh_text"), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )
    # duplicated positions in ONE pass over the shingle stream: a
    # count window keyed on the digest replaces the agg + semi-join
    # pair, which evaluated the scan+tokenize+md5 subtree TWICE (the
    # two consumers shuffle different payloads, so Catalyst cannot
    # reuse the exchange). Same rows out; one 8-byte-keyed shuffle.
    wh = W.partitionBy("h")
    dp = (
        sh.withColumn("c", F.count("*").over(wh))
        .filter(F.col("c") >= 2)
        .select("doc_id", "pos")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    isl = dp.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(w) <= _MEM_K, 0).otherwise(1),
    ).withColumn(
        "island",
        F.sum("brk").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + _MEM_K - 1).alias("e"),
        F.count("*").alias("ns"),
    )
    perdoc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum("ns").cast("long").alias("n_dup_shingles"),
        F.max(F.col("e") - F.col("s") + 1).cast("long").alias("longest_span"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("covered_tokens"),
    )
    return (
        doc_token_stats(spark, sf_dir)
        .select("doc_id", "n_tok")
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tok").cast("long").alias("n_tokens"),
            F.coalesce("n_dup_shingles", F.lit(0)).alias("n_dup_shingles"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("longest_span", F.lit(0)).alias("longest_span"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.expr(
                "CAST(COALESCE(covered_tokens, 0) * 10000 DIV n_tok AS BIGINT)"
            ).alias("coverage_bp"),
        )
    )


# ---------------------------------------------------------------------------
# q220 — mixed-language detection via chunk-level language consistency
# ---------------------------------------------------------------------------
@query(
    "q220_mixed_language",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS} AS w,
             CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tok
      FROM documents
    ),
    sized AS (
      SELECT doc_id, w, n_tok,
             CASE WHEN n_tok <= {_CHUNK_SIZE} THEN 1
                  ELSE (n_tok - {_CHUNK_SIZE} + {_CHUNK_STRIDE} - 1)
                         // {_CHUNK_STRIDE} + 1 END AS n_chunks
      FROM t
    ),
    ch AS (
      SELECT doc_id,
             array_to_string(
               w[i * {_CHUNK_STRIDE} + 1 : i * {_CHUNK_STRIDE} + {_CHUNK_SIZE}],
               ' ') AS text
      FROM sized, UNNEST(generate_series(0, n_chunks - 1)) AS u(i)
    ),
    scored AS (
      SELECT doc_id,
             {", ".join(f"{_sql_marker_count(m)} AS s_{lang}" for lang, m in LANG_MARKERS.items())}
      FROM ch
    ),
    pred AS (SELECT doc_id, {_sql_predict_lang()} AS pl FROM scored),
    pc AS (SELECT doc_id, pl, CAST(COUNT(*) AS BIGINT) AS c
           FROM pred GROUP BY 1, 2),
    agg AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chunks,
             CAST(COUNT(*) AS BIGINT) AS n_langs
      FROM pc GROUP BY 1
    ),
    dom AS (
      SELECT doc_id, pl, c,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY c DESC, pl) AS rn
      FROM pc
    )
    SELECT a.doc_id, a.n_chunks, a.n_langs AS n_chunk_langs,
           d.pl AS dominant_lang,
           CAST(d.c * 10000 // a.n_chunks AS BIGINT) AS dominant_bp,
           a.n_langs > 1 AS is_mixed
    FROM agg a JOIN dom d ON d.doc_id = a.doc_id AND d.rn = 1
    """,
)
def q220_mixed_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXED-LANGUAGE document detection — the curation gate q72's
    whole-document language ID cannot express: a document whose
    CHUNKS disagree about their language (code-switched pages, crawl
    concatenations, boilerplate in a second language) is poison for
    monolingual training corpora even when its majority language
    looks right. Composes two existing operators end to end: q79's
    overlapping token-window chunking feeds q72's marker-argmax
    scorer per chunk, then per-document consistency is reported as
    (distinct chunk languages, dominant language, dominant share in
    integer basis points, mixed flag).

    Scale shape: the chunk explosion and per-chunk scorer are one
    scan-local projection (no vocabulary join — the scorer is a fixed
    expression); everything after is keyed by doc_id: one (doc, lang)
    count, one per-doc rollup, one row_number over the tiny per-doc
    language table. The dominant-language tie breaks (count desc,
    language asc) exactly as the oracle's window does."""
    d = load_table(spark, sf_dir, "documents")
    w = tokens("text")
    sized = d.select(
        "doc_id", w.alias("w"), F.size(w).cast("long").alias("n_tok")
    ).withColumn(
        "n_chunks",
        F.when(F.col("n_tok") <= _CHUNK_SIZE, F.lit(1)).otherwise(
            F.expr(
                f"(n_tok - {_CHUNK_SIZE} + {_CHUNK_STRIDE} - 1)"
                f" DIV {_CHUNK_STRIDE} + 1"
            )
        ),
    )
    ch = sized.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("i"),
        F.col("w"),
    ).select(
        "doc_id",
        F.concat_ws(
            " ",
            F.slice(F.col("w"), F.col("i") * _CHUNK_STRIDE + 1, _CHUNK_SIZE),
        ).alias("chunk_text"),
    )
    pc = (
        ch.select("doc_id", predict_lang("chunk_text").alias("pl"))
        .groupBy("doc_id", "pl")
        .agg(F.count("*").alias("c"))
    )
    agg = pc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_chunks"),
        F.count("*").alias("n_langs"),
    )
    dom = pc.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.desc("c"), "pl")
        ),
    ).filter(F.col("rn") == 1)
    return agg.join(dom, "doc_id").select(
        "doc_id",
        "n_chunks",
        F.col("n_langs").alias("n_chunk_langs"),
        F.col("pl").alias("dominant_lang"),
        F.expr("CAST(c * 10000 DIV n_chunks AS BIGINT)").alias("dominant_bp"),
        (F.col("n_langs") > 1).alias("is_mixed"),
    )


# ---------------------------------------------------------------------------
# q245 — Naive Bayes quality classifier (weak-label distillation)
# ---------------------------------------------------------------------------
# Log-probabilities are QUANTIZED to int64 (floor(ln(p) * 2^20)) and
# computed DRIVER-SIDE with CPython math.log from the bounded count
# table, for the same reason q153 computes idf driver-side: CPython and
# DuckDB share the platform libm, so ln agrees bit-for-bit, while an
# in-plan JVM Math.log would diverge by an ulp on some inputs. The 2^20
# scale is a power of two — the multiply is exact — and the per-doc
# score is then an order-independent integer sum, so argmax and the
# confusion matrix are engine-exact.
_NB_SCALE = 1 << 20

# Shared oracle CTE block: weak label -> split -> train counts ->
# quantized weights/priors -> per-(test doc, class) integer scores.
# q245 derives the confusion matrix from it; q249 the margin sweep.
_NB_ORACLE_CTES = f"""base AS (
      SELECT doc_id, {_SQL_TOKENS} AS ws,
             {_sql_marker_count(STOPWORDS)} AS sw,
             len({_SQL_TOKENS}) AS ntk
      FROM documents
    ),
    lab AS (
      SELECT doc_id, ws,
             CASE WHEN 10 * sw >= ntk THEN 'hi' ELSE 'lo' END AS label,
             doc_id % 5 = 0 AS is_test
      FROM base
    ),
    train_tok AS (
      SELECT doc_id, label, unnest(ws) AS w FROM lab WHERE NOT is_test
    ),
    ncw AS (SELECT label, w, COUNT(*) AS n FROM train_tok GROUP BY 1, 2),
    nc AS (SELECT label, COUNT(*) AS n_tok FROM train_tok GROUP BY 1),
    dc AS (SELECT label, COUNT(*) AS n_docs FROM lab WHERE NOT is_test GROUP BY 1),
    dtot AS (SELECT COUNT(*) AS n FROM lab WHERE NOT is_test),
    vocab AS (SELECT DISTINCT w FROM train_tok),
    vv AS (SELECT COUNT(*) AS v FROM vocab),
    wq AS (
      -- classes come from dc (>=1 train DOC), mirroring the Spark
      -- side exactly: a class whose docs all tokenize empty still
      -- gets smoothed weights ln(1/(0+V)), not prior-only scoring
      SELECT dc.label, v.w,
             CAST(floor(ln(CAST(COALESCE(n.n, 0) + 1 AS DOUBLE)
                           / CAST(COALESCE(nc.n_tok, 0) + vv.v AS DOUBLE))
                        * {_NB_SCALE}.0) AS BIGINT) AS wq
      FROM dc
      CROSS JOIN vocab v
      CROSS JOIN vv
      LEFT JOIN nc ON nc.label = dc.label
      LEFT JOIN ncw n ON n.label = dc.label AND n.w = v.w
    ),
    prior AS (
      SELECT dc.label,
             CAST(floor(ln(CAST(dc.n_docs AS DOUBLE) / CAST(dtot.n AS DOUBLE))
                        * {_NB_SCALE}.0) AS BIGINT) AS pq
      FROM dc CROSS JOIN dtot
    ),
    test_tok AS (SELECT doc_id, unnest(ws) AS w FROM lab WHERE is_test),
    tok_scores AS (
      SELECT tt.doc_id, wq.label, CAST(SUM(wq.wq) AS BIGINT) AS s
      FROM test_tok tt JOIN wq ON wq.w = tt.w GROUP BY 1, 2
    ),
    scored AS (
      SELECT t.doc_id, p.label, p.pq + COALESCE(s.s, 0) AS score
      FROM (SELECT DISTINCT doc_id FROM lab WHERE is_test) t
      CROSS JOIN prior p
      LEFT JOIN tok_scores s ON s.doc_id = t.doc_id AND s.label = p.label
    )"""


@query(
    "q245_nb_quality_classifier",
    oracle=f"""
    WITH {_NB_ORACLE_CTES},
    pred AS (
      SELECT doc_id, label AS pred_label
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, label) = 1
    )
    SELECT l.label AS true_label, pred.pred_label,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred JOIN lab l USING (doc_id)
    GROUP BY 1, 2
    """,
)
def q245_nb_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes distilled from a WEAK LABEL — the
    fastText-style bootstrap every modern curation pipeline runs:
    derive a cheap heuristic label (here: stopword density >= 0.1, the
    q71 fluency signal), train a token classifier on the 80% split
    (doc_id % 5 != 0), score the held-out 20%, and report the
    confusion matrix the gate decision would be based on.

    Training reduces to ONE bounded aggregate: per-(class, token)
    counts over the train split. The count table is vocab-capped by
    construction (distinct train tokens; a 100 TB corpus would first
    cap vocab with the q76/q77 heavy-hitter machinery), so collecting
    it to the driver is O(classes x vocab) — the same bounded-collect
    contract as q63's query matrix — where CPython computes the
    quantized add-one log-likelihoods (see module note on libm
    parity). Scoring is the classic broadcast shape: the weight table
    broadcasts onto the exploded token stream, then ONE per-doc
    aggregate carries a conditional sum per class (pivoted scores —
    no doc x class grid, no second join, no window) and the argmax is
    a lexicographic struct-min; cost is O(test tokens x classes) with
    no shuffle wider than doc_id."""
    per_doc, classes = _nb_scored_docs(spark, sf_dir)
    # argmax with deterministic label-asc tie-break: lexicographic
    # struct min over (-score, label)
    pred = F.array_min(
        F.array(
            *[
                F.struct(
                    (-F.col(f"score_{i}")).alias("neg"),
                    F.lit(c).alias("lab"),
                )
                for i, c in enumerate(classes)
            ]
        )
    )["lab"]
    return (
        per_doc.select("true_label", pred.alias("pred_label"))
        .groupBy("true_label", "pred_label")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def _nb_scored_docs(spark: SparkSession, sf_dir: str):
    """Shared NB machinery: weak label -> split -> bounded count-table
    train -> driver-quantized weights -> broadcast pivoted scoring.
    Returns (per_doc DataFrame with doc_id / true_label / score_i per
    class, sorted class list). q245 derives the confusion matrix,
    q249 the score-margin calibration sweep."""
    import math as _math

    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    sw = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    lab = d.select(
        "doc_id",
        F.when(F.lit(10) * sw >= F.size(toks), F.lit("hi"))
        .otherwise("lo")
        .alias("label"),
        toks.alias("ws"),
        (F.col("doc_id") % 5 == 0).alias("is_test"),
    )
    train = lab.filter(~F.col("is_test"))
    counts = {
        (r["label"], r["w"]): r["n"]
        for r in train.select("label", F.explode("ws").alias("w"))
        .groupBy("label", "w")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    docs = {
        r["label"]: r["n"]
        for r in train.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    vocab = sorted({w for (_, w) in counts})
    v_sz = len(vocab)
    n_tok = {
        c: sum(n for (cc, _), n in counts.items() if cc == c) for c in docs
    }
    n_train = sum(docs.values())
    wrows = [
        (
            c,
            w,
            int(
                _math.floor(
                    _math.log(
                        (counts.get((c, w), 0) + 1) / (n_tok[c] + v_sz)
                    )
                    * _NB_SCALE
                )
            ),
        )
        for c in sorted(docs)
        for w in vocab
    ]
    priors = {
        c: int(_math.floor(_math.log(docs[c] / n_train) * _NB_SCALE))
        for c in sorted(docs)
    }
    wdf = spark.createDataFrame(wrows, "cls string, w string, wq long")
    test = lab.filter(F.col("is_test"))
    # One broadcast LEFT join of the model onto the exploded token
    # stream (explode_outer keeps zero-vocab-token docs alive, scored
    # by priors alone), then ONE per-doc aggregate with a conditional
    # sum per class — the pivot form of per-(doc, class) scoring that
    # needs no doc x class grid, no second join, no window.
    per_doc = (
        test.select(
            "doc_id",
            F.col("label").alias("true_label"),
            F.explode_outer("ws").alias("w"),
        )
        .join(F.broadcast(wdf), "w", "left")
        .groupBy("doc_id", "true_label")
        .agg(
            *[
                (
                    F.lit(priors[c])
                    + F.coalesce(
                        F.sum(F.when(F.col("cls") == c, F.col("wq"))), F.lit(0)
                    )
                ).alias(f"score_{i}")
                for i, c in enumerate(sorted(docs))
            ]
        )
    )
    return per_doc, sorted(docs)


# ---------------------------------------------------------------------------
# q249 — model-gate calibration: precision/recall sweep over NB margin
# ---------------------------------------------------------------------------
@query(
    "q249_gate_calibration",
    oracle=f"""
    WITH {_NB_ORACLE_CTES},
    margins AS (
      SELECT s.doc_id,
             CAST(SUM(CASE WHEN s.label = 'hi' THEN s.score END) AS BIGINT)
               - CAST(SUM(CASE WHEN s.label = 'lo' THEN s.score END)
                      AS BIGINT) AS margin,
             MAX(l.label) AS true_label
      FROM scored s JOIN lab l ON l.doc_id = s.doc_id
      GROUP BY s.doc_id
    ),
    tot AS (
      SELECT COUNT(*) AS nn,
             CAST(SUM(CASE WHEN true_label = 'hi' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hi
      FROM margins
    ),
    ranked AS (
      SELECT margin,
             ROW_NUMBER() OVER (ORDER BY margin DESC, doc_id) AS rn
      FROM margins
    ),
    thr AS (
      SELECT g.d, r.margin AS margin_threshold
      FROM UNNEST(generate_series(1, 10)) AS g(d)
      CROSS JOIN tot
      JOIN ranked r ON r.rn = (g.d * tot.nn + 9) // 10
    ),
    kept AS (
      SELECT t.d AS decile, t.margin_threshold,
             CAST(SUM(CASE WHEN m.margin >= t.margin_threshold
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(SUM(CASE WHEN m.margin >= t.margin_threshold
                            AND m.true_label = 'hi'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_hi_kept
      FROM thr t CROSS JOIN margins m
      GROUP BY 1, 2
    )
    SELECT decile, margin_threshold, n_kept, n_hi_kept,
           n_hi_kept * 10000 // n_kept AS precision_bp,
           n_hi_kept * 10000 // GREATEST(tot.n_hi, 1) AS recall_bp
    FROM kept CROSS JOIN tot
    """,
)
def q249_gate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-threshold CALIBRATION for the q245 classifier — the
    artifact you actually stare at before turning a model filter on:
    for each decile cutoff of the score margin (score_hi − score_lo,
    integer, so thresholds are engine-exact), how many documents the
    gate would keep, and the precision / recall against the weak
    label in basis points. Picking a filtering threshold from this
    curve (rather than 'keep pred == hi') is how production pipelines
    trade corpus size against purity — and the deciles make the
    choice budget-denominated ('keep the top 30%') instead of
    score-denominated.

    Scale: margins come from the q245 scoring pass (broadcast model,
    one doc-keyed aggregate). The rank window runs over the
    EVALUATION SAMPLE — bounded by construction, like every
    calibration set — not the corpus; the sweep itself is a 10-row
    broadcast against the margins frame. All counting is integer;
    precision/recall are floor-divided basis points."""
    per_doc, classes = _nb_scored_docs(spark, sf_dir)
    if classes != ["hi", "lo"]:
        raise ValueError(f"binary gate expects classes ['hi','lo'], got {classes}")
    margins = per_doc.select(
        "doc_id",
        "true_label",
        (F.col("score_0") - F.col("score_1")).alias("margin"),
    )
    w_all = W.partitionBy(F.lit(1))
    ranked = margins.select(
        "margin",
        "true_label",
        F.row_number()
        .over(W.partitionBy(F.lit(1)).orderBy(F.desc("margin"), F.asc("doc_id")))
        .alias("rn"),
        F.count("*").over(w_all).alias("nn"),
        F.sum(F.when(F.col("true_label") == "hi", 1).otherwise(0))
        .over(w_all)
        .cast("long")
        .alias("n_hi"),
    )
    # the decile→rank mapping is a function of columns already on
    # `ranked` (rn, nn), so derive it SCAN-LOCALLY: a join predicate
    # referencing both sides (rn == (d*nn+9) DIV 10) would plan as a
    # BroadcastNestedLoopJoin — one of the shapes plans/guard.py bans —
    # where this explode touches only the ≤10 threshold rows
    thr = F.broadcast(
        ranked.filter(
            F.expr(
                "array_contains(transform(sequence(1, 10),"
                " d -> (d * nn + 9) DIV 10), rn)"
            )
        )
        .select(
            F.explode(
                F.expr(
                    "filter(sequence(1, 10),"
                    " d -> (d * nn + 9) DIV 10 = rn)"
                )
            ).alias("decile"),
            F.col("margin").alias("margin_threshold"),
            "n_hi",
        )
        .withColumn("decile", F.col("decile").cast("int"))
    )
    kept = (
        margins.crossJoin(thr)
        .groupBy("decile", "margin_threshold", "n_hi")
        .agg(
            F.sum(F.when(F.col("margin") >= F.col("margin_threshold"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(
                F.when(
                    (F.col("margin") >= F.col("margin_threshold"))
                    & (F.col("true_label") == "hi"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_hi_kept"),
        )
    )
    return kept.select(
        "decile",
        "margin_threshold",
        "n_kept",
        "n_hi_kept",
        F.expr("n_hi_kept * 10000 DIV n_kept").alias("precision_bp"),
        F.expr("n_hi_kept * 10000 DIV GREATEST(n_hi, 1)").alias("recall_bp"),
    )


# ---------------------------------------------------------------------------
# q255 — charset hygiene profile via mapInArrow (raw-Arrow UDx)
# ---------------------------------------------------------------------------
# Completes the Arrow UDx matrix (pandas_udf / grouped-map / mapInPandas
# / cogroup / UDTF / mapInArrow): the batch iterator receives raw
# pyarrow RecordBatches — no pandas materialization at all, the lowest-
# overhead Python hook Spark offers. Entropy is folded with CPython
# math.log2 in char-ascending order; DuckDB's log2 shares the platform
# libm (the q153/q245 argument), and the fold order is pinned on both
# sides, so even the float column is hash-exact.
_ENT_SCALE = 1 << 20


@query(
    "q255_charset_profile",
    oracle=f"""
    WITH chars AS (
      SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
      FROM documents
    ),
    hist AS (
      SELECT doc_id, ch, COUNT(*) AS c FROM chars
      WHERE ch <> '' GROUP BY doc_id, ch
    ),
    folded AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_chars,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
             CAST(MAX(c) AS BIGINT) AS top_char_count,
             CAST(SUM(CASE WHEN ch BETWEEN 'a' AND 'z' OR ch = ' '
                           THEN c ELSE 0 END) AS BIGINT) AS n_printable,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                            list(CAST(c AS DOUBLE) ORDER BY ch)),
               (acc, x) -> acc + x * log2(x)) AS clog_sum
      FROM hist GROUP BY doc_id
    )
    SELECT doc_id, n_chars, n_distinct_chars, top_char_count,
           n_printable * 10000 // n_chars AS printable_bp,
           CAST(floor((log2(CAST(n_chars AS DOUBLE))
                       - clog_sum / CAST(n_chars AS DOUBLE))
                      * {_ENT_SCALE}.0) AS BIGINT) AS entropy_q
    FROM folded
    """,
)
def q255_charset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset hygiene profile per document — character count,
    distinct-character diversity, dominant-character count, printable
    share in basis points, and quantized Shannon entropy of the
    character distribution. These are the binary-junk / mojibake /
    low-diversity detectors a corpus intake runs before any semantic
    filter (low entropy = repeated filler; low printable share =
    encoding damage or non-text payloads).

    Engine surface: computed with ``mapInArrow`` — the raw
    RecordBatch iterator, no pandas conversion — completing the Arrow
    UDx matrix. Per batch, CPython walks each string once, builds the
    char histogram, and folds entropy in char-ascending order with
    math.log2 (libm-shared with the oracle's log2; identical fold
    order), so every column including the quantized entropy is
    hash-exact cross-engine.

    Scale: scan-local (zero exchanges); Arrow batches stream through
    the Python worker at arrow.maxRecordsPerBatch granularity, and the
    histogram is bounded by the charset, not the text."""
    import math as _math

    import pyarrow as pa

    def profile(batches):
        for batch in batches:
            out = {
                "doc_id": [],
                "n_chars": [],
                "n_distinct_chars": [],
                "top_char_count": [],
                "printable_bp": [],
                "entropy_q": [],
            }
            for doc_id, text in zip(
                batch.column("doc_id").to_pylist(),
                batch.column("text").to_pylist(),
            ):
                if not text:
                    # mirror the oracle: a document with no characters
                    # produces no histogram row, not a crash
                    continue
                hist: dict = {}
                for ch in text:
                    hist[ch] = hist.get(ch, 0) + 1
                n = sum(hist.values())
                acc = 0.0
                for ch in sorted(hist):
                    acc = acc + float(hist[ch]) * _math.log2(float(hist[ch]))
                ent = _math.log2(float(n)) - acc / float(n)
                printable = sum(
                    c for ch, c in hist.items() if ch == " " or "a" <= ch <= "z"
                )
                out["doc_id"].append(doc_id)
                out["n_chars"].append(n)
                out["n_distinct_chars"].append(len(hist))
                out["top_char_count"].append(max(hist.values()))
                out["printable_bp"].append(printable * 10000 // n)
                out["entropy_q"].append(int(_math.floor(ent * _ENT_SCALE)))
            yield pa.RecordBatch.from_pydict(out)

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInArrow(
        profile,
        schema=(
            "doc_id long, n_chars long, n_distinct_chars long,"
            " top_char_count long, printable_bp long, entropy_q long"
        ),
    )


# ---------------------------------------------------------------------------
# q259 — Heaps'-law vocabulary growth per source
# ---------------------------------------------------------------------------
@query(
    "q259_vocab_growth",
    oracle=f"""
    WITH d AS (
      SELECT source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS seq,
             COUNT(*) OVER (PARTITION BY source) AS n_docs,
             {_SQL_TOKENS} AS toks
      FROM documents
    ),
    dd AS (
      SELECT source, seq, n_docs,
             (10 * seq + n_docs - 1) // n_docs AS decile,
             len(toks) AS n_tok, toks
      FROM d
    ),
    per_doc AS (
      SELECT source, decile,
             CAST(COUNT(*) AS BIGINT) AS d_docs,
             CAST(SUM(n_tok) AS BIGINT) AS d_tokens
      FROM dd GROUP BY 1, 2
    ),
    tok AS (
      SELECT source, seq, n_docs, unnest(toks) AS token FROM dd
    ),
    first AS (
      SELECT source, token, MIN(seq) AS fs, MIN(n_docs) AS n_docs
      FROM tok GROUP BY 1, 2
    ),
    per_decile_vocab AS (
      SELECT source, (10 * fs + n_docs - 1) // n_docs AS decile,
             CAST(COUNT(*) AS BIGINT) AS d_vocab
      FROM first GROUP BY 1, 2
    )
    SELECT p.source, CAST(p.decile AS BIGINT) AS decile,
           CAST(SUM(p.d_docs) OVER w AS BIGINT) AS docs_cum,
           CAST(SUM(p.d_tokens) OVER w AS BIGINT) AS tokens_cum,
           CAST(SUM(COALESCE(v.d_vocab, 0)) OVER w AS BIGINT) AS vocab_cum
    FROM per_doc p
    LEFT JOIN per_decile_vocab v
      ON v.source = p.source AND v.decile = p.decile
    WINDOW w AS (PARTITION BY p.source ORDER BY p.decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q259_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS'-LAW vocabulary growth curve per source: documents are
    replayed in deterministic ingest order (doc_id) and, at each
    decile of the stream, the report gives cumulative documents,
    cumulative tokens, and cumulative DISTINCT tokens — the V(N)
    curve whose flattening tells a curation pipeline when another
    shard of a source stops buying new vocabulary (dedup pressure,
    boilerplate, or a crawler stuck in a template). Raw integer
    checkpoints, no curve fitting — downstream plots or fits them
    (q260 fits the companion Zipf exponent); every value is exact, so
    the oracle matches bit-for-bit.

    Scale shape: one window shuffle keyed by source assigns ingest
    ordinals (each source's manifest sorts in one task — at 100 TB
    replace with range-partitioned rank over doc_id or precomputed
    manifest ordinals; the checkpoint math is unchanged), one
    (source, token)-keyed aggregate finds each token's first
    occurrence (well-distributed, the corpus-sized shuffle), then
    10-rows-per-source cumulative windows. Token strings shuffle once;
    the documented 100 TB downgrade is xxhash64(token) 8-byte keys,
    trading exactness of ties for 10× shuffle volume."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", tokens("text").alias("toks")
    )
    w_seq = W.partitionBy("source").orderBy("doc_id")
    w_src = W.partitionBy("source")
    docs = (
        d.select(
            "source",
            F.row_number().over(w_seq).alias("seq"),
            F.count("*").over(w_src).alias("n_docs"),
            F.size("toks").alias("n_tok"),
            "toks",
        )
        # ceil(10*seq/n_docs) in exact integer arithmetic (DIV, not /)
        .withColumn(
            "decile", F.expr("CAST((10 * seq + n_docs - 1) DIV n_docs AS BIGINT)")
        )
    )
    per_doc = docs.groupBy("source", "decile").agg(
        F.count("*").alias("d_docs"), F.sum("n_tok").alias("d_tokens")
    )
    first = (
        docs.select("source", "seq", "n_docs", F.explode("toks").alias("token"))
        .groupBy("source", "token")
        .agg(F.min("seq").alias("fs"), F.min("n_docs").alias("n_docs"))
        .withColumn(
            "decile", F.expr("CAST((10 * fs + n_docs - 1) DIV n_docs AS BIGINT)")
        )
    )
    vocab = first.groupBy("source", "decile").agg(F.count("*").alias("d_vocab"))
    w_cum = (
        W.partitionBy("source")
        .orderBy("decile")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        per_doc.join(vocab, ["source", "decile"], "left")
        .select(
            "source",
            "decile",
            F.sum("d_docs").over(w_cum).alias("docs_cum"),
            F.sum("d_tokens").over(w_cum).alias("tokens_cum"),
            F.sum(F.coalesce(F.col("d_vocab"), F.lit(0)))
            .over(w_cum)
            .alias("vocab_cum"),
        )
    )


# ---------------------------------------------------------------------------
# q260 — Zipf rank-frequency exponent (exact-fold OLS on the top ranks)
# ---------------------------------------------------------------------------
_ZIPF_K = 500  # ranks fitted; bounded driver fetch, O(K) work


def _sql_fold(list_expr: str) -> str:
    """Left fold of a DOUBLE list with a 0.0 seed — the q61/q63
    deterministic-summation twin (operators/similarity.py)."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {list_expr}), "
        f"(acc, x) -> acc + x)"
    )


@query(
    "q260_zipf_fit",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_SQL_TOKENS}) AS token FROM documents
    ),
    f AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY 1),
    top AS (
      SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rk
      FROM f QUALIFY rk <= {_ZIPF_K}
    ),
    l AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             list(ln(CAST(rk AS DOUBLE)) ORDER BY rk) AS xs,
             list(ln(CAST(freq AS DOUBLE)) ORDER BY rk) AS ys
      FROM top
    ),
    s AS (
      SELECT n,
             {_sql_fold("xs")} AS sx,
             {_sql_fold("ys")} AS sy,
             {_sql_fold("list_transform(xs, x -> x * x)")} AS sxx,
             {_sql_fold("list_transform(ys, y -> y * y)")} AS syy,
             {_sql_fold(
                 "list_transform(generate_series(1, len(xs)),"
                 " i -> xs[i] * ys[i])"
             )} AS sxy
      FROM l
    )
    SELECT CAST(n AS BIGINT) AS n_ranks,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
             AS intercept,
           ((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
    FROM s
    """,
)
def q260_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF rank-frequency fit: OLS of ln(freq) on ln(rank) over the
    top-K (K = _ZIPF_K = 500) vocabulary — slope ≈ −1 for natural text; a corpus
    drifting toward 0 is template/boilerplate-heavy, one steeper than
    −1.2 is dominated by a tiny head (both are curation red flags the
    scalar catches cheaply). Companion to q259's Heaps curve and
    q76's heavy-hitter head.

    Exactness (the q63 discipline): the distributed part — the
    vocabulary frequency aggregate — is exact integers; only the
    bounded top-K (freq DESC, token ASC — tie-free deterministic
    ranking) reaches the driver, where CPython computes ln and the
    OLS sums as FIXED-ORDER left folds. The oracle replays the same
    fold (list_reduce with a 0.0 seed, ascending rank) and the same
    IEEE expression tree; ln agrees bitwise because both CPython and
    DuckDB call the platform libm. Spark-side ln (java.lang.Math.log)
    is deliberately NOT used — it carries no bit guarantee against
    libm.

    Scale: one (token)-keyed count aggregate (map-side combined), a
    TakeOrdered top-K (no global sort materialization), K rows to the
    driver, O(K) arithmetic. The fit itself is scale-free."""
    import math

    from pyspark.sql import types as T

    d = load_table(spark, sf_dir, "documents").select(
        F.explode(tokens("text")).alias("token")
    )
    freq = d.groupBy("token").agg(F.count("*").alias("freq"))
    top = (
        freq.orderBy(F.desc("freq"), F.asc("token"))
        .limit(_ZIPF_K)
        .select("freq")
        .collect()
    )
    n = len(top)
    xs = [math.log(float(i + 1)) for i in range(n)]
    ys = [math.log(float(r["freq"])) for r in top]

    def fold(vals):
        acc = 0.0
        for v in vals:
            acc = acc + v
        return acc

    nf = float(n)
    sx, sy = fold(xs), fold(ys)
    sxx = fold([x * x for x in xs])
    syy = fold([y * y for y in ys])
    sxy = fold([x * y for x, y in zip(xs, ys)])
    den = nf * sxx - sx * sx
    slope = (nf * sxy - sx * sy) / den if den else None
    intercept = (sy - slope * sx) / nf if slope is not None else None
    num = nf * sxy - sx * sy
    deny = nf * syy - sy * sy
    r2 = (num * num) / (den * deny) if den and deny else None
    schema = T.StructType(
        [
            T.StructField("n_ranks", T.LongType()),
            T.StructField("slope", T.DoubleType()),
            T.StructField("intercept", T.DoubleType()),
            T.StructField("r2", T.DoubleType()),
        ]
    )
    return spark.createDataFrame([(n, slope, intercept, r2)], schema)


# ---------------------------------------------------------------------------
# q262 — sequence packing: cut the concatenated token stream into
# fixed-capacity training sequences (the GPT/Megatron packing layout)
# ---------------------------------------------------------------------------
_PACK_C = 2048  # tokens per packed training sequence


@query(
    "q262_sequence_packing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, len({_SQL_TOKENS}) AS n_tok FROM documents
    ),
    offs AS (
      SELECT doc_id, n_tok,
             COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS start_off
      FROM toks WHERE n_tok > 0
    ),
    spans AS (
      SELECT doc_id,
             CAST(start_off // {_PACK_C} AS BIGINT) AS first_bin,
             CAST((start_off + n_tok - 1) // {_PACK_C} AS BIGINT) AS last_bin
      FROM offs
    ),
    hits AS (
      SELECT doc_id, first_bin, last_bin,
             UNNEST(generate_series(first_bin, last_bin)) AS bin
      FROM spans
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE first_bin <> last_bin) AS BIGINT)
             AS n_straddlers,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM hits GROUP BY bin
    """,
)
def q262_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE PACKING — the training-data layout step that turns a
    document corpus into fixed-length model inputs: concatenate the
    token stream in doc_id order and cut every _PACK_C tokens (the
    GPT-2/Megatron "packed" dataset shape, where documents straddle
    sequence boundaries and per-bin doc membership drives attention
    masking). Emits, per packed sequence: how many documents
    contribute, how many straddle a boundary, and the first/last
    doc_id — the exact manifest a packed-dataset writer needs.

    Spark-first shape: one token-count projection (scan-local), then
    start offsets via operators/scan_ops.prefix_sum — the TWO-PHASE
    distributed scan (per-bucket window cumsum + broadcast bucket base
    offsets), because a bare Window.orderBy cumsum collapses to one
    task and is exactly the shape that dies at 10B docs. Then the bins
    each doc touches via sequence()+explode — fan-out equal to the
    straddle count, not the token count — and a hash aggregate per
    bin. The token payload itself never shuffles.

    Exactness: pure integer arithmetic (counts, offsets, integer
    division) — hash-identical cross-engine by construction.

    Token counts ride the session-shared doc_token_stats frame since
    r10 (same token_count expression, so values are unchanged): the
    packing family's four members each re-ran a private tokenize scan
    — 56.5 s family total at 100× → 47.0 s cold (one 15 s shared
    build + 3–8 s per member; warm members 2.8–8 s), and the build is
    the SAME artifact the q270 layout family already amortizes."""
    from ecowatt_etl_spark.operators.scan_ops import prefix_sum
    from ecowatt_etl_spark.operators.text import doc_token_stats

    toks = (
        doc_token_stats(spark, sf_dir)
        .select("doc_id", "n_tok")
        .filter(F.col("n_tok") > 0)
    )
    offs = prefix_sum(toks, "doc_id", "n_tok", out_col="start_off")
    # integer DIV, not double division: offsets exceed 2^53 long before
    # 100 TB and a double quotient would mis-bin silently
    spans = offs.select(
        "doc_id",
        F.expr(f"start_off DIV {_PACK_C}").alias("first_bin"),
        F.expr(f"(start_off + n_tok - 1) DIV {_PACK_C}").alias("last_bin"),
    )
    hits = spans.select(
        "doc_id",
        "first_bin",
        "last_bin",
        F.explode(F.sequence("first_bin", "last_bin")).alias("bin"),
    )
    return hits.groupBy("bin").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("first_bin") != F.col("last_bin"), 1).otherwise(0))
        .cast("long")
        .alias("n_straddlers"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# q263 — intra-document repetition ratio (trainability signal)
# ---------------------------------------------------------------------------
_REP_N = 3  # n-gram order for the repetition measure
_REP_BP_T = 2000  # flag threshold: >= 20% repeated n-gram occurrences


@query(
    "q263_repetition_ratio",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, {_SQL_TOKENS} AS toks,
             len({_SQL_TOKENS}) AS n_tok
      FROM documents
    ),
    sh AS (
      SELECT doc_id, source,
             CAST(concat('0x', substring(md5(
               array_to_string(toks[i:i+{_REP_N - 1}], chr(31))
             ), 1, 15)) AS BIGINT) AS h
      FROM base, UNNEST(generate_series(1, n_tok - {_REP_N} + 1)) AS g(i)
      WHERE n_tok >= {_REP_N}
    ),
    perdoc AS (
      SELECT doc_id, source,
             (COUNT(*) - COUNT(DISTINCT h)) * 10000 // COUNT(*) AS rep_bp
      FROM sh GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE rep_bp >= {_REP_BP_T}) AS BIGINT)
             AS n_flagged,
           CAST(MAX(rep_bp) AS BIGINT) AS max_rep_bp,
           CAST(SUM(rep_bp) AS BIGINT) AS sum_rep_bp
    FROM perdoc GROUP BY source
    """,
)
def q263_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRA-DOCUMENT REPETITION — the "repeated n-gram" trainability
    signal (excessively self-repeating documents degrade LM training;
    the Gopher/MassiveText rules filter on exactly this): per doc, the
    fraction of 3-gram OCCURRENCES that are repeats of an earlier
    3-gram in the same doc, in integer basis points; aggregated per
    source with a >= 20% flag count, so a crawl slice full of
    boilerplate loops is visible as a source-level signal.

    Spark-first shape — the dedup family's measured lesson
    (operators/dedup.py module doc), re-confirmed here: the first cut
    built the n-gram strings and their distinct count as array HOF
    expressions "scan-local, zero shuffle" — and ran 284 s at 100x,
    because HOF lambdas evaluate INTERPRETED and the distinct pass
    re-walks full n-gram STRINGS per element. This form explodes
    positional shingles once, md5-hashes each in whole-stage codegen
    (q214's exact shingle digest, chr(31)-joined), and reduces with
    one (doc_id, source) hash aggregate whose distinct-count input is
    an 8-byte digest, not a string. Measured 284 s -> ~24 s at 100x.

    Exactness: the distinct count is over 60-bit md5 digests computed
    IDENTICALLY in both engines (q214's machinery), so any collision
    collides identically; scores are integer basis points, sums are
    integer — hash-identical cross-engine."""
    from ecowatt_etl_spark.operators.dedup import fan_out

    d = load_table(spark, sf_dir, "documents")
    base = fan_out(d).select(
        "doc_id", "source", tokens("text").alias("toks")
    ).withColumn("n_tok", F.size("toks"))
    sh = (
        base.filter(F.col("n_tok") >= _REP_N)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {_REP_N} + 1),"
                    f" i -> concat_ws(chr(31), slice(toks, i, {_REP_N})))"
                )
            ).alias("sh_text"),
        )
        .select(
            "doc_id",
            "source",
            F.conv(F.substring(F.md5("sh_text"), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )
    # Integer DIV, not double-divide-then-cast (r7 ADVICE): the double
    # quotient can floor differently from the oracle's exact `//` once
    # the numerator exceeds 2^53 — inside the 100 TB regime.
    perdoc = sh.groupBy("doc_id", "source").agg(
        F.expr(
            "CAST((COUNT(*) - COUNT(DISTINCT h)) * 10000 DIV COUNT(*)"
            " AS BIGINT)"
        ).alias("rep_bp")
    )
    return perdoc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("rep_bp") >= _REP_BP_T, 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
        F.max("rep_bp").alias("max_rep_bp"),
        F.sum("rep_bp").alias("sum_rep_bp"),
    )


# ---------------------------------------------------------------------------
# q264 — temperature-rebalanced source mixture weights
# ---------------------------------------------------------------------------
@query(
    "q264_mixture_weights",
    oracle=f"""
    WITH src AS (
      SELECT source, CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_tokens) AS total FROM src),
    raw AS (
      SELECT source, n_tokens, total,
             CAST(SQRT(CAST(n_tokens AS DOUBLE) / total) * 1000000 AS BIGINT)
               AS w_units
      FROM src, tot
    ),
    norm AS (SELECT SUM(w_units) AS units_total FROM raw)
    SELECT source, n_tokens,
           CAST(w_units * 10000 // units_total AS BIGINT) AS weight_bp,
           CAST((w_units * 10000 // units_total) * total
                  // (n_tokens * 10) AS BIGINT) AS epochs_permille
    FROM raw, norm
    """,
)
def q264_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN-MIXTURE REWEIGHTING — the sampling-weight computation a
    multi-source training run does before drawing batches: per-source
    token shares are rebalanced with a temperature (τ = 0.5, i.e.
    w ∝ share^τ — the multilingual-sampling form that upweights
    small sources without flattening to uniform), normalized to basis
    points, plus the implied per-source epoch count (how many times a
    source's tokens are seen when sampling by these weights), in
    permille. Everything a mixture manifest needs, per source.

    Exactness discipline: share^0.5 is IEEE sqrt of an IEEE division
    (bit-identical cross-engine); weights are then quantized to
    integer micro-units BEFORE normalization, so the normalizing sum
    is an order-free integer sum and the published basis points are
    integer division — no order-dependent double accumulation
    anywhere (the repo's standard cross-engine float rule).

    Scale shape: one scan-local token count, one per-source hash
    aggregate (20 rows), then driver-free integer arithmetic on the
    tiny source frame with the 1-row totals broadcast via crossJoin."""
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.sum(F.size(tokens("text"))).cast("long").alias("n_tokens")
    )
    tot = src.agg(F.sum("n_tokens").alias("total"))
    raw = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        "total",
        (
            F.sqrt(F.col("n_tokens").cast("double") / F.col("total")) * 1000000
        )
        .cast("long")
        .alias("w_units"),
    )
    # Integer DIV end-to-end (r7 ADVICE): the previous
    # double-divide-then-cast floors identically to the oracle's `//`
    # only while weight_bp * total < 2^53 (~1e12 corpus tokens —
    # inside the claimed 100 TB regime); DIV is exact at any scale.
    norm = raw.agg(F.sum("w_units").alias("units_total"))
    return raw.crossJoin(F.broadcast(norm)).select(
        "source",
        "n_tokens",
        F.expr("CAST(w_units * 10000 DIV units_total AS BIGINT)").alias(
            "weight_bp"
        ),
        F.expr(
            "CAST((w_units * 10000 DIV units_total) * total"
            " DIV (n_tokens * 10) AS BIGINT)"
        ).alias("epochs_permille"),
    )


# ---------------------------------------------------------------------------
# q265 — incremental sequence packing (delta-append with audit arm)
# ---------------------------------------------------------------------------
@query(
    "q265_incremental_packing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, len({_SQL_TOKENS}) AS n_tok FROM documents
    ),
    nz AS (SELECT doc_id, n_tok FROM toks WHERE n_tok > 0),
    split AS (SELECT MAX(doc_id) * 4 // 5 AS b FROM nz),
    prev AS (
      SELECT COALESCE(SUM(n_tok), 0) AS t_prev,
             CAST(COALESCE(SUM(n_tok), 0) // {_PACK_C} AS BIGINT)
               AS boundary_bin
      FROM nz, split WHERE doc_id < b
    ),
    committed_touch AS (
      SELECT COUNT(*) AS n_committed FROM (
        SELECT doc_id,
               COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS s,
               n_tok
        FROM nz, split WHERE doc_id < b
      ), prev
      WHERE (s + n_tok - 1) // {_PACK_C} = boundary_bin
    ),
    batch AS (
      SELECT doc_id, n_tok,
             t_prev + COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS start_off
      FROM nz, split, prev WHERE doc_id >= b
    ),
    incr AS (
      SELECT CAST(UNNEST(generate_series(
               CAST(start_off // {_PACK_C} AS BIGINT),
               CAST((start_off + n_tok - 1) // {_PACK_C} AS BIGINT)))
             AS BIGINT) AS bin
      FROM batch
    ),
    incr_bins AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs_incr
      FROM incr GROUP BY bin
    ),
    full_offs AS (
      SELECT doc_id, n_tok,
             COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS start_off
      FROM nz
    ),
    full_bins AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs_full FROM (
        SELECT CAST(UNNEST(generate_series(
                 CAST(start_off // {_PACK_C} AS BIGINT),
                 CAST((start_off + n_tok - 1) // {_PACK_C} AS BIGINT)))
               AS BIGINT) AS bin
        FROM full_offs
      ) GROUP BY bin
    )
    SELECT i.bin, i.n_docs_incr, f.n_docs_full,
           (i.bin = p.boundary_bin) AS is_boundary,
           CASE WHEN i.bin = p.boundary_bin
                THEN f.n_docs_full = i.n_docs_incr + c.n_committed
                ELSE f.n_docs_full = i.n_docs_incr END AS reconciled
    FROM incr_bins i
    JOIN full_bins f USING (bin)
    CROSS JOIN prev p CROSS JOIN committed_touch c
    """,
)
def q265_incremental_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL sequence packing — the delta-append a daily shard
    pipeline runs: a new batch of documents (here the top fifth of the
    id range, the bootstrap stand-in for "today's crawl") is packed
    into bins CONTINUING at the committed token offset, without
    re-touching the committed corpus. Per new bin: incremental doc
    count, the full-recompute count, a boundary marker for the one bin
    straddling the commit point, and a `reconciled` audit bit — the
    oracle pins every bit TRUE, proving delta-append ≡ full repack
    (q247's incremental-view discipline applied to training layout).

    Production cost model: the incremental arm tokenizes and
    prefix-sums ONLY the batch (the committed total arrives from the
    stored manifest — one scalar; recomputed here as bootstrap,
    exactly like q247 runs both arms by design); the audit arm is the
    full q262 repack and exists to be compared against. At 100 TB the
    daily path is O(batch), and the boundary-bin reconciliation is
    what makes appends safe to trust without the full repack.

    The (doc_id, n_tok) frame must be MATERIALIZED: both arms, the
    commit-point scalar, and the boundary audit all derive from it,
    and unlike q276's case these references sit under DIFFERENT
    operators (filters, two prefix_sum phases, explodes), so
    ReuseExchange cannot recover them at runtime — the naive plan
    really tokenized the corpus 16 times (tools/audit_scans.py's top
    entry before this cut; measured before/after in SCALE.md). Since
    r10 the materialization IS the session-shared doc_token_stats
    frame (same token_count expression, identical values) — the 16
    references scan its checkpointed blocks, and the private
    per-query checkpoint is gone."""
    from ecowatt_etl_spark.operators.scan_ops import prefix_sum
    from ecowatt_etl_spark.operators.text import doc_token_stats

    nz = (
        doc_token_stats(spark, sf_dir)
        .select("doc_id", "n_tok")
        .filter(F.col("n_tok") > 0)
    )
    split = F.broadcast(
        nz.agg(F.expr("MAX(doc_id) * 4 DIV 5").alias("b"))
    )
    nzs = nz.crossJoin(split)
    committed = nzs.filter(F.col("doc_id") < F.col("b")).select(
        "doc_id", "n_tok"
    )
    prev = F.broadcast(
        committed.agg(
            F.coalesce(F.sum("n_tok"), F.lit(0)).alias("t_prev"),
            F.expr(f"COALESCE(SUM(n_tok), 0) DIV {_PACK_C}").alias(
                "boundary_bin"
            ),
        )
    )
    committed_touch = F.broadcast(
        prefix_sum(committed, "doc_id", "n_tok", out_col="s")
        .crossJoin(prev)
        .filter(
            F.expr(f"(s + n_tok - 1) DIV {_PACK_C}") == F.col("boundary_bin")
        )
        .agg(F.count("*").alias("n_committed"))
    )
    batch = (
        prefix_sum(
            nzs.filter(F.col("doc_id") >= F.col("b")).select(
                "doc_id", "n_tok"
            ),
            "doc_id",
            "n_tok",
            out_col="rel_off",
        )
        .crossJoin(prev)
        .withColumn("start_off", F.col("rel_off") + F.col("t_prev"))
    )
    incr_bins = (
        batch.select(
            F.explode(
                F.sequence(
                    F.expr(f"start_off DIV {_PACK_C}"),
                    F.expr(f"(start_off + n_tok - 1) DIV {_PACK_C}"),
                )
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").alias("n_docs_incr"))
    )
    full_bins = (
        prefix_sum(nz, "doc_id", "n_tok", out_col="start_off")
        .select(
            F.explode(
                F.sequence(
                    F.expr(f"start_off DIV {_PACK_C}"),
                    F.expr(f"(start_off + n_tok - 1) DIV {_PACK_C}"),
                )
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").alias("n_docs_full"))
    )
    return (
        incr_bins.join(full_bins, "bin")
        .crossJoin(prev)
        .crossJoin(committed_touch)
        .select(
            "bin",
            "n_docs_incr",
            "n_docs_full",
            (F.col("bin") == F.col("boundary_bin")).alias("is_boundary"),
            F.when(
                F.col("bin") == F.col("boundary_bin"),
                F.col("n_docs_full")
                == F.col("n_docs_incr") + F.col("n_committed"),
            )
            .otherwise(F.col("n_docs_full") == F.col("n_docs_incr"))
            .alias("reconciled"),
        )
    )


# ---------------------------------------------------------------------------
# q267/q268 — per-source packing manifest, batch and LIVE (GroupState)
# ---------------------------------------------------------------------------
_SRC_PACK_ORACLE = f"""
    WITH nz AS (
      SELECT source, doc_id, len({_SQL_TOKENS}) AS n_tok
      FROM documents WHERE len({_SQL_TOKENS}) > 0
    ),
    offs AS (
      SELECT source, n_tok,
             COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
      FROM nz
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST((SUM(n_tok) + {_PACK_C} - 1) // {_PACK_C} AS BIGINT)
             AS n_bins,
           CAST(COUNT(*) FILTER (
             WHERE s // {_PACK_C} <> (s + n_tok - 1) // {_PACK_C}
           ) AS BIGINT) AS n_straddlers
    FROM offs GROUP BY source
    """


@query("q267_source_packing", oracle=_SRC_PACK_ORACLE)
def q267_source_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE packing manifest — the sharding a real training-data
    layout uses (one packed stream per domain/source, so mixture
    sampling in q264 can draw whole sequences from a single domain):
    for each source, its docs in doc_id order cut into _PACK_C-token
    sequences; emit docs, total tokens, bin count, and how many docs
    straddle a bin boundary.

    Spark-first shape: offsets via operators/scan_ops.prefix_sum with
    partition_cols=["source"] — every phase of the two-phase scan keys
    by source TOO, so no source's rows serialize on one task beyond
    the bucket width (the per-source twin of q262's global-scan
    safety), then ONE per-source hash aggregate. q268 runs the
    identical manifest LIVE with the offset carried as GroupState.
    Token counts ride the session-shared doc_token_stats frame (r10;
    identical expression, identical values)."""
    from ecowatt_etl_spark.operators.scan_ops import prefix_sum
    from ecowatt_etl_spark.operators.text import doc_token_stats

    nz = (
        doc_token_stats(spark, sf_dir)
        .select("source", "doc_id", "n_tok")
        .filter(F.col("n_tok") > 0)
    )
    offs = prefix_sum(
        nz, "doc_id", "n_tok", out_col="s", partition_cols=["source"]
    )
    straddle = F.expr(f"s DIV {_PACK_C}") != F.expr(
        f"(s + n_tok - 1) DIV {_PACK_C}"
    )
    return offs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.expr(f"(SUM(n_tok) + {_PACK_C} - 1) DIV {_PACK_C}").alias("n_bins"),
        F.sum(F.when(straddle, 1).otherwise(0)).cast("long").alias(
            "n_straddlers"
        ),
    )


@query("q268_stream_source_packing", oracle=_SRC_PACK_ORACLE)
def q268_stream_source_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q267's per-source packing manifest LIVE: documents arrive as a
    stream and each source's running token offset is carried as
    GroupState (streaming/events_stream.py::stateful_source_packing),
    under the SAME exact oracle — batch ≡ streaming final state, the
    q251/q252 lambda-architecture contract extended to the training-
    layout family. Packing is a non-associative order-dependent fold,
    so the stream must deliver per-source in doc order (true for the
    ordered replay; production sorts per key upstream or buffers
    within a watermark — the same discipline stateful_clamped_balance
    documents)."""
    from ecowatt_etl_spark.streaming.events_stream import (
        read_documents_stream,
        run_to_completion,
        stateful_source_packing,
    )

    out = stateful_source_packing(
        read_documents_stream(spark, sf_dir), _PACK_C
    )
    return run_to_completion(
        out, "q268_source_packing_sink", output_mode="update"
    )


# ---------------------------------------------------------------------------
# q272 — truncation-loss report (the case FOR packing, quantified)
# ---------------------------------------------------------------------------


@query(
    "q272_truncation_loss",
    oracle=f"""
    WITH t AS (
      SELECT source, len({_SQL_TOKENS}) AS n_tok FROM documents
      WHERE len({_SQL_TOKENS}) > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(least(n_tok, {_PACK_C})) AS BIGINT) AS kept_truncate,
           CAST(SUM(CASE WHEN n_tok > {_PACK_C} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_truncated,
           CAST((SUM(n_tok) - SUM(least(n_tok, {_PACK_C}))) * 10000
                // SUM(n_tok) AS BIGINT) AS loss_bp,
           CAST(SUM(n_tok) // {_PACK_C}
                + CASE WHEN SUM(n_tok) % {_PACK_C} > 0 THEN 1 ELSE 0 END
                AS BIGINT) AS packed_bins,
           CAST(((SUM(n_tok) + {_PACK_C} - 1) // {_PACK_C}) * {_PACK_C}
                - SUM(n_tok) AS BIGINT) AS packed_pad_tokens
    FROM t GROUP BY source
    """,
)
def q272_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUNCATION vs PACKING, quantified per source — the report that
    justifies the q262 layout: a truncate-at-C loader discards every
    token past position C of each document (loss_bp), while packing
    keeps all of them and pays only the final bin's padding
    (packed_pad_tokens, < C per source). The two policies' token
    economics side by side is what a data-loading design review
    actually reads. Pure integer arithmetic over the session-shared
    doc_token_stats frame (r9); the aggregate shuffles |sources|
    groups."""
    from ecowatt_etl_spark.operators.text import doc_token_stats

    t = (
        doc_token_stats(spark, sf_dir)
        .select("source", "n_tok")
        .filter(F.col("n_tok") > 0)
    )
    c = _PACK_C
    return t.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.sum(F.least(F.col("n_tok"), F.lit(c))).cast("long").alias(
            "kept_truncate"
        ),
        F.sum(F.when(F.col("n_tok") > c, 1).otherwise(0))
        .cast("long")
        .alias("n_truncated"),
        F.expr(
            f"CAST((SUM(n_tok) - SUM(LEAST(n_tok, {c}))) * 10000"
            f" DIV SUM(n_tok) AS BIGINT)"
        ).alias("loss_bp"),
        F.expr(
            f"CAST(SUM(n_tok) DIV {c}"
            f" + CASE WHEN SUM(n_tok) % {c} > 0 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("packed_bins"),
        F.expr(
            f"CAST(((SUM(n_tok) + {c - 1}) DIV {c}) * {c}"
            f" - SUM(n_tok) AS BIGINT)"
        ).alias("packed_pad_tokens"),
    )


# ---------------------------------------------------------------------------
# q273 — template-prefix clusters (boilerplate headers at ingest)
# ---------------------------------------------------------------------------
_TPL_K = 8  # identical first-K tokens => same template family


@query(
    "q273_template_prefix_clusters",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source,
             md5(array_to_string(({_SQL_TOKENS})[1:{_TPL_K}], chr(31))) AS pk
      FROM documents
      WHERE len({_SQL_TOKENS}) >= {_TPL_K}
    ),
    fam AS (
      SELECT source, pk, COUNT(*) AS n FROM keyed GROUP BY 1, 2
      HAVING COUNT(*) > 1
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_templates,
           CAST(SUM(n) AS BIGINT) AS n_templated_docs,
           CAST(MAX(n) AS BIGINT) AS max_family
    FROM fam GROUP BY source
    """,
)
def q273_template_prefix_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPLATE-HEADER DETECTION — documents opening with the same
    first-K tokens are one generated-template family (mailing-list
    footers-as-headers, scraped nav preambles, license blocks): a
    boilerplate signal ORTHOGONAL to shingle-df (q134, which needs the
    phrase to repeat across many docs anywhere) and to near-dup pairs
    (q53, which needs whole-document similarity). Detection is one
    md5 over a SLICE — no shingle explosion, no self-join: the
    cheapest dedup signal in the toolbox, which is why ingest
    pipelines run it first. Aggregate fan: one hash aggregate on
    (source, prefix-hash), then one on source."""
    d = load_table(spark, sf_dir, "documents")
    t = tokens("text")
    keyed = d.select(
        "source",
        F.md5(
            F.concat_ws("\x1f", F.slice(t, 1, _TPL_K))
        ).alias("pk"),
    ).filter(F.size(t) >= _TPL_K)
    fam = (
        keyed.groupBy("source", "pk")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )
    return fam.groupBy("source").agg(
        F.count("*").alias("n_templates"),
        F.sum("n").cast("long").alias("n_templated_docs"),
        F.max("n").cast("long").alias("max_family"),
    )


# ---------------------------------------------------------------------------
# q274 — packed shard MATERIALIZATION (the layout step made physical)
# ---------------------------------------------------------------------------
_SHARD_BINS = 4  # materialize the first K bins under the value gate
_SQL_TOKHASH = (
    "CAST(concat('0x', substring(md5(toks[i]), 1, 15)) AS BIGINT)"
    f" % {HASH_PRIME}"
)


@query(
    "q274_packed_shards",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks, len({_SQL_TOKENS}) AS n_tok
      FROM documents
    ),
    offs AS (
      SELECT doc_id, n_tok,
             COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS start_off
      FROM base WHERE n_tok > 0
    ),
    e AS (
      SELECT b.doc_id, o.start_off + g.i - 1 AS pos, {_SQL_TOKHASH} AS h
      FROM base b
      JOIN offs o ON o.doc_id = b.doc_id,
           UNNEST(generate_series(1, b.n_tok)) AS g(i)
      WHERE b.n_tok > 0
    ),
    slotted AS (
      SELECT pos // {_PACK_C} AS bin, pos % {_PACK_C} AS slot, doc_id, h
      FROM e WHERE pos // {_PACK_C} < {_SHARD_BINS}
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY slot)) AS digest,
           CAST(arg_min(h, slot) AS BIGINT) AS first_tok,
           CAST(arg_max(h, slot) AS BIGINT) AS last_tok
    FROM slotted GROUP BY bin
    """,
)
def q274_packed_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACKED SHARD MATERIALIZATION — q262 plans the layout; this
    query BUILDS it: the actual fixed-length token-id sequences a
    training loader memory-maps, materialized for the first
    _SHARD_BINS bins and published as content DIGESTS (md5 over the
    slot-ordered id stream) so the driver's value gate proves the
    byte-exact layout — same ids, same order, same bin boundaries —
    not just the manifest counts. Token ids are the portable
    md5-derived word hashes, so DuckDB rebuilds the identical streams.

    Scale shape: offsets from the two-phase prefix_sum; the exploded
    (pos, id) stream shuffles ONCE keyed by bin — the inherent cost of
    materializing a layout, and exactly the shuffle a shard writer
    pays to stream each shard file from one task. Per-bin state is
    bounded by the _PACK_C sequence length; the bin<K filter sits
    BEFORE the shuffle, so the gate query moves only K·C ids however
    large the corpus. A full writer replaces the filter with
    partitionBy(bin-range) and streams every shard in parallel."""
    from ecowatt_etl_spark.operators.scan_ops import prefix_sum
    from ecowatt_etl_spark.operators.text import doc_token_stats, word_hash

    d = load_table(spark, sf_dir, "documents")
    t = tokens("text")
    counts = (
        doc_token_stats(spark, sf_dir)
        .select("doc_id", "n_tok")
        .filter(F.col("n_tok") > 0)
    )
    # Offsets need every doc's count (the session-shared token frame),
    # but only docs starting inside the first K bins contribute ids —
    # broadcast that tiny doc set UNDER the explode, so the expensive
    # per-token fan-out runs on K·C-worth of docs, not the corpus
    # (measured 17.3 s -> explode-pruned at 100×; a full shard writer
    # drops this filter and pays the full explode by design).
    offs = (
        prefix_sum(counts, "doc_id", "n_tok", out_col="start_off")
        .filter(F.col("start_off") < _SHARD_BINS * _PACK_C)
        .select("doc_id", "start_off")
    )
    base = d.join(F.broadcast(offs), "doc_id").select(
        "doc_id", "start_off", F.posexplode(t).alias("i", "tok")
    )
    e = base.select(
        "doc_id",
        (F.col("start_off") + F.col("i")).alias("pos"),
        word_hash(F.col("tok")).alias("h"),
    )
    slotted = e.select(
        "doc_id",
        F.expr(f"pos DIV {_PACK_C}").alias("bin"),
        (F.col("pos") % _PACK_C).alias("slot"),
        "h",
    ).filter(F.col("bin") < _SHARD_BINS)
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("slot", "h"))),
        lambda x: x["h"].cast("string"),
    )
    return slotted.groupBy("bin").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.md5(F.concat_ws(",", ordered)).alias("digest"),
        F.min_by("h", "slot").alias("first_tok"),
        F.max_by("h", "slot").alias("last_tok"),
    )


# ---------------------------------------------------------------------------
# q276 — deterministic mixture sampler (q264's weights, EXECUTED)
# ---------------------------------------------------------------------------
_SAMPLE_BUDGET_DIV = 2  # global token budget = corpus tokens DIV 2


@query(
    "q276_mixture_sampler",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, source, len({_SQL_TOKENS}) AS n_tok,
             CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 10000 AS u
      FROM documents WHERE len({_SQL_TOKENS}) > 0
    ),
    src AS (SELECT source, SUM(n_tok) AS n_tokens FROM docs GROUP BY source),
    tot AS (SELECT SUM(n_tokens) AS total FROM src),
    raw AS (
      SELECT source, n_tokens, total,
             CAST(SQRT(CAST(n_tokens AS DOUBLE) / total) * 1000000 AS BIGINT)
               AS w_units
      FROM src, tot
    ),
    norm AS (SELECT SUM(w_units) AS units_total FROM raw),
    plan AS (
      SELECT source, n_tokens,
             w_units * 10000 // units_total AS weight_bp,
             least(10000,
                   ((w_units * 10000 // units_total)
                     * (total // {_SAMPLE_BUDGET_DIV}) // 10000) * 10000
                     // n_tokens) AS p_bp,
             (w_units * 10000 // units_total)
               * (total // {_SAMPLE_BUDGET_DIV}) // 10000 AS target_tokens
      FROM raw, norm
    ),
    kept AS (
      SELECT d.source, COUNT(*) AS kept_docs, SUM(d.n_tok) AS kept_tokens
      FROM docs d JOIN plan p USING (source)
      WHERE d.u < p.p_bp
      GROUP BY d.source
    )
    SELECT p.source,
           CAST(p.weight_bp AS BIGINT) AS weight_bp,
           CAST(p.target_tokens AS BIGINT) AS target_tokens,
           CAST(p.p_bp AS BIGINT) AS p_bp,
           CAST(COALESCE(k.kept_docs, 0) AS BIGINT) AS kept_docs,
           CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           CAST(COALESCE(k.kept_tokens, 0) * 10000
                // GREATEST(p.target_tokens, 1) AS BIGINT) AS achieved_bp
    FROM plan p LEFT JOIN kept k USING (source)
    """,
)
def q276_mixture_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXTURE SAMPLING, EXECUTED — q264 computes the temperature-
    rebalanced weights; this query actually DRAWS the sample: each
    source gets its weight-proportional share of a global token budget
    (here corpus/2), converted to a per-document keep probability in
    basis points, and each document is kept iff
    md5(doc_id) % 10000 < p_bp — a deterministic, coordinate-free
    Bernoulli draw (same doc always decides the same way; no RNG
    state, no shuffle, reproducible across engines and reruns — the
    q93 stratified-sampling discipline applied to mixture execution).
    The report publishes plan vs achievement per source: target
    tokens, keep probability, and the achieved fraction in bp — the
    sampling-error visibility a mixture manifest needs before a run
    commits to it.

    Exactness: q264's integer micro-unit weights (IEEE sqrt is
    bit-identical cross-engine, everything after is integer);
    targets, probabilities, achievements all integer DIV. Scale: one
    scan projects (source, n_tok, hash); totals ride 1-row/20-row
    broadcast crossJoins; the keep decision is scan-local — the
    sampler never shuffles documents. The per-source totals frame is
    localCheckpoint-ed (the q88 lineage-truncation pattern): the
    20-row ``plan`` frame is referenced on both sides of the final
    report join, and without the cut the compiled plan re-derives it
    from source each time — 9 structurally-duplicated corpus
    tokenize-scan subtrees. At runtime Spark's ReuseExchange rule
    recovers MOST of that duplication (measured: naive form median
    29.3 s vs 26.9 s checkpointed at 100× the gate corpus, alternating
    fresh processes — an ~8% win, inside the host-noise bracket), so
    the checkpoint's real value is determinism of the physical shape.
    Since r9 both passes ride the session-shared doc_token_stats
    frame: the tokenize scan itself is a shared offline artifact, so
    the returned plan touches NO parquet at all — totals aggregate and
    keep pass both reread the ~32-byte/doc checkpointed frame. Pinned
    in tests/test_plans.py::test_q276_no_corpus_rescan.
    """
    from ecowatt_etl_spark.operators.text import doc_token_stats

    docs = (
        doc_token_stats(spark, sf_dir)
        .select(
            "doc_id",
            "source",
            "n_tok",
            (
                F.conv(
                    F.substring(
                        F.md5(F.col("doc_id").cast("string")), 1, 15
                    ),
                    16,
                    10,
                ).cast("long")
                % 10000
            ).alias("u"),
        )
        .filter(F.col("n_tok") > 0)
    )
    src = (
        docs.groupBy("source")
        .agg(F.sum("n_tok").alias("n_tokens"))
        .localCheckpoint()
    )
    tot = src.agg(F.sum("n_tokens").alias("total"))
    raw = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        "total",
        (
            F.sqrt(F.col("n_tokens").cast("double") / F.col("total"))
            * 1_000_000
        )
        .cast("long")
        .alias("w_units"),
    )
    norm = raw.agg(F.sum("w_units").alias("units_total"))
    plan = raw.crossJoin(F.broadcast(norm)).select(
        "source",
        "n_tokens",
        F.expr("w_units * 10000 DIV units_total").alias("weight_bp"),
        F.expr(
            f"LEAST(10000, ((w_units * 10000 DIV units_total)"
            f" * (total DIV {_SAMPLE_BUDGET_DIV}) DIV 10000) * 10000"
            f" DIV n_tokens)"
        ).alias("p_bp"),
        F.expr(
            f"(w_units * 10000 DIV units_total)"
            f" * (total DIV {_SAMPLE_BUDGET_DIV}) DIV 10000"
        ).alias("target_tokens"),
    )
    kept = (
        docs.join(F.broadcast(plan.select("source", "p_bp")), "source")
        .filter(F.col("u") < F.col("p_bp"))
        .groupBy("source")
        .agg(
            F.count("*").alias("kept_docs"),
            F.sum("n_tok").alias("kept_tokens"),
        )
    )
    return plan.join(kept, "source", "left").select(
        "source",
        F.col("weight_bp").cast("long").alias("weight_bp"),
        F.col("target_tokens").cast("long").alias("target_tokens"),
        F.col("p_bp").cast("long").alias("p_bp"),
        F.coalesce("kept_docs", F.lit(0)).cast("long").alias("kept_docs"),
        F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
        F.expr(
            "CAST(COALESCE(kept_tokens, 0) * 10000"
            " DIV GREATEST(target_tokens, 1) AS BIGINT)"
        ).alias("achieved_bp"),
    )
