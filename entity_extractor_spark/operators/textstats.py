"""Text analysis for training-data curation: language ID, quality scoring,
token counting, document fingerprinting.

The reference's text analytics are the keyword-heuristic and composite
scores (`score_filtered_contexts.py`, `core_pipeline/score.py`); this
module generalizes them to the corpus-curation functions a 100 TB
training-data pipeline runs on every document. Everything is pure column
arithmetic (whole-stage codegen, zero shuffles per document — only the
final aggregates shuffle), and every formula has an exact DuckDB twin in
the driver contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from entity_extractor_spark.functions import hashing as H
from entity_extractor_spark.functions import text as T

# Tiny deterministic stopword inventories (n-gram-heuristic language ID).
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "on", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "mit", "ein", "zu", "den", "von"],
    "es": ["el", "la", "los", "de", "y", "en", "es", "un", "una", "que"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "dans", "que"],
}
LANG_PRIORITY = ["en", "de", "es", "fr"]  # tie-break order


def _hits(tokens: Column, words: list[str]) -> Column:
    return F.size(F.array_intersect(tokens, F.lit(sorted(words))))


def language_scores(text: Column) -> dict[str, Column]:
    """Distinct-token stopword hit count per language."""
    toks = F.array_distinct(T.tokenize(text))
    return {lang: _hits(toks, ws) for lang, ws in STOPWORDS.items()}


def language_id(text: Column) -> Column:
    """Predicted language = argmax stopword hits, ties broken by
    LANG_PRIORITY order; 'und' (undetermined) when no hits at all."""
    scores = language_scores(text)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in reversed(LANG_PRIORITY):
        expr = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def language_id_sql(expr: str) -> str:
    toks = f"list_distinct({T.tokenize_sql(expr)})"

    def hits(lang: str) -> str:
        lits = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        return f"len(list_intersect({toks}, [{lits}]))"

    best = "greatest(" + ", ".join(hits(lang) for lang in LANG_PRIORITY) + ")"
    out = "'und'"
    for lang in reversed(LANG_PRIORITY):
        out = f"CASE WHEN {best} > 0 AND {hits(lang)} = {best} THEN '{lang}' ELSE {out} END"
    return out


# Quality-score weights (deterministic analog of heuristic quality models).
QW_LENGTH = 0.4
QW_STOPWORD = 0.3
QW_ALNUM = 0.3
Q_LEN_NORM = 50  # tokens at which the length signal saturates
Q_STOP_SCALE = 5.0  # stopword-ratio saturation multiplier


def quality_score(text: Column) -> Column:
    """0..1 quality: length + stopword-density + alnum-ratio signals,
    weighted like the reference's composite (`score.py:87-127`)."""
    toks = T.tokenize(text)
    n_tok = F.size(toks)
    len_sig = F.least(n_tok.cast("double") / F.lit(float(Q_LEN_NORM)), F.lit(1.0))
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS["en"]))
    )
    stop_sig = F.least(
        F.lit(Q_STOP_SCALE) * stop_hits / F.greatest(n_tok, F.lit(1)).cast("double"),
        F.lit(1.0),
    )
    alnum = F.length(F.regexp_replace(text, r"[^A-Za-z0-9 ]", ""))
    alnum_sig = alnum.cast("double") / F.greatest(F.length(text), F.lit(1)).cast("double")
    raw = F.lit(QW_LENGTH) * len_sig + F.lit(QW_STOPWORD) * stop_sig + F.lit(QW_ALNUM) * alnum_sig
    # explicit half-up on the binary double: Spark's round() goes through the
    # shortest-decimal repr and can disagree with DuckDB at x.xxxx5 boundaries
    return F.floor(raw * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)


def quality_score_sql(expr: str) -> str:
    toks = T.tokenize_sql(expr)
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    n_tok = f"len({toks})"
    len_sig = f"least({n_tok} * 1.0 / {Q_LEN_NORM}, 1.0)"
    stop_hits = f"len(list_filter({toks}, t -> t IN ({en})))"
    stop_sig = f"least({Q_STOP_SCALE} * {stop_hits} / greatest({n_tok}, 1), 1.0)"
    # parenthesized: 0.3 * (a / b) must not become ((0.3 * a) / b) — the
    # two differ in the last ulp and flip round-half boundaries
    alnum_sig = (
        f"(length(regexp_replace({expr}, '[^A-Za-z0-9 ]', '', 'g')) * 1.0"
        f" / greatest(length({expr}), 1))"
    )
    raw = f"({QW_LENGTH} * {len_sig} + {QW_STOPWORD} * {stop_sig} + {QW_ALNUM} * {alnum_sig})"
    return f"(floor({raw} * 10000.0 + 0.5) / 10000.0)"


def quality_bucket(score: Column) -> Column:
    return (
        F.when(score >= 0.75, "high").when(score >= 0.5, "medium").otherwise("low")
    )


BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_counts(text: Column) -> dict[str, Column]:
    """Whitespace tokens, BPE-ish subword-boundary tokens, chars/token."""
    ws = F.size(F.split(F.trim(text), r"\s+"))
    bpe = F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_RE), 0))
    return {
        "n_ws_tokens": ws.cast("long"),
        "n_bpe_tokens": bpe.cast("long"),
        "chars_per_bpe": F.round(
            F.length(text).cast("double") / F.greatest(bpe, F.lit(1)).cast("double"), 4
        ),
    }


def token_counts_sql(expr: str) -> dict[str, str]:
    ws = f"len(string_split_regex(trim({expr}), '\\s+'))"
    bpe = f"len(regexp_extract_all({expr}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))"
    return {
        "n_ws_tokens": f"CAST({ws} AS BIGINT)",
        "n_bpe_tokens": f"CAST({bpe} AS BIGINT)",
        "chars_per_bpe": f"round(length({expr}) * 1.0 / greatest({bpe}, 1), 4)",
    }


FP_SHINGLE_N = 2
FP_K = 2  # bottom-k sketch width


def doc_fingerprint(text: Column) -> list[Column]:
    """Bottom-k document fingerprint: the k smallest hashes of distinct
    word-bigram shingles (a deterministic winnowing-style sketch; equal
    fingerprints => near-identical shingle sets)."""
    sh = F.array_distinct(T.word_shingles(T.tokenize(text), FP_SHINGLE_N))
    hashes = F.array_sort(F.transform(sh, H.reduced_hash))
    return [hashes.getItem(i).alias(f"fp{i}") for i in range(FP_K)]


def doc_fingerprint_sql(expr: str) -> list[str]:
    sh = f"list_distinct({T.word_shingles_sql(T.tokenize_sql(expr), FP_SHINGLE_N)})"
    hashes = f"list_sort(list_transform({sh}, s -> {H.reduced_hash_sql('s')}))"
    return [f"({hashes})[{i + 1}] AS fp{i}" for i in range(FP_K)]


# Repetition-signal n-gram orders (Gopher-style repetition filters:
# Rae et al. 2021 measure top-n-gram occupancy and duplicated-n-gram
# fraction as the strongest low-quality indicators for web text).
REP_TOP_N = 2  # top-bigram occupancy
REP_DUP_N = 3  # duplicated-trigram fraction


def repetition_signals(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition signals for quality filtering:

    * ``distinct_ratio``   — distinct tokens / total tokens;
    * ``top_bigram_frac``  — occupancy of the single most frequent word
      bigram (boilerplate/spam indicator);
    * ``dup_trigram_frac`` — fraction of trigram occurrences whose
      trigram appears more than once in the document (intra-doc
      repetition, the analog of Gopher's duplicated-line fraction for
      corpora without line structure).

    Scale: the per-gram multiplicities come from explode -> groupBy on
    (doc, gram) — partial aggregation combines repeats map-side, and the
    shuffle key includes the document id, so the work is uniformly
    keyed no matter how skewed individual documents are. No per-row
    Python; all fractions are exact integer ratios rounded half-even to
    6 places (mirrored verbatim in the DuckDB oracle).
    """
    toks = T.tokenize(F.col(text_col))
    base = docs.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        T.word_shingles(toks, REP_TOP_N).alias("_g2"),
        T.word_shingles(toks, REP_DUP_N).alias("_g3"),
    )

    def _gram_agg(col: str, out_top: str, out_dup: str, out_tot: str) -> DataFrame:
        return (
            base.select(id_col, F.explode(col).alias("g"))
            .groupBy(id_col, "g")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy(id_col)
            .agg(
                F.max("c").alias(out_top),
                F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).alias(out_dup),
                F.sum("c").alias(out_tot),
            )
        )

    g2 = _gram_agg("_g2", "top2", "dup2", "tot2")
    g3 = _gram_agg("_g3", "top3", "dup3", "tot3")
    return (
        base.select(id_col, "n_tokens", "n_distinct")
        .join(g2, id_col, "left")
        .join(g3, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(
                F.col("n_distinct") / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"), 6
            ).alias("distinct_ratio"),
            F.round(F.coalesce(F.col("top2") / F.col("tot2"), F.lit(0.0)), 6).alias(
                "top_bigram_frac"
            ),
            F.round(F.coalesce(F.col("dup3") / F.col("tot3"), F.lit(0.0)), 6).alias(
                "dup_trigram_frac"
            ),
        )
    )


def repetition_signals_sql(rel: str = "documents", id_col: str = "doc_id") -> str:
    """Exact DuckDB twin of :func:`repetition_signals` (ORDER BY id)."""
    toks = T.tokenize_sql("text")
    sh2 = T.word_shingles_sql("toks", REP_TOP_N)
    sh3 = T.word_shingles_sql("toks", REP_DUP_N)
    return f"""
        WITH base AS (
          SELECT {id_col}, {toks} AS toks FROM {rel}
        ),
        b AS (
          SELECT {id_col}, len(toks) AS n_tokens,
                 len(list_distinct(toks)) AS n_distinct,
                 {sh2} AS sh2, {sh3} AS sh3
          FROM base
        ),
        g2 AS (
          SELECT {id_col}, max(c) AS top2, sum(c) AS tot2 FROM (
            SELECT {id_col}, g, count(*) AS c
            FROM (SELECT {id_col}, unnest(sh2) AS g FROM b) GROUP BY {id_col}, g
          ) GROUP BY {id_col}
        ),
        g3 AS (
          SELECT {id_col}, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup3,
                 sum(c) AS tot3 FROM (
            SELECT {id_col}, g, count(*) AS c
            FROM (SELECT {id_col}, unnest(sh3) AS g FROM b) GROUP BY {id_col}, g
          ) GROUP BY {id_col}
        )
        SELECT b.{id_col}, CAST(b.n_tokens AS BIGINT) AS n_tokens,
               round(b.n_distinct * 1.0 / greatest(b.n_tokens, 1), 6) AS distinct_ratio,
               round(coalesce(g2.top2 * 1.0 / g2.tot2, 0.0), 6) AS top_bigram_frac,
               round(coalesce(g3.dup3 * 1.0 / g3.tot3, 0.0), 6) AS dup_trigram_frac
        FROM b LEFT JOIN g2 USING ({id_col}) LEFT JOIN g3 USING ({id_col})
        ORDER BY b.{id_col}
    """


ULM_FP = 1_000_000  # fixed-point scale for per-token log-probability

# add-one-smoothed unigram log-probability of one token, fixed-point
# rounded to int64. The expression TEXT is shared verbatim between the
# Spark plan (F.expr) and the DuckDB oracle so both engines build the
# same double tree from the same integer inputs; round() is
# away-from-zero on both engines, so negative values agree too.
_ULM_LP = (
    f"CAST(round({ULM_FP} * ln((cnt + 1.0) / (n_tokens_corpus + n_vocab))) AS BIGINT)"
)


def unigram_logprob(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document average unigram log-probability under the corpus's
    own add-one-smoothed unigram model — the perplexity-style fluency
    signal of an LLM data pipeline (a doc of corpus-typical words scores
    high; rare-token noise scores low), computed exactly in two passes
    with no Python.

    Pass 1 builds the unigram table (token -> count) plus the corpus
    totals (token count N, vocabulary size V) as a broadcast one-row
    aggregate; pass 2 joins each document's tokens against the unigram
    table and averages ln((cnt+1)/(N+V)) per document. Per-token
    log-probs are fixed-point int64 (:data:`_ULM_LP`), so the per-doc
    SUM is integer — partition-order independent — and only the final
    single division produces the reported double, rounded on both
    engines.

    Scale shape: both joins are keyed on ``token`` — at corpus scale the
    exploded token stream and the unigram table come out of the SAME
    shuffle (co-partitioned), and the per-doc aggregation is keyed by
    the doc id the corpus is bucketed by. Docs with zero tokens have no
    probability under the model and are omitted (mirrored by the
    oracle's inner join).
    """
    toks = docs.select(
        F.col(id_col), F.explode(T.tokenize(F.col(text_col))).alias("token")
    )
    unigrams = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    stats = unigrams.agg(
        F.sum("cnt").alias("n_tokens_corpus"),
        F.count(F.lit(1)).alias("n_vocab"),
    )
    return (
        toks.join(unigrams, "token")
        .crossJoin(F.broadcast(stats))
        .withColumn("lp_fp", F.expr(_ULM_LP))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_fp").alias("sum_lp_fp"),
        )
        .select(
            id_col,
            "n_tokens",
            "sum_lp_fp",
            F.round(
                F.col("sum_lp_fp").cast("double") / F.col("n_tokens") / F.lit(ULM_FP), 6
            ).alias("avg_logprob"),
        )
    )


def unigram_logprob_sql(rel: str = "documents", id_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`unigram_logprob` (same fixed-point
    expression text, same inner-join omission of token-less docs)."""
    toks = T.tokenize_sql("text")
    return f"""WITH _ul_t AS (
          SELECT {id_col}, unnest({toks}) AS token FROM {rel}
        ),
        _ul_u AS (SELECT token, count(*) AS cnt FROM _ul_t GROUP BY token),
        _ul_s AS (
          SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens_corpus,
                 count(*) AS n_vocab
          FROM _ul_u
        ),
        _ul_lp AS (
          SELECT t.{id_col}, {_ULM_LP} AS lp_fp
          FROM _ul_t t JOIN _ul_u USING (token), _ul_s
        )
        SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(lp_fp) AS BIGINT) AS sum_lp_fp,
               round(CAST(sum(lp_fp) AS DOUBLE) / count(*) / {ULM_FP}, 6) AS avg_logprob
        FROM _ul_lp GROUP BY {id_col}"""


ENT_FP = 1_000_000

# per-(doc, token) entropy term -p*ln(p), fixed-point int64; expression
# text shared verbatim between the Spark plan and the DuckDB oracle
# (same discipline as _ULM_LP), so the per-doc integer SUM is
# partition-order independent and bit-identical cross-engine
_ENT_TERM = (
    f"CAST(round({ENT_FP} * (CAST(cnt AS DOUBLE) / n_tokens)"
    f" * ln(CAST(cnt AS DOUBLE) / n_tokens)) AS BIGINT)"
)


def token_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution — the
    WITHIN-doc diversity quality signal (template/boilerplate and
    stuck-generation text concentrates mass on few tokens and scores
    low; :func:`unigram_logprob` is the complementary CROSS-doc
    fluency signal). Two aggregations keyed by the doc id the corpus is
    bucketed by: per-(doc, token) counts, then the fixed-point entropy
    sum — no window, no Python, exact int64 until the final division.
    Token-less docs have no distribution and are omitted (inner
    aggregation), mirrored by the oracle."""
    toks = docs.select(
        F.col(id_col), F.explode(T.tokenize(F.col(text_col))).alias("token")
    )
    counts = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("cnt"))
    n = counts.groupBy(id_col).agg(F.sum("cnt").alias("n_tokens"))
    return (
        counts.join(n, id_col)
        .withColumn("term_fp", F.expr(_ENT_TERM))
        .groupBy(id_col)
        .agg(
            F.max("n_tokens").alias("n_tokens"),
            F.sum("term_fp").alias("neg_ent_fp"),
        )
        .select(
            id_col,
            "n_tokens",
            F.round(-F.col("neg_ent_fp").cast("double") / F.lit(ENT_FP), 6).alias(
                "entropy"
            ),
        )
    )


def token_entropy_sql(rel: str = "documents", id_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`token_entropy` (same fixed-point term)."""
    toks = T.tokenize_sql("text")
    return f"""WITH _te_t AS (
          SELECT {id_col}, unnest({toks}) AS token FROM {rel}
        ),
        _te_c AS (
          SELECT {id_col}, token, count(*) AS cnt FROM _te_t GROUP BY {id_col}, token
        ),
        _te_n AS (
          SELECT {id_col}, CAST(sum(cnt) AS BIGINT) AS n_tokens
          FROM _te_c GROUP BY {id_col}
        )
        SELECT c.{id_col}, max(n.n_tokens) AS n_tokens,
               round(-CAST(sum({_ENT_TERM}) AS DOUBLE) / {ENT_FP}, 6) AS entropy
        FROM _te_c c JOIN _te_n n USING ({id_col})
        GROUP BY c.{id_col}"""
