"""Candidate scoring + likelihood classification.

Carries the reference's multi-signal scoring semantics over verbatim,
with the north-rule substitution of deterministic char-ngram similarity
for neural embeddings:

* keyword heuristic — sorted keyword substring hits in lowered text
  (`score_filtered_contexts.py:79-80`, keyword list
  `streamlit_dashboard/config.py:36-40`);
* similarity — cosine over hashed char-3-gram count vectors of
  (mention context) vs (gazetteer description), replacing
  sentence-transformer cosine (`score_filtered_contexts.py:59-60,101-105`);
* ner signal — deterministic stand-in for the NER ensemble
  (`score_filtered_contexts.py:63-77`): the context names a software-ish
  category word AND the matched surface is not all-lowercase;
* composite — ``round(0.5*ner + 0.3*sim + 0.2*min(kw/3, 1), 3)``
  (`score_likelihoods_and_filter.py:11-31`);
* likelihood — threshold buckets 0.75/0.45 (`:17-21,34-38`) and the
  conjunctive variant (`assign_likelihood_labels.py:10-27`).

The similarity kernel is one numpy function over two string arrays,
:func:`charngram_cosine_arrays`. It has two callers: the Arrow-batched
pandas UDF :func:`charngram_cosine` (the operator path,
:func:`score_candidates`), and the mention scan, which scores each
emitted span against its term's description when given the
descriptions (``operators/mentions.scan_mentions``). Both run the same
function, so their similarities are bit-identical by construction.

Everything else is pure column arithmetic — whole-stage-codegen'd,
shuffle-free, scale-independent, with Java's ``lower``/``rlike``
semantics — in two steps: :func:`signal_columns` reads the span
(``context``, ``surface``) and :func:`classify_columns` reads only the
signals and ``similarity``. :func:`score_candidates` composes them. The
pipeline runs the first in its mention stage, where ``context`` is in
the plan, and its ``scored`` stage is the second over the stored
mention table, so neither runs Python and ``context`` is never stored.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

HEURISTIC_KEYWORDS = [
    "software", "tool", "package", "library", "framework",
    "code", "algorithm", "model", "program", "application",
    "system", "platform", "suite", "toolkit", "engine",
]

WEIGHT_NER = 0.5
WEIGHT_SIM = 0.3
WEIGHT_KEYWORDS = 0.2
VERY_LIKELY_T = 0.75
SOMEWHAT_LIKELY_T = 0.45

NGRAM_DIM = 1024
NGRAM_N = 3

_NER_CATEGORY_RE = r"(?i)\b(software|tool|pipeline|package|model|algorithm|code)\b"


def keyword_hits(text: Column, keywords: list[str] | None = None) -> Column:
    """Sorted keyword substring hits (F8), in whole-stage codegen.

    The keyword list is a plan-time literal, so this unrolls to
    ``flatten(array(array_repeat(kw, contains ? 1 : 0)...))``: every
    piece has generated code, and subexpression elimination computes
    ``lower(text)`` once per row. ``array_compact`` and ``F.filter`` are
    higher-order functions, which are interpreted: the projection would
    fall out of codegen and evaluate ``lower(text)`` once per keyword.
    ``array_repeat`` of a non-null literal keeps the type
    ``array<string>`` with non-null elements.
    """
    kws = sorted(keywords or HEURISTIC_KEYWORDS)
    lowered = F.lower(text)
    return F.flatten(
        F.array(
            *[F.array_repeat(F.lit(kw), F.when(lowered.contains(kw), 1).otherwise(0)) for kw in kws]
        )
    )


def ner_signal(context: Column, surface: Column) -> Column:
    """Deterministic NER stand-in (north rule: hermetic, no model)."""
    return context.rlike(_NER_CATEGORY_RE) & (surface != F.lower(surface))


def _ngram_matrix(texts: np.ndarray, dim: int = NGRAM_DIM) -> np.ndarray:
    """Hashed char-3-gram count vectors, one row per text.

    Each row is a single ``np.bincount(codes, minlength=dim)`` — ~1.7×
    faster than the equivalent ``np.add.at`` scatter (measured on 20k
    90-char rows; a flat all-rows bincount with ``n*dim`` bins is 10×
    SLOWER — the giant allocation dominates). Counts are identical
    integers, so the SQL mirror (charngram_cosine_sql) is unaffected.
    """
    out = np.zeros((len(texts), dim), dtype=np.float64)
    for i, s in enumerate(texts):
        if not isinstance(s, str):
            continue
        b = np.frombuffer(s.lower().encode("utf-8"), dtype=np.uint8)
        if b.size < NGRAM_N:
            continue
        codes = (
            (b[: -NGRAM_N + 1].astype(np.int64) << 16)
            | (b[1 : b.size - NGRAM_N + 2].astype(np.int64) << 8)
            | b[NGRAM_N - 1 :].astype(np.int64)
        )
        out[i] = np.bincount(codes % dim, minlength=dim)
    return out


def _factorized(s: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(codes, unique-row matrix with a trailing zero row).

    Each DISTINCT string is hashed once; ``codes`` indexes rows back
    into the matrix, with factorize's -1 sentinel (null/non-str)
    remapped to the trailing zero row — the same zero vector the
    per-row path emits."""
    codes, uniques = pd.factorize(s, use_na_sentinel=True)
    m = _ngram_matrix(uniques)
    m = np.vstack([m, np.zeros((1, m.shape[1] if m.size else NGRAM_DIM))])
    return np.where(codes < 0, len(uniques), codes), m


def charngram_cosine_arrays(a, b) -> np.ndarray:
    """Row-wise cosine similarity of hashed char-ngram vectors of two
    equal-length string sequences; a null or non-string side scores 0.0.

    All heavy ops run on DISTINCT values, never per row: norms on each
    side's unique rows, dots on unique (a, b) PAIRS, then scalar
    gathers back to row order. A description repeats per gazetteer term
    and a context repeats across a term's mentions, so the dense
    per-row (batch x dim) gathers the naive form needs (2 x 80 MB per
    10k batch) never materialize. Every dot/norm sum is over
    integer-valued counts, exactly representable in float64, so
    summation order cannot diverge — results are bit-identical to the
    per-row form, whatever the batch, and to charngram_cosine_sql
    (adversarial parity: tests/test_cross_engine_parity.py)."""
    ia, ma = _factorized(np.asarray(a, dtype=object))
    ib, mb = _factorized(np.asarray(b, dtype=object))
    # norms over unique rows: sqrt of exact integer sums of squares
    na = np.sqrt(np.einsum("ij,ij->i", ma, ma))
    nb = np.sqrt(np.einsum("ij,ij->i", mb, mb))
    # dots over unique (a, b) pairs only
    pair = ia.astype(np.int64) * len(mb) + ib
    upair, inv = np.unique(pair, return_inverse=True)
    pa, pb = upair // len(mb), upair % len(mb)
    dots = np.einsum("ij,ij->i", ma[pa], mb[pb])[inv]
    norms = na[ia] * nb[ib]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(norms > 0, dots / norms, 0.0)


@pandas_udf(DoubleType())
def charngram_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched UDF over :func:`charngram_cosine_arrays`."""
    return pd.Series(charngram_cosine_arrays(a, b))


def charngram_cosine_sql(
    rel: str, id_cols: list[str], a: str, b: str, dim: int = NGRAM_DIM
) -> str:
    """DuckDB twin of :func:`charngram_cosine`, bit-identical to the
    numpy kernel.

    ``rel`` is any SELECT producing ``id_cols`` plus string columns
    ``a`` and ``b``; the result is a parenthesized subquery yielding
    ``(*id_cols, cos DOUBLE)`` one row per input row. The kernel hashes
    utf-8 byte 3-grams of ``lower(s)`` into ``dim`` buckets; SQL
    reproduces the bytes via ``hex(encode(lower(s)))`` — byte k =
    16*hv(hex[2k-1]) + hv(hex[2k]) with hv(c) =
    strpos('123456789ABCDEF', c) ('0' maps to 0 because strpos returns
    0 on miss). Dot/norm sums are integer-valued, so float addition
    order cannot diverge (parity on adversarial random inputs:
    tests/test_cross_engine_parity.py).
    """
    ids = ", ".join(id_cols)
    hv = "strpos('123456789ABCDEF', substring(hx, {k}, 1))"

    def bv(k: str) -> str:
        return f"({hv.format(k=f'2*({k})-1')} * 16 + {hv.format(k=f'2*({k})')})"

    on = " AND ".join(f"ga.{c} = gb.{c}" for c in id_cols)
    ga_ids = ", ".join(f"ga.{c}" for c in id_cols)
    i_ids = ", ".join(f"i.{c}" for c in id_cols)
    return f"""(
        WITH _cc_in AS ({rel}),
        _cc_s AS (
          SELECT {ids}, 0 AS side,
                 hex(encode(lower({a}))) AS hx, octet_length(encode(lower({a}))) AS nb
          FROM _cc_in
          UNION ALL
          SELECT {ids}, 1, hex(encode(lower({b}))), octet_length(encode(lower({b})))
          FROM _cc_in
        ),
        _cc_gr AS (
          SELECT {ids}, side,
                 (({bv('_cc_i')} * 65536 + {bv('_cc_i+1')} * 256 + {bv('_cc_i+2')}) % {dim}) AS bucket,
                 count(*) AS c
          FROM _cc_s, unnest(CASE WHEN nb >= 3 THEN range(1, nb - 1) ELSE [] END) u(_cc_i)
          GROUP BY ALL
        ),
        _cc_dt AS (
          SELECT {ga_ids}, sum(ga.c * gb.c) AS d
          FROM _cc_gr ga JOIN _cc_gr gb
            ON {on} AND ga.bucket = gb.bucket AND ga.side = 0 AND gb.side = 1
          GROUP BY ALL
        ),
        _cc_nrm AS (SELECT {ids}, side, sqrt(sum(c * c)) AS n FROM _cc_gr GROUP BY ALL)
        SELECT {i_ids},
               CASE WHEN na.n IS NOT NULL AND nb.n IS NOT NULL AND na.n * nb.n > 0
                    THEN coalesce(dt.d, 0) / (na.n * nb.n) ELSE 0.0 END AS cos
        FROM _cc_in AS i
        LEFT JOIN (SELECT {ids}, n FROM _cc_nrm WHERE side = 0) na USING ({ids})
        LEFT JOIN (SELECT {ids}, n FROM _cc_nrm WHERE side = 1) nb USING ({ids})
        LEFT JOIN _cc_dt dt USING ({ids})
    )"""


def composite_score(ner: Column, similarity: Column, n_keywords: Column) -> Column:
    """F12: round(0.5*ner + 0.3*sim + 0.2*min(kw/3,1), 3); null sim -> 0."""
    return F.round(
        F.lit(WEIGHT_NER) * ner.cast("double")
        + F.lit(WEIGHT_SIM) * F.coalesce(similarity, F.lit(0.0))
        + F.lit(WEIGHT_KEYWORDS) * F.least(n_keywords.cast("double") / 3.0, F.lit(1.0)),
        3,
    )


def assign_likelihood(score: Column) -> Column:
    """F13 threshold buckets (`score_likelihoods_and_filter.py:17-21,34-38`)."""
    return (
        F.when(score >= VERY_LIKELY_T, "very likely")
        .when(score >= SOMEWHAT_LIKELY_T, "somewhat likely")
        .otherwise("unlikely")
    )


def determine_likelihood(similarity: Column, ner: Column, n_keywords: Column) -> Column:
    """Conjunctive variant (`assign_likelihood_labels.py:18-27`):
    sim null -> unlikely; sim>=0.6 and (ner or kw) -> very likely;
    sim>=0.3 -> somewhat likely; else unlikely."""
    return (
        F.when(similarity.isNull(), "unlikely")
        .when((similarity >= 0.6) & (ner | (n_keywords > 0)), "very likely")
        .when(similarity >= 0.3, "somewhat likely")
        .otherwise("unlikely")
    )


def signal_columns(df: DataFrame) -> DataFrame:
    """Append the span signals ``heuristic_keywords`` and ``ner_signal``
    (FIXTURES.md §4) to a frame that carries ``context`` and
    ``surface``. JVM expressions only: no Python stage, no exchange."""
    return df.withColumn("heuristic_keywords", keyword_hits(F.col("context"))).withColumn(
        "ner_signal", ner_signal(F.col("context"), F.col("surface"))
    )


def classify_columns(df: DataFrame) -> DataFrame:
    """Append ``composite_score`` and ``likelihood`` (FIXTURES.md §4) to
    a frame that carries ``similarity`` and the :func:`signal_columns`.
    JVM expressions only: no Python stage, no exchange."""
    score = composite_score(
        F.col("ner_signal"), F.col("similarity"), F.size("heuristic_keywords")
    )
    return df.withColumn("composite_score", score).withColumn(
        "likelihood", assign_likelihood(F.col("composite_score"))
    )


def score_candidates(mentions: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """mentions x broadcast(gazetteer descriptions) -> scored_candidates
    (FIXTURES.md §4). One broadcast join, no shuffle of the fact side; a
    term without a description scores similarity 0.0."""
    registry = F.broadcast(gazetteer.select("term_id", "description"))
    joined = mentions.join(registry, "term_id", "left")
    sim = charngram_cosine(F.col("context"), F.col("description"))
    return classify_columns(
        signal_columns(joined.withColumn("similarity", sim).drop("description"))
    )


LIKELIHOOD_RANKS = {"unlikely": 0, "somewhat likely": 1, "very likely": 2}


def filter_by_likelihood(df: DataFrame, min_level: str) -> DataFrame:
    """Ordinal-category filter (P4, `core_pipeline/likelihood.py:69-94`)."""
    rank = F.when(F.col("likelihood") == "very likely", 2).when(
        F.col("likelihood") == "somewhat likely", 1
    ).otherwise(0)
    return df.filter(rank >= LIKELIHOOD_RANKS[min_level])
