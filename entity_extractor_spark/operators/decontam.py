"""Benchmark decontamination: flag training documents that share word
n-gram shingles with an evaluation/benchmark set.

The standard LLM training-data hygiene pass (the GPT-3/C4-style 13-gram
overlap check, scaled down to the fixture corpus): shingle both corpora
with the SAME tokenizer (functions/text.tokenize, F1) and the same
n-gram size, hash shingles, and inner-join train-side shingles against
the distinct benchmark shingle set.

Scale shape: the benchmark side is small by construction (an eval suite,
not a corpus) — its distinct shingle hashes broadcast, so the 100 TB
training corpus is ONE map-side semi-join pass with no shuffle of the
train side; the only aggregation is the per-doc hit count, keyed by the
doc id the corpus is already bucketed by. Shingle hashing reuses the
md5-based machinery of the dedup suite (operators/dedup.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_extractor_spark.functions import text as T

SHINGLE_N = 5


def _shingle_set(df: DataFrame, id_col: str, n: int) -> DataFrame:
    toks = T.tokenize(F.col("text"))
    return df.select(
        F.col(id_col),
        F.explode(T.word_shingles(toks, n)).alias("shingle"),
    ).dropDuplicates([id_col, "shingle"])


def contamination_report(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = SHINGLE_N,
    min_hits: int = 1,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_shared_shingles, contaminated) per train document.

    A train doc is contaminated when ≥ ``min_hits`` of its distinct
    ``n``-gram shingles appear anywhere in the benchmark set. Exact by
    construction (no hashing approximations beyond md5 equality on the
    full shingle text — we join on the shingle string itself, so there
    are no collisions to reason about). Docs with zero overlap are kept
    with n_shared_shingles = 0 — the report covers the full corpus.
    """
    bench = F.broadcast(
        benchmark.select(
            F.explode(T.word_shingles(T.tokenize(F.col("text")), n)).alias("shingle")
        ).dropDuplicates(["shingle"])
    )
    tr = _shingle_set(train, id_col, n)
    hits = (
        tr.join(bench, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )
    return (
        train.select(id_col)
        .dropDuplicates([id_col])
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shared_shingles", F.lit(0)).alias("n_shared_shingles"),
            (F.coalesce("n_shared_shingles", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


BLOOM_M_BITS = 1 << 17  # 16 KiB bit array
BLOOM_HASHES = 4


def _h2(col):
    """Second independent 60-bit hash (md5 hex chars 16..30), forced odd
    so the double-hashing probe sequence h1 + j*h2 cycles the full
    power-of-two bit space (Kirsch-Mitzenmacher)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 16, 15), 16, 10)
        .cast("long")
        .bitwiseOR(F.lit(1))
    )


def contamination_report_bloom(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = SHINGLE_N,
    min_hits: int = 1,
    id_col: str = "doc_id",
    m_bits: int = BLOOM_M_BITS,
    n_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Same report as :func:`contamination_report`, Bloom-pruned: the
    corpus-wide membership probe broadcasts an ``m_bits``-bit array
    (16 KiB at the default) instead of the full benchmark shingle-string
    set — at a 100 TB train corpus against a large eval battery, that
    turns a multi-hundred-MB broadcast into a fixed-size bitmap held once
    per executor. The probe is a pure map-side filter (JVM computes both
    md5-derived hashes in codegen; Python does only the vectorized
    numpy bitmap gather); Bloom false positives are then killed by an
    exact join against the benchmark shingles, which now sees only the
    pruned sliver of the train side instead of the whole corpus — so it
    no longer needs the broadcast, a plain partitioned join carries it.
    The output is therefore EXACT and identical to
    :func:`contamination_report` (same oracle SQL — the hash match
    proves the prune loses nothing), Bloom only shrinks the volume.

    Bit positions are set from the same double-hashing sequence on both
    sides (bench build in Catalyst, train probe in numpy), so the filter
    admits every true shared shingle by construction.
    """
    from entity_extractor_spark.functions.hashing import token_hash

    spark = train.sparkSession
    bench_sh = benchmark.select(
        F.explode(T.word_shingles(T.tokenize(F.col("text")), n)).alias("shingle")
    ).dropDuplicates(["shingle"])
    pos_cols = F.array(
        *[
            F.pmod(F.col("h1") + F.lit(j) * F.col("h2"), F.lit(m_bits))
            for j in range(n_hashes)
        ]
    )
    # distinct bit positions are bounded by m_bits (not by benchmark
    # size) — the one collect here is <= m_bits ints
    pos_rows = (
        bench_sh.select(
            token_hash(F.col("shingle")).alias("h1"), _h2(F.col("shingle")).alias("h2")
        )
        .select(F.explode(pos_cols).alias("pos"))
        .distinct()
        .collect()
    )
    bloom = bytearray(m_bits // 8)
    for (p,) in pos_rows:
        bloom[p >> 3] |= 1 << (p & 7)
    bc = spark.sparkContext.broadcast(bytes(bloom))

    @F.pandas_udf("boolean")
    def _probe(h1: pd.Series, h2: pd.Series) -> pd.Series:
        arr = np.frombuffer(bc.value, dtype=np.uint8)
        h1v, h2v = h1.values, h2.values
        ok = np.ones(len(h1v), dtype=bool)
        for j in range(n_hashes):
            pos = (h1v + j * h2v) % m_bits
            ok &= ((arr[pos >> 3] >> (pos & 7)) & 1).astype(bool)
        return pd.Series(ok)

    tr = _shingle_set(train, id_col, n)
    pruned = tr.filter(
        _probe(token_hash(F.col("shingle")), _h2(F.col("shingle")))
    )
    hits = (
        pruned.join(bench_sh, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )
    return (
        train.select(id_col)
        .dropDuplicates([id_col])
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shared_shingles", F.lit(0)).alias("n_shared_shingles"),
            (F.coalesce("n_shared_shingles", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def contamination_report_sql(
    train_rel: str, bench_rel: str, n: int = SHINGLE_N, min_hits: int = 1
) -> str:
    """DuckDB twin (same tokenizer, same shingles, same join)."""
    toks = T.tokenize_sql("text")
    sh = T.word_shingles_sql("ts", n)
    return f"""WITH _dc_tr AS (SELECT doc_id, {toks} AS ts FROM ({train_rel})),
        _dc_trs AS (
          SELECT DISTINCT doc_id, unnest(CASE WHEN len(ts) >= {n} THEN {sh} ELSE [] END) AS shingle
          FROM _dc_tr
        ),
        _dc_be AS (SELECT {toks} AS ts FROM ({bench_rel})),
        _dc_bes AS (
          SELECT DISTINCT unnest(CASE WHEN len(ts) >= {n} THEN {sh} ELSE [] END) AS shingle
          FROM _dc_be
        ),
        _dc_hits AS (
          SELECT t.doc_id, count(*) AS n_shared_shingles
          FROM _dc_trs t JOIN _dc_bes b USING (shingle)
          GROUP BY t.doc_id
        )
        SELECT d.doc_id,
               coalesce(h.n_shared_shingles, 0) AS n_shared_shingles,
               coalesce(h.n_shared_shingles, 0) >= {min_hits} AS contaminated
        FROM (SELECT DISTINCT doc_id FROM ({train_rel})) d
        LEFT JOIN _dc_hits h USING (doc_id)"""
