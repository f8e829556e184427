"""Robustness: empty inputs, degenerate gazetteers, giant turns, and
exact parity on the distributed generator's corpus."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from entity_extractor_spark.operators.mentions import extract_mentions
from entity_extractor_spark.oracle import MENTION_KEYS, oracle_extract, precision_recall
from entity_extractor_spark.synth import (
    SynthConfig,
    make_gazetteer,
    make_transcripts_distributed,
    to_spark,
)

EMPTY_T = pd.DataFrame(
    {
        "conv_id": pd.Series([], dtype="object"),
        "turn_idx": pd.Series([], dtype="int32"),
        "role": pd.Series([], dtype="object"),
        "text": pd.Series([], dtype="object"),
        "tool": pd.Series([], dtype="object"),
        "ts": pd.Series([], dtype="datetime64[ns]"),
    }
)


def test_empty_transcripts(spark):
    gaz = pd.DataFrame({"term_id": ["t1"], "title": ["Spark: x"]})
    out = extract_mentions(to_spark(spark, EMPTY_T), gaz)
    assert out.count() == 0
    assert "in_user" in out.columns  # schema intact


def test_empty_gazetteer(spark):
    t = pd.DataFrame(
        {
            "conv_id": ["c1"], "turn_idx": pd.array([0], dtype="int32"),
            "role": ["user"], "text": ["some spark text"], "tool": [None],
            "ts": pd.to_datetime(["2026-01-01"]),
        }
    )
    gaz = pd.DataFrame({"term_id": pd.Series([], dtype="object"), "title": pd.Series([], dtype="object")})
    assert extract_mentions(to_spark(spark, t), gaz).count() == 0


def test_null_and_whitespace_texts(spark):
    t = pd.DataFrame(
        {
            "conv_id": ["c1", "c1", "c1"],
            "turn_idx": pd.array([0, 1, 2], dtype="int32"),
            "role": ["user", "assistant", "user"],
            "text": [None, "   ", "Zorp here"],
            "tool": [None] * 3,
            "ts": pd.to_datetime(["2026-01-01"] * 3),
        }
    )
    gaz = pd.DataFrame({"term_id": ["t1"], "title": ["Zorp"]})
    rows = extract_mentions(to_spark(spark, t), gaz).collect()
    assert len(rows) == 1 and rows[0]["turn_idx"] == 2


def test_giant_turn_correctness(spark):
    # one 100k-word turn with known planted counts — matcher is O(len)
    words = ["filler"] * 100_000
    for i in range(0, 100_000, 9973):
        words[i] = "Zorp"
    n_planted = len(range(0, 100_000, 9973))
    t = pd.DataFrame(
        {
            "conv_id": ["c1"], "turn_idx": pd.array([0], dtype="int32"),
            "role": ["user"], "text": [" ".join(words)], "tool": [None],
            "ts": pd.to_datetime(["2026-01-01"]),
        }
    )
    gaz = pd.DataFrame({"term_id": ["t1"], "title": ["Zorp"]})
    assert extract_mentions(to_spark(spark, t), gaz).count() == n_planted


def test_distributed_corpus_exact_parity(spark):
    """The distributed generator's corpus passes the same exact P/R gate
    as the driver-side one."""
    cfg = SynthConfig(seed=99, n_terms=24, n_convs=40, hot_conv_factor=10)
    gaz = make_gazetteer(cfg)
    tdf = make_transcripts_distributed(spark, cfg, parallelism=8)
    pdf = tdf.toPandas()
    engine = extract_mentions(tdf, gaz).toPandas()
    oracle = oracle_extract(pdf, gaz)
    assert len(oracle) > 100
    p, r = precision_recall(engine, oracle, MENTION_KEYS)
    assert p == 1.0 and r == 1.0, (p, r)


def test_bm25_query_with_no_corpus_hits_returns_empty(spark):
    """A query whose tokens appear in no document must produce zero
    rows (never an error or NaN scores) — at web scale dead queries are
    routine and must cost one map-side filter, not a failed job."""
    from entity_extractor_spark.operators.search import bm25_topk

    docs = spark.createDataFrame(
        [(1, "spark streams data"), (2, "graphs join tables")],
        "doc_id long, text string",
    )
    assert bm25_topk(docs, [("q", "zzz qqq")], k=5).count() == 0


def test_funnel_no_user_reaches_later_steps(spark):
    """When no user performs step 2, its count must be 0 (row present),
    and step-1 counts unaffected."""
    from entity_extractor_spark.operators.event_analytics import funnel_steps

    ev = spark.createDataFrame(
        [("u1", "2026-01-01 10:00:00", "view"), ("u2", "2026-01-01 11:00:00", "view")],
        "user_id string, ts string, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        r["event_type"]: r["n_users"]
        for r in funnel_steps(ev, ["view", "buy"]).collect()
    }
    assert got == {"view": 2, "buy": 0}


def test_retention_single_user_single_event(spark):
    """One user, one event: exactly one (cohort, offset-0) row of size 1."""
    from entity_extractor_spark.operators.event_analytics import retention_cohorts

    ev = spark.createDataFrame(
        [("u1", "2026-01-07 10:00:00")], "user_id string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    rows = retention_cohorts(ev).collect()
    assert len(rows) == 1
    assert rows[0]["week_offset"] == 0 and rows[0]["n_users"] == 1


def test_event_transitions_single_event_users_emit_nothing(spark):
    """Users with one event have no (prev, next) pair — no rows, no
    nulls leaking into the transition matrix."""
    from entity_extractor_spark.operators.event_analytics import event_transitions

    ev = spark.createDataFrame(
        [("u1", "2026-01-01 10:00:00", "view", 1), ("u2", "2026-01-01 11:00:00", "buy", 2)],
        "user_id string, ts string, event_type string, event_id long",
    ).withColumn("ts", F.to_timestamp("ts"))
    assert event_transitions(ev).count() == 0


def test_prefix_jaccard_short_docs_no_shingles(spark):
    """Docs shorter than the shingle width contribute no shingles and
    therefore no pairs — and must not crash candidate generation."""
    from entity_extractor_spark.operators.dedup import prefix_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "hi"), (2, "hi"), (3, "one two three four five")],
        "doc_id long, text string",
    )
    assert prefix_jaccard_pairs(docs, n=3, t_num=1, t_den=2).count() == 0


def test_weighted_sample_k_exceeds_group_size(spark):
    """k larger than the group keeps every row exactly once."""
    from entity_extractor_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [("g", "a", 5), ("g", "b", 1)], "grp string, id string, w long"
    )
    got = sorted(r["id"] for r in weighted_sample(df, "grp", "id", "w", k=10).collect())
    assert got == ["a", "b"]


def test_quantile_sketch_single_row_group(spark):
    """A one-row group: every quantile (exact AND sample-estimate) is
    that row's value — the nearest-rank floor case."""
    from entity_extractor_spark.operators.sketches import quantile_sketch

    df = spark.createDataFrame([("g", "k1", 7)], "grp string, id string, v long")
    r = quantile_sketch(df, "grp", "v", "id", k=8).collect()[0]
    assert (r["n_rows"], r["q50_exact"], r["q90_exact"]) == (1, 7, 7)
    assert (r["q50_est"], r["q90_est"]) == (7, 7)


def test_heavy_hitters_uniform_corpus_is_empty(spark):
    """All-unique tokens at 50% support: no token qualifies, zero rows
    (the Misra-Gries candidate pass must not fabricate candidates)."""
    from entity_extractor_spark.operators.sketches import heavy_hitters

    docs = spark.createDataFrame(
        [(i, f"tok{i}a tok{i}b tok{i}c") for i in range(20)],
        "doc_id long, text string",
    )
    assert heavy_hitters(docs, support=0.5).count() == 0


def test_contamination_disjoint_corpora_all_clean(spark):
    """Train and benchmark with zero shared shingles: every train doc is
    reported and none is contaminated."""
    from entity_extractor_spark.operators.decontam import contamination_report

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "one two three four five six")], "doc_id long, text string"
    )
    rows = contamination_report(train, bench).collect()
    assert len(rows) == 2
    assert all(r["n_shared_shingles"] == 0 and not r["contaminated"] for r in rows)
