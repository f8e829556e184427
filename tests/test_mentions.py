"""Mention-scan correctness: the canonical mini-case from FIXTURES.md plus
the full P/R parity gate against the reference-faithful oracle."""

from __future__ import annotations

import pandas as pd
import pytest

from entity_extractor_spark.operators.mentions import dedup_mentions, extract_mentions
from entity_extractor_spark.oracle import MENTION_KEYS, oracle_extract, precision_recall
from entity_extractor_spark.synth import SynthConfig, make_gazetteer, make_transcripts, to_spark


@pytest.fixture(scope="module")
def mini_case():
    # FIXTURES.md "canonical mini-case": SUSHI x2 in turn 0 (user), x1 in
    # turn 1 (assistant), x4 in turn 2 — 7 rows, flags true for both roles.
    transcripts = pd.DataFrame(
        {
            "conv_id": ["conv-000001"] * 4,
            "turn_idx": pd.array([0, 1, 2, 3], dtype="int32"),
            "role": ["user", "assistant", "assistant", "user"],
            "text": [
                "We analyzed data using SUSHI and also sushi again here",
                "The Sushi pipeline produced results",
                "SUSHI sushi Sushi and suSHI all matched",
                "no mention in this turn (sushiroll does not count)",
            ],
            "tool": [None] * 4,
            "ts": pd.to_datetime(["2026-01-01"] * 4),
        }
    )
    gazetteer = pd.DataFrame(
        {
            "term_id": ["term-0001"],
            "title": ["SUSHI: a synthetic universe simulator"],
            "description": ["SUSHI is a software tool"],
            "aliases": [["SUSHI"]],
            "source": ["ASCL"],
            "positive_convs": [[]],
            "negative_convs": [[]],
        }
    )
    return transcripts, gazetteer


def test_mini_case_counts(spark, mini_case):
    transcripts, gazetteer = mini_case
    result = extract_mentions(to_spark(spark, transcripts), gazetteer).toPandas()
    assert len(result) == 7  # one row per individual occurrence
    assert set(result["match_location"]) == {"user", "assistant"}
    assert result["in_user"].all() and result["in_assistant"].all()
    assert (result["surface"].str.lower() == "sushi").all()
    by_turn = result.groupby("turn_idx").size().to_dict()
    assert by_turn == {0: 2, 1: 1, 2: 4}
    # dedup-by-(conv,term,context) then count = the "1 triple, count 7" form
    deduped = dedup_mentions(extract_mentions(to_spark(spark, transcripts), gazetteer))
    assert deduped.count() == 3  # 3 distinct contexts (one per matched turn)


def test_mini_case_matches_oracle(spark, mini_case):
    transcripts, gazetteer = mini_case
    engine = extract_mentions(to_spark(spark, transcripts), gazetteer).toPandas()
    oracle = oracle_extract(transcripts, gazetteer)
    p, r = precision_recall(engine, oracle, MENTION_KEYS)
    assert p == 1.0 and r == 1.0


def test_parity_gate_synthetic(spark):
    """BASELINE.json gate: P/R >= 0.95 on the seeded synthetic corpus.

    We assert exact equality — the matcher is designed to be
    bit-faithful, not just 0.95-close."""
    cfg = SynthConfig(seed=42, n_terms=48, n_convs=60, hot_conv_factor=10)
    gaz = make_gazetteer(cfg)
    transcripts = make_transcripts(cfg, gaz)
    engine = extract_mentions(to_spark(spark, transcripts), gaz).toPandas()
    oracle = oracle_extract(transcripts, gaz)
    assert len(oracle) > 200, "fixture should plant plenty of mentions"
    p, r = precision_recall(engine, oracle, MENTION_KEYS)
    assert p == 1.0 and r == 1.0, (p, r)


def test_per_turn_text_roundtrip(spark):
    """input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering after a round-trip through Spark."""
    cfg = SynthConfig(seed=7, n_terms=8, n_convs=12, hot_conv_factor=5)
    pdf = make_transcripts(cfg)
    back = (
        to_spark(spark, pdf)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    orig = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert (back["text"] == orig["text"]).all()
    assert (back["conv_id"] == orig["conv_id"]).all()
    assert (back["turn_idx"].astype("int64") == orig["turn_idx"].astype("int64")).all()


def test_ner_training_records_from_kernel_mentions(spark, mini_case):
    """NER export composes with the kernel scan: one record per matched
    turn, spans sorted by (start, end, label), text carried back."""
    from entity_extractor_spark.operators.ner_export import ner_training_records

    transcripts, gazetteer = mini_case
    t = to_spark(spark, transcripts)
    m = extract_mentions(t, gazetteer)
    rec = ner_training_records(m, t).collect()
    by_turn = {r["turn_idx"]: r for r in rec}
    assert set(by_turn) == {0, 1, 2}  # turn 3 has no mention -> no record
    assert [len(by_turn[i]["spans"]) for i in (0, 1, 2)] == [2, 1, 4]
    for r in rec:
        spans = [(s["start"], s["end"], s["label"]) for s in r["spans"]]
        assert spans == sorted(spans)
        # every span's slice is the surface that fired (case-insensitive)
        for s, e_, lbl in spans:
            assert r["text"][s:e_].lower() == "sushi"
