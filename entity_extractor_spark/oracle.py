"""Single-process reference-faithful oracle for parity tests.

Re-implements the reference's extraction semantics verbatim in the
transcript domain (document -> conversation, sections -> turns):

* per-term pattern ``\\b<re.escape(name.lower())>\\b`` with IGNORECASE,
  canonical name = pre-colon title (`extraction_engine.py:50-56`);
* one output row per individual occurrence (`test_individual_matches.py`);
* ±window-word context via the reference's drifting char->word map
  (`extraction_engine.py:69-92`) — reproduced here with a literal dict
  build so the engine's searchsorted variant is independently checked;
* per-(conv, term) role flags (`extraction_engine.py:150-184`).

This is the P/R≥0.95 target (BASELINE.json north_rule). Driver-side,
pandas-only, deliberately naive — O(convs * terms) — so it is only run
on small fixtures.
"""

from __future__ import annotations

import re

import pandas as pd

from entity_extractor_spark.matching.matcher import canonical_surface

# the mention columns an engine row must match an oracle row on, for P/R
MENTION_KEYS = [
    "conv_id", "turn_idx", "term_id", "surface", "start", "end",
    "context", "match_location", "in_user", "in_assistant",
]


def _char_to_word_window(text: str, match_start: int, match_end: int, window_words: int) -> str:
    # Literal transcription of the reference quirk (every word assumed to be
    # followed by exactly one space): extraction_engine.py:69-92.
    words = text.split()
    char_to_word: dict[int, int] = {}
    char_pos = 0
    for word_idx, word in enumerate(words):
        for i in range(len(word)):
            char_to_word[char_pos + i] = word_idx
        char_pos += len(word) + 1
    start_word_idx = char_to_word.get(match_start, 0)
    end_word_idx = char_to_word.get(match_end - 1, len(words) - 1)
    lo = max(0, start_word_idx - window_words)
    hi = min(len(words), end_word_idx + window_words + 1)
    return " ".join(words[lo:hi])


def oracle_extract(
    transcripts: pd.DataFrame, gazetteer: pd.DataFrame, window_words: int = 100
) -> pd.DataFrame:
    """Expected mention table for (transcripts, gazetteer) fixtures."""
    patterns: dict[str, re.Pattern] = {}
    names: dict[str, str] = {}
    for row in gazetteer.itertuples(index=False):
        name = canonical_surface(row.title or "")
        if not name:
            continue
        names[row.term_id] = row.title
        patterns[row.term_id] = re.compile(rf"\b{re.escape(name.lower())}\b", re.IGNORECASE)

    rows = []
    for conv_id, conv in transcripts.sort_values(["conv_id", "turn_idx"]).groupby("conv_id", sort=True):
        turns = list(conv.itertuples(index=False))
        for term_id, pat in patterns.items():
            per_turn = [
                (t, list(pat.finditer(t.text)) if isinstance(t.text, str) else []) for t in turns
            ]
            role_hit = {"user": False, "assistant": False}
            for t, ms in per_turn:
                if ms and t.role in role_hit:
                    role_hit[t.role] = True
            for t, ms in per_turn:
                for mo in ms:
                    rows.append(
                        {
                            "conv_id": conv_id,
                            "turn_idx": t.turn_idx,
                            "term_id": term_id,
                            "term_name": names[term_id],
                            "surface": mo.group(0),
                            "start": mo.start(),
                            "end": mo.end(),
                            "context": _char_to_word_window(
                                t.text, mo.start(), mo.end(), window_words
                            ),
                            "match_location": t.role,
                            "in_user": role_hit["user"],
                            "in_assistant": role_hit["assistant"],
                            "match_count": 1,
                        }
                    )
    out = pd.DataFrame(
        rows,
        columns=[
            "conv_id", "turn_idx", "term_id", "term_name", "surface", "start", "end",
            "context", "match_location", "in_user", "in_assistant", "match_count",
        ],
    )
    if len(out):
        out["turn_idx"] = out["turn_idx"].astype("int32")
        out["start"] = out["start"].astype("int32")
        out["end"] = out["end"].astype("int32")
        out["match_count"] = out["match_count"].astype("int64")
    return out


def precision_recall(engine: pd.DataFrame, oracle: pd.DataFrame, keys: list[str]) -> tuple[float, float]:
    """Set P/R over key tuples (the BASELINE.json gate metric)."""
    e = set(map(tuple, engine[keys].itertuples(index=False)))
    o = set(map(tuple, oracle[keys].itertuples(index=False)))
    if not e or not o:
        return (0.0, 0.0) if o or e else (1.0, 1.0)
    tp = len(e & o)
    return tp / len(e), tp / len(o)
