"""The engine's searchsorted WordIndex must equal the reference's literal
char->word dict implementation (including its whitespace-drift quirk),
and the JVM re-slice of a stored mention's word bounds
(``mentions.mention_context``) must equal its window."""

from __future__ import annotations

import sys

from hypothesis import given, settings
from hypothesis import strategies as st

from entity_extractor_spark.matching.context import WordIndex, extract_context_window
from entity_extractor_spark.operators.mentions import _PY_WHITESPACE, mention_context
from entity_extractor_spark.oracle import _char_to_word_window

texts = st.text(
    alphabet=st.sampled_from(list("abc XYZ-_.\n\t  ")), min_size=0, max_size=200
)


@given(texts, st.integers(0, 220), st.integers(1, 20), st.integers(1, 5))
@settings(max_examples=300, deadline=None)
def test_window_matches_reference_quirks(text, start, span, window):
    end = start + span
    assert extract_context_window(text, start, end, window) == _char_to_word_window(
        text, start, end, window
    )


def test_window_basic():
    text = "a b c d e f g"
    # match on "d" (chars 6..7), window 1 word each side
    assert extract_context_window(text, 6, 7, 1) == "c d e"


def test_window_multispace_drift():
    # Two spaces: the reference's map drifts by one char; reproduce it.
    text = "aa  bb cc"
    ref = _char_to_word_window(text, 4, 6, 0)
    assert extract_context_window(text, 4, 6, 0) == ref


# every code point str.split() splits on, and words with the characters
# a JVM re-slice could mis-split: final and medial sigma, non-BMP
# (UTF-16 surrogate pairs), word chars next to punctuation
PY_SPACES = "".join(c for c in map(chr, range(sys.maxunicode + 1)) if c.isspace())
RESLICE_WORD = st.text(
    alphabet=list("abXY-.:") + list("ΣσΣς") + ["𝔘", "😀", "𐍈"], min_size=1, max_size=6
)
RESLICE_SPACE = st.text(alphabet=list(PY_SPACES), min_size=1, max_size=3)


@st.composite
def reslice_text(draw):
    words = draw(st.lists(RESLICE_WORD, min_size=1, max_size=12))
    text = words[0]
    for w in words[1:]:
        text += draw(RESLICE_SPACE) + w
    lead = draw(st.one_of(st.just(""), RESLICE_SPACE))
    trail = draw(st.one_of(st.just(""), RESLICE_SPACE))
    return lead + text + trail


@st.composite
def reslice_case(draw):
    rows = []
    for i, text in enumerate(draw(st.lists(reslice_text(), min_size=1, max_size=6))):
        for _ in range(draw(st.integers(1, 4))):
            start = draw(st.integers(0, len(text)))
            end = start + draw(st.integers(1, 8))
            rows.append((i, text, start, end, draw(st.integers(0, 5))))
    return rows


def test_split_class_is_python_whitespace():
    assert len(PY_SPACES) == 29
    assert _PY_WHITESPACE == PY_SPACES


@given(reslice_case())
@settings(max_examples=25, deadline=None)
def test_mention_context_matches_window(spark, rows):
    """``mention_context`` re-slices the turn text in the JVM from the
    scan's word bounds; it must return exactly ``WordIndex.window``."""
    texts = {i: text for i, text, *_ in rows}
    mentions, want = [], {}
    for k, (i, text, start, end, ww) in enumerate(rows):
        widx = WordIndex(text)
        lo, hi = widx.bounds(start, end, ww)
        assert 0 <= lo < hi <= widx.n
        mentions.append((f"c{i}", 0, k, lo, hi))
        want[k] = widx.window(start, end, ww)
    m = spark.createDataFrame(
        mentions, "conv_id string, turn_idx int, k int, ctx_lo int, ctx_hi int"
    )
    t = spark.createDataFrame(
        [(f"c{i}", 0, text) for i, text in texts.items()],
        "conv_id string, turn_idx int, text string",
    )
    got = {r["k"]: r["context"] for r in mention_context(m, t).collect()}
    assert got == want
