"""Property-based parity for the matcher kernel: on arbitrary texts and
gazetteers, `GazetteerMatcher.find` must emit EXACTLY the spans of the
reference's naive per-term regex scan (`extraction_engine.py:42-64`,
`batch_filter.py:31-56`) — the token/substring prefilters must never
lose or invent a match.

Spark-free (the kernel is a plain object), so hypothesis can hammer it
with hundreds of adversarial cases per run: overlapping surfaces,
surfaces that are substrings of other surfaces, hyphens, punctuation
boundaries, repeated adjacent occurrences, accented characters.

The alphabet deliberately excludes the case-folding pathologies the
module docstring documents as out of scope (ß, dotted/dotless I, Kelvin
sign), where Python's str.lower() and regex IGNORECASE disagree.
"""

from __future__ import annotations

import pickle
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from entity_extractor_spark.matching.matcher import GazetteerMatcher

WORD_ALPHABET = "abcdefgABCDEFG012éü-"
FILLER = " .,:!?()\n\t"

word = st.text(alphabet=WORD_ALPHABET, min_size=1, max_size=6)
surface = st.one_of(
    word,
    st.tuples(word, word).map(lambda t: f"{t[0]} {t[1]}"),  # phrases
)
texts = st.text(alphabet=WORD_ALPHABET + FILLER, min_size=0, max_size=120)


_TOKENS = re.compile(r"\b[\w\-]+\b")


def _naive_spans(terms: list[tuple[str, list[str]]], text: str, mode: str):
    out = set()
    seen = set()
    for term_id, surfaces in terms:
        for s in surfaces:
            s = (s or "").strip()
            if not s or (term_id, s) in seen:
                continue
            seen.add((term_id, s))
            if mode == "word_boundary":
                pat = re.compile(rf"\b{re.escape(s.lower())}\b", re.IGNORECASE)
            else:
                # reference exact-mode semantics (`batch_filter.py:31-56`):
                # a single-word label fires ONLY if it appears in the
                # [\w\-]+ token set (so a label with no word chars, e.g.
                # "-", can never match — hypothesis found this edge);
                # span recovery then uses the lookaround regex
                if " " not in s and s not in set(_TOKENS.findall(text)):
                    continue
                pat = re.compile(rf"(?<!\w){re.escape(s)}(?!\w)")
            for mo in pat.finditer(text):
                out.add((term_id, s, mo.group(0), mo.start(), mo.end()))
    return out


@st.composite
def case(draw):
    # surfaces partially drawn from the text's own words so hits are common
    text = draw(texts)
    pool = draw(st.lists(surface, min_size=1, max_size=6))
    own_words = [w for w in re.findall(r"[\w\-]+", text) if w][:3]
    pool += own_words
    terms = [(f"t{i}", [s]) for i, s in enumerate(pool)]
    # one multi-surface term (alias shape)
    if len(pool) >= 2:
        terms.append(("talias", pool[:2]))
    return terms, text


@settings(max_examples=300, deadline=None)
@given(case())
def test_word_boundary_mode_matches_naive_regex(tc):
    terms, text = tc
    m = GazetteerMatcher.build(terms, mode="word_boundary")
    got = {(s.term_id, s.surface, s.text, s.start, s.end) for s in m.find(text)}
    assert got == _naive_spans(terms, text, "word_boundary"), (terms, text)


@settings(max_examples=300, deadline=None)
@given(case())
def test_exact_mode_matches_naive_regex(tc):
    terms, text = tc
    m = GazetteerMatcher.build(terms, mode="exact")
    got = {(s.term_id, s.surface, s.text, s.start, s.end) for s in m.find(text)}
    assert got == _naive_spans(terms, text, "exact"), (terms, text)


# filler phrases from characters outside the text alphabet: 70 phrases
# (with a space, so exact mode indexes them as phrases too) put many keys
# in the first-word index without ever matching a generated text
_PHRASE_FILLER = [(f"zfill{i}", [f"zq{i} zr{i}"]) for i in range(70)]
MODES = ["word_boundary", "exact"]


def _assert_find_matches_naive(m: GazetteerMatcher, terms, text, mode: str) -> None:
    # the broadcast ships the matcher through its hand-written
    # __getstate__, so the unpickled copy must find the same spans
    want = _naive_spans(terms, text, mode)
    for matcher in (m, pickle.loads(pickle.dumps(m))):
        got = {(s.term_id, s.surface, s.text, s.start, s.end) for s in matcher.find(text)}
        assert got == want, (terms, text)


@pytest.mark.parametrize("mode", MODES)
@settings(max_examples=300, deadline=None)
@given(case())
def test_large_phrase_dict_matches_naive_regex(mode, tc):
    terms, text = tc
    terms = terms + _PHRASE_FILLER
    m = GazetteerMatcher.build(terms, mode=mode)
    assert len(m._phrase_first_word) >= 70
    _assert_find_matches_naive(m, terms, text, mode)


# phrases whose key starts with a NON-word char take the _phrase_no_word
# unconditional-substring path; "a-b c" and "é-a b" start with a \w+ run
# that a [\w\-]+ token would extend past the first-word index key
_EDGE_PHRASES = ["- ab", ": c d", "a-b c", "é-a b"]


@st.composite
def edge_phrase_case(draw):
    terms, text = draw(case())
    # splice edge phrases into the text at drawn positions, so the
    # prefilter sees real occurrences next to random neighbours
    for phrase in draw(st.lists(st.sampled_from(_EDGE_PHRASES), max_size=4)):
        i = draw(st.integers(0, len(text)))
        text = text[:i] + phrase + text[i:]
    return terms + [(f"tnw{i}", [p]) for i, p in enumerate(_EDGE_PHRASES)], text


@pytest.mark.parametrize("mode", MODES)
@settings(max_examples=200, deadline=None)
@given(edge_phrase_case())
def test_no_leading_word_phrases(mode, tc):
    terms, text = tc
    m = GazetteerMatcher.build(terms, mode=mode)
    assert len(m._phrase_no_word) >= 2
    _assert_find_matches_naive(m, terms, text, mode)


@pytest.mark.parametrize("mode", MODES)
def test_key_sets_are_frozensets_after_pickle(mode):
    """``find`` intersects the haystack's tokens with frozensets of the
    index keys, so the probe walks the smaller side. Intersecting with a
    ``dict.keys()`` view would probe every gazetteer key per text. The
    sets are not pickled: unpickling rebuilds them, equal to the keys."""
    terms = [("t0", ["alpha"]), ("t1", ["beta gamma"]), ("t2", ["- x"])] + _PHRASE_FILLER
    built = GazetteerMatcher.build(terms, mode=mode)
    for m in (built, pickle.loads(pickle.dumps(built))):
        assert type(m._word_keys) is frozenset and type(m._phrase_first_keys) is frozenset
        assert m._word_keys == set(m._word_index)
        assert m._phrase_first_keys == set(m._phrase_first_word)
    assert "_word_keys" not in built.__getstate__()
