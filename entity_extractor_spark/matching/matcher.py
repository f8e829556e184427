"""Gazetteer surface-form matcher — the engine's one custom scan kernel.

Semantics mirror the reference exactly:

* ``word_boundary`` mode = `optimized_extractor/extraction_engine.py:42-64`:
  case-insensitive ``\\b<escaped canonical name>\\b`` per term, canonical
  name = title text before the first colon; one emitted span per
  individual regex occurrence.
* ``exact`` mode = `software_mentions_pipeline/batch_filter.py:31-56`:
  case-SENSITIVE; single-word labels matched by membership in the
  ``[\\w\\-]+`` token set; phrase labels by ``(?<!\\w)label(?!\\w)``.

Scale design (SURVEY R4/R5/R7, J9): the naive reference plan is a
nested-loop theta join (docs x terms regex scans). Here each text is
scanned once. A C-speed tokenizer builds the ``\\w+`` token set of the
haystack (the lowered text in ``word_boundary`` mode, the text itself in
``exact`` mode), and hash intersections against two dictionaries select
the candidate terms:

* single-word surfaces, keyed by the surface itself. ``exact`` mode
  gates them on the reference's ``[\\w\\-]+`` token set instead; that is
  its one extra tokenization.
* phrase surfaces, keyed by their leading ``\\w+`` run. An occurrence of
  a phrase in either mode has no word char before it (``\\b`` or
  ``(?<!\\w)``), and inside the phrase its leading run is followed by a
  non-word char, so the run is a maximal ``\\w+`` token of the text.
  Each candidate phrase is confirmed by a C-speed substring check;
  phrases that start with a non-word char get that check
  unconditionally.

Per-text cost is one tokenizer pass plus one set probe per distinct
token (the key sets are frozensets, so an intersection walks the smaller
side, never the whole gazetteer), with no per-char Python work. The
first-word index has one measured worst case: the synth 4,000-term
gazetteer, whose 12 name heads collapse 1,945 phrase keys onto 110 first
words. Even there it runs within 10% of a per-char Aho-Corasick
automaton (BENCH.md §Headline). Only surfaces that pass the prefilter
run their (cached, compiled) occurrence regex on the original text to
recover exact spans.
The prefilter is exact (no recall loss): an IGNORECASE match of any
surface implies lowered-substring containment (ASCII; documented limit).
The hypothesis property suite pins both modes to the naive per-term
regex oracle.

The matcher is a plain picklable object: built once on the driver from
the gazetteer DataFrame and shipped to executors via
``sparkContext.broadcast`` — the Spark-native form of the reference's
per-worker regex cache (X2).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_WORD_RE = re.compile(r"\w+")
_TOKEN_RE = re.compile(r"\b[\w\-]+\b")
_PURE_WORD_RE = re.compile(r"^\w+$")


def canonical_surface(term_name: str) -> str:
    """Canonical surface form: title text before the first colon, stripped
    (`extraction_engine.py:51`, `load_inputs.py:63`)."""
    if not term_name:
        return ""
    return term_name.split(":")[0].strip() if ":" in term_name else term_name


@dataclass(slots=True)
class Span:
    term_id: str
    surface: str  # the gazetteer surface form that fired
    text: str  # the actual matched text (original casing)
    start: int
    end: int


@dataclass
class GazetteerMatcher:
    """Builds from [(term_id, [surface, ...])]; mode per module docstring."""

    mode: str = "word_boundary"
    # surface (lowered for word_boundary, original for exact) -> [(term_id, surface)]
    _word_index: dict[str, list[tuple[str, str]]] = field(default_factory=dict)
    # phrase key (same normalization) -> [(term_id, surface)]
    _phrase_terms: dict[str, list[tuple[str, str]]] = field(default_factory=dict)
    # leading \w+ run of each phrase key -> [keys] (the token-set
    # prefilter); keys with no leading word char fall back to
    # unconditional substring checks
    _phrase_first_word: dict[str, list[str]] = field(default_factory=dict)
    _phrase_no_word: list[str] = field(default_factory=list)
    # the keys of _word_index and _phrase_first_word as frozensets: a
    # set intersection with a set probes the smaller side, with a
    # dict.keys() view it probes every gazetteer key. Derived, so
    # rebuilt on unpickle rather than shipped
    _word_keys: frozenset[str] = field(default_factory=frozenset)
    _phrase_first_keys: frozenset[str] = field(default_factory=frozenset)
    # compiled-regex cache; rebuilt lazily per process, excluded from pickle
    _regex_cache: dict[tuple[str, str], re.Pattern] = field(default_factory=dict)

    @classmethod
    def build(cls, terms: list[tuple[str, list[str]]], mode: str = "word_boundary") -> "GazetteerMatcher":
        m = cls(mode=mode)
        seen: set[tuple[str, str]] = set()
        for term_id, surfaces in terms:
            for surface in surfaces:
                surface = (surface or "").strip()
                if not surface or (term_id, surface) in seen:
                    continue
                seen.add((term_id, surface))
                key = surface.lower() if mode == "word_boundary" else surface
                if _PURE_WORD_RE.match(surface) or (mode == "exact" and " " not in surface):
                    m._word_index.setdefault(key, []).append((term_id, surface))
                else:
                    m._phrase_terms.setdefault(key, []).append((term_id, surface))
        for key in m._phrase_terms:
            mo = _WORD_RE.match(key)
            if mo:
                m._phrase_first_word.setdefault(mo.group(0), []).append(key)
            else:
                m._phrase_no_word.append(key)
        m._index_keys()
        return m

    def _index_keys(self) -> None:
        self._word_keys = frozenset(self._word_index)
        self._phrase_first_keys = frozenset(self._phrase_first_word)

    def __getstate__(self):
        return {
            "mode": self.mode,
            "_word_index": self._word_index,
            "_phrase_terms": self._phrase_terms,
            "_phrase_first_word": self._phrase_first_word,
            "_phrase_no_word": self._phrase_no_word,
        }

    def __setstate__(self, state):
        self.mode = state["mode"]
        self._word_index = state["_word_index"]
        self._phrase_terms = state["_phrase_terms"]
        self._phrase_first_word = state["_phrase_first_word"]
        self._phrase_no_word = state["_phrase_no_word"]
        self._regex_cache = {}
        self._index_keys()

    def _pattern(self, term_id: str, surface: str) -> re.Pattern:
        key = (term_id, surface)
        pat = self._regex_cache.get(key)
        if pat is None:
            if self.mode == "word_boundary":
                pat = re.compile(rf"\b{re.escape(surface.lower())}\b", re.IGNORECASE)
            else:
                pat = re.compile(rf"(?<!\w){re.escape(surface)}(?!\w)")
            self._regex_cache[key] = pat
        return pat

    def find(self, text: str) -> list[Span]:
        """All occurrence spans of all gazetteer surfaces in ``text``."""
        if not text:
            return []
        exact = self.mode == "exact"
        haystack = text if exact else text.lower()
        words = set(_WORD_RE.findall(haystack))
        tokens = set(_TOKEN_RE.findall(text)) if exact else words
        candidates: list[tuple[str, str]] = []
        for tok in tokens & self._word_keys:
            candidates.extend(self._word_index[tok])
        for tok in words & self._phrase_first_keys:
            for key in self._phrase_first_word[tok]:
                if key in haystack:
                    candidates.extend(self._phrase_terms[key])
        for key in self._phrase_no_word:
            if key in haystack:
                candidates.extend(self._phrase_terms[key])
        spans: list[Span] = []
        for term_id, surface in candidates:
            for mo in self._pattern(term_id, surface).finditer(text):
                spans.append(Span(term_id, surface, mo.group(0), mo.start(), mo.end()))
        spans.sort(key=lambda s: (s.start, s.end, s.term_id, s.surface))
        return spans
