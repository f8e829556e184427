"""Mention scan stage: transcripts -> candidate-mention table.

Spark-first restatement of the reference's extraction phase
(`optimized_extractor/extraction_engine.py:102-203` + the mp.Pool fan-out
at :249-284): one Arrow-batched ``mapInPandas`` pass over the transcript
table with a broadcast gazetteer matcher. No driver collect, no per-row
Python UDF calls, no seek-based point reads — Catalyst prunes the scan to
the four needed columns and the stage parallelizes per input partition.

Per-occurrence fan-out semantics (one output row per individual match,
`test_individual_matches.py:12-58`), ±window-word context within the turn
text (`extraction_engine.py:69-92`), and per-(conv, term) role flags
(`extraction_engine.py:150-184`, transposed title/abstract -> user/
assistant) are preserved. Flags are computed relationally with a window
max over (conv_id, term_id) rather than inside the kernel, so the scan
stays embarrassingly parallel. The stage crosses ONE exchange, a conv_id
hash repartition of the scan output: it satisfies the flag window (and
:func:`dedup_mentions`' window) by the subset rule and is the key the
table is stored by.

Given the gazetteer's descriptions, the same pass also scores each span's
context against its term's description (``similarity``), so the KG job
runs one Python stage and its ``scored`` stage is a JVM projection.

Each row carries its context twice: as the string and as its word bounds
``ctx_lo``/``ctx_hi`` into ``text.split()``. A stored table can keep the
bounds alone; :func:`mention_context` re-derives the string from them and
the turn text, in the JVM.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from entity_extractor_spark.matching.context import DEFAULT_WINDOW_WORDS, WordIndex
from entity_extractor_spark.matching.matcher import GazetteerMatcher, canonical_surface
from entity_extractor_spark.operators.scoring import charngram_cosine_arrays

MENTION_SCHEMA = (
    "conv_id string, turn_idx int, term_id string, term_name string, "
    "surface string, start int, end int, context string, ctx_lo int, ctx_hi int, "
    "match_location string"
)

# the code points Python's ``str.split()`` splits on (``str.isspace``),
# as a Java regex class: ``split(text, _PY_SPLIT_RE)`` minus its empty
# strings is ``text.split()``
_PY_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    + "".join(map(chr, range(0x2000, 0x200B)))
    + "\u2028\u2029\u202f\u205f\u3000"
)
_PY_SPLIT_RE = "[" + "".join(f"\\u{ord(c):04x}" for c in _PY_WHITESPACE) + "]+"


def build_matcher_from_gazetteer(
    gazetteer: DataFrame | pd.DataFrame, include_aliases: bool = False
) -> tuple[GazetteerMatcher, dict[str, str]]:
    """Collect the (small) gazetteer and build the broadcastable matcher.

    The gazetteer plays the reference's driver-RAM ontology dict role
    (`preprocessing.py:40-47`); at 100 TB scale it is still ~10^3-10^5
    rows, so collect-to-broadcast is the right plan (SURVEY S3/J2).
    """
    if isinstance(gazetteer, DataFrame):
        cols = ["term_id", "title"] + (["aliases"] if include_aliases else [])
        pdf = gazetteer.select(*cols).toPandas()
    else:
        pdf = gazetteer
    names: dict[str, str] = {}
    terms: list[tuple[str, list[str]]] = []
    for row in pdf.itertuples(index=False):
        title = row.title or ""
        names[row.term_id] = title
        surfaces = [canonical_surface(title)]
        if include_aliases and getattr(row, "aliases", None) is not None:
            surfaces.extend(list(row.aliases))
        terms.append((row.term_id, surfaces))
    return GazetteerMatcher.build(terms), names


def scan_mentions(
    transcripts: DataFrame,
    matcher: GazetteerMatcher,
    names: dict[str, str],
    window_words: int = DEFAULT_WINDOW_WORDS,
    descriptions: dict[str, str | None] | None = None,
) -> DataFrame:
    """The raw per-occurrence scan (no flags): one row per matched span.

    ``context`` is the span's ±``window_words`` word window and
    ``ctx_lo``/``ctx_hi`` its half-open word range into ``text.split()``
    (``WordIndex.bounds``), from which :func:`mention_context`
    re-derives it.

    With ``descriptions`` (term_id -> description) each row also gets
    ``similarity``: the char-ngram cosine of its context against its
    term's description, computed once per Arrow batch by the same
    kernel as ``scoring.charngram_cosine``. A term with no or a null
    description scores 0.0, as the left join in
    ``scoring.score_candidates`` does."""
    spark = SparkSession.getActiveSession()
    bc = spark.sparkContext.broadcast((matcher, names, descriptions))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m, nm, desc = bc.value
        for pdf in batches:
            conv_ids, turn_idxs, term_ids, term_names = [], [], [], []
            surfaces, starts, ends, locations = [], [], [], []
            contexts, ctx_los, ctx_his = [], [], []
            for conv_id, turn_idx, role, text in zip(
                pdf["conv_id"].values, pdf["turn_idx"].values, pdf["role"].values, pdf["text"].values
            ):
                if not isinstance(text, str) or not text:
                    continue
                spans = m.find(text)
                if not spans:
                    continue
                widx = WordIndex(text)
                for s in spans:
                    conv_ids.append(conv_id)
                    turn_idxs.append(turn_idx)
                    term_ids.append(s.term_id)
                    term_names.append(nm.get(s.term_id, ""))
                    surfaces.append(s.text)
                    starts.append(s.start)
                    ends.append(s.end)
                    lo, hi = widx.bounds(s.start, s.end, window_words)
                    contexts.append(" ".join(widx.words[lo:hi]))
                    ctx_los.append(lo)
                    ctx_his.append(hi)
                    locations.append(role)
            out = pd.DataFrame(
                {
                    "conv_id": pd.Series(conv_ids, dtype="object"),
                    "turn_idx": pd.Series(turn_idxs, dtype="int32"),
                    "term_id": pd.Series(term_ids, dtype="object"),
                    "term_name": pd.Series(term_names, dtype="object"),
                    "surface": pd.Series(surfaces, dtype="object"),
                    "start": pd.Series(starts, dtype="int32"),
                    "end": pd.Series(ends, dtype="int32"),
                    "context": pd.Series(contexts, dtype="object"),
                    "ctx_lo": pd.Series(ctx_los, dtype="int32"),
                    "ctx_hi": pd.Series(ctx_his, dtype="int32"),
                    "match_location": pd.Series(locations, dtype="object"),
                }
            )
            if desc is not None:
                out["similarity"] = charngram_cosine_arrays(
                    contexts, [desc.get(t) for t in term_ids]
                )
            yield out

    pruned = transcripts.select("conv_id", "turn_idx", "role", "text")
    schema = MENTION_SCHEMA + (", similarity double" if descriptions is not None else "")
    return pruned.mapInPandas(scan, schema)


def extract_mentions(
    transcripts: DataFrame,
    gazetteer: DataFrame | pd.DataFrame,
    similarity: bool = False,
) -> DataFrame:
    """Full mention table per FIXTURES.md §3 (scan + per-(conv,term) flags).

    ``similarity``: the scan also scores each span against its term's
    gazetteer ``description`` (see :func:`scan_mentions`) and adds the
    ``similarity`` column.

    The scan output is hash-repartitioned on conv_id, with no partition
    count so AQE sizes the exchange from the shuffled bytes. The flag
    window then needs only a local sort, and the stage has ONE exchange.
    Keying it on conv_id alone puts a whole conversation on one task:
    a conversation is the atomic unit downstream anyway (the triple
    stage's lag/lead windows), and its size is bounded by chat length,
    not by corpus size.
    """
    matcher, names = build_matcher_from_gazetteer(gazetteer)
    descriptions = None
    if similarity:
        pdf = (
            gazetteer.select("term_id", "description").toPandas()
            if isinstance(gazetteer, DataFrame)
            else gazetteer
        )
        descriptions = dict(zip(pdf["term_id"], pdf["description"]))
    raw = scan_mentions(transcripts, matcher, names, descriptions=descriptions)
    w = Window.partitionBy("conv_id", "term_id")
    # both flags in ONE select so Catalyst fuses them into a single Window
    # node over one exchange (two sequential withColumns produce two sorts
    # and ~2x the wall time at 100k turns)
    return raw.repartition("conv_id").select(
        "*",
        (F.max(F.when(F.col("match_location") == "user", 1).otherwise(0)).over(w) == 1).alias(
            "in_user"
        ),
        (
            F.max(F.when(F.col("match_location") == "assistant", 1).otherwise(0)).over(w) == 1
        ).alias("in_assistant"),
        F.lit(1).cast("long").alias("match_count"),
    )


def dedup_mentions(mentions: DataFrame) -> DataFrame:
    """UNIQUE(bibcode,label,context) semantics (`load_inputs.py:38`).

    Keeps the FIRST occurrence by (turn_idx, start, end, match_location)
    via a row_number window — bit-reproducible under any partitioning,
    and because the window's ClusteredDistribution on (conv_id, term_id,
    context) is satisfied by any upstream conv_id hash partitioning
    (subset rule), it adds NO exchange over :func:`extract_mentions`'
    conv_id-partitioned output.
    """
    w = (
        Window.partitionBy("conv_id", "term_id", "context")
        .orderBy("turn_idx", "start", "end", "match_location")
    )
    return (
        mentions.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def mention_context(mentions: DataFrame, transcripts: DataFrame) -> DataFrame:
    """``mentions`` plus its ``context`` column, re-derived from the turn
    text and the stored word bounds: the words ``[ctx_lo, ctx_hi)`` of
    ``text.split()`` joined by one space, the string the scan computed
    (``WordIndex.window``). For readers of a mention table stored
    without ``context``, such as ``curation.with_row_id``.

    JVM columns over one join on ``(conv_id, turn_idx)``: Java's
    ``split`` on the class of Python's 29 whitespace code points, empty
    strings removed, then ``slice`` and ``array_join``."""
    text = transcripts.select("conv_id", "turn_idx", "text")
    words = F.array_remove(F.split(F.col("text"), _PY_SPLIT_RE), "")
    lo, hi = F.col("ctx_lo"), F.col("ctx_hi")
    context = F.array_join(F.slice(words, lo + 1, hi - lo), " ")
    return mentions.join(text, ["conv_id", "turn_idx"]).select(
        *mentions.columns, context.alias("context")
    )
