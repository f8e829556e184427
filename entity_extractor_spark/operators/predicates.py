"""Relation-triple extraction over role/tool-tagged adjacent turns (W4).

The reference has no cross-section relations; the north rule adds
dependency-pattern predicates over consecutive turns — the transcript
generalization of the reference's ±100-word context window
(`extraction_engine.py:69-92`) across turn boundaries.

Every predicate comes from one of two frames, each of which reads its
input once and crosses one exchange:

* :func:`turn_pair_triples` — one conv_id window over transcripts
  (lead/lag by turn_idx) emits both
  ``uses_tool``  (assistant turn immediately followed by a tool turn) and
  ``replies_to`` (assistant turn immediately after a user turn);
* :func:`turn_entity_triples` — one ``groupBy(conv_id, turn_idx)`` over
  mentions emits both
  ``mentions``    ((conv:turn) -> entity, one per distinct turn term) and
  ``co_mentions`` (unordered entity pair mentioned in the same turn).

A caller that wants one predicate filters its frame by ``pred``. The
window partitioning key is conv_id — the same key the transcript table is
bucketed by, so at scale the window sorts within partitions without a
full shuffle (`sortWithinPartitions` locality, SURVEY O1).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _conv_window() -> Window:
    return Window.partitionBy("conv_id").orderBy("turn_idx")


def _turn_id(idx_col: str = "turn_idx"):
    """The ``conv:turn`` node id of a turn."""
    return F.concat_ws(":", "conv_id", idx_col)


def turn_entity_triples(mentions: DataFrame, entity_map: DataFrame | None = None) -> DataFrame:
    """``mentions`` and ``co_mentions`` triples from ONE
    ``groupBy(conv_id, turn_idx)`` over the mention rows.

    ``eid`` is the term id, canonicalized if a (term_id, entity_id) map
    is supplied (broadcast — it is tiny). Each turn collects its distinct
    ``(term_id, eid)`` pairs: one ``mentions`` triple per distinct term
    (two alias terms of one entity in a turn give that entity two
    ``mentions`` rows, hence edge weight 2), and one ``co_mentions``
    triple per unordered pair of the turn's distinct entities (subj <
    obj, so an entity never pairs with itself).

    Grouped pair expansion rather than a self-join on (conv_id,
    turn_idx): each mention row crosses ONE exchange (the groupBy)
    instead of two (both join sides shuffle), and the per-turn set is
    bounded by gazetteer hits per turn, so the collected arrays stay
    small even on hot conversations. Measured on 762k mentions at
    local[32]: 2.7 s vs 3.1 s for the equivalent self-join with
    identical output. The i < j canonical ordering falls out of
    ``array_sort``.
    """
    m = mentions.select("conv_id", "turn_idx", "term_id")
    if entity_map is None:
        m = m.withColumn("eid", F.col("term_id"))
    else:
        m = m.join(F.broadcast(entity_map), "term_id", "left").select(
            "conv_id", "turn_idx", "term_id", F.coalesce("entity_id", "term_id").alias("eid")
        )
    per_turn = m.groupBy("conv_id", "turn_idx").agg(
        F.collect_set(F.struct("term_id", "eid")).alias("te")
    )
    triples = F.expr(
        "concat("
        "transform(te, x -> struct(turn AS subj, 'mentions' AS pred, x.eid AS obj)), "
        "flatten(transform(eids, (x, i) -> transform(slice(eids, i + 2, size(eids)), "
        "y -> struct(x AS subj, 'co_mentions' AS pred, y AS obj)))))"
    )
    return (
        per_turn.select(
            "conv_id",
            "turn_idx",
            "te",
            _turn_id().alias("turn"),
            F.array_sort(F.array_distinct(F.col("te.eid"))).alias("eids"),
        )
        .select("conv_id", "turn_idx", F.explode(triples).alias("t"))
        .select("t.subj", "t.pred", "t.obj", "conv_id", "turn_idx")
    )


def adjacent_turns(transcripts: DataFrame) -> DataFrame:
    """ONE conv_id window computing every adjacent-turn column (lead
    role/tool, lag role/turn). :func:`turn_pair_triples` derives both
    turn-pair predicates from a single projection of this frame; a
    consumer that selected a different column subset per predicate would
    let column pruning split it into one window (and one transcripts
    scan and exchange) per subset."""
    w = _conv_window()
    return transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        F.lead("role").over(w).alias("next_role"),
        F.lead("tool").over(w).alias("next_tool"),
        F.lag("role").over(w).alias("prev_role"),
        F.lag("turn_idx").over(w).alias("prev_idx"),
    )


def turn_pair_triples(transcripts: DataFrame) -> DataFrame:
    """``uses_tool`` and ``replies_to`` triples from one pass over
    :func:`adjacent_turns`: each turn yields up to two triples through
    ``explode(array(uses, replies))``, a null struct standing for a
    predicate that does not hold and filtered out after the explode
    (``array_compact`` would plan as a lambda ``filter``, which has no
    generated code)."""
    assistant = F.col("role") == "assistant"
    uses = F.when(
        assistant & (F.col("next_role") == "tool") & F.col("next_tool").isNotNull(),
        F.struct(
            F.lit("uses_tool").alias("pred"),
            F.concat(F.lit("tool:"), F.col("next_tool")).alias("obj"),
        ),
    )
    replies = F.when(
        assistant & (F.col("prev_role") == "user"),
        F.struct(F.lit("replies_to").alias("pred"), _turn_id("prev_idx").alias("obj")),
    )
    return (
        adjacent_turns(transcripts)
        .select(
            _turn_id().alias("subj"),
            "conv_id",
            "turn_idx",
            F.explode(F.array(uses, replies)).alias("t"),
        )
        .filter(F.col("t").isNotNull())
        .select("subj", "t.pred", "t.obj", "conv_id", "turn_idx")
    )


def alias_triples(entity_map: DataFrame) -> DataFrame:
    """term -alias_of-> canonical entity (from canonicalization)."""
    return entity_map.filter(F.col("term_id") != F.col("entity_id")).select(
        F.col("term_id").alias("subj"),
        F.lit("alias_of").alias("pred"),
        F.col("entity_id").alias("obj"),
        F.lit(None).cast("string").alias("conv_id"),
        F.lit(None).cast("int").alias("turn_idx"),
    )


def all_triples(
    transcripts: DataFrame, mentions: DataFrame, entity_map: DataFrame | None = None
) -> DataFrame:
    parts = [turn_pair_triples(transcripts), turn_entity_triples(mentions, entity_map)]
    if entity_map is not None:
        parts.append(alias_triples(entity_map))
    return functools.reduce(DataFrame.unionByName, parts)
