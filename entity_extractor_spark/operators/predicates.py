"""Relation-triple extraction over role/tool-tagged adjacent turns (W4).

The reference has no cross-section relations; the north rule adds
dependency-pattern predicates over consecutive turns — the transcript
generalization of the reference's ±100-word context window
(`extraction_engine.py:69-92`) across turn boundaries.

All predicates are pure window/join plans:

* ``mentions``   — (turn, entity) from the mention table (dedup A8);
* ``uses_tool``  — assistant turn immediately followed by a tool turn
                   (lead over (conv_id) ordered by turn_idx);
* ``replies_to`` — assistant turn immediately after a user turn (lag);
* ``co_mentions``— unordered entity pair mentioned in the same turn
                   (self-join on (conv_id, turn_idx), src < dst).

The window partitioning key is conv_id — the same key the transcript
table is bucketed by, so at scale these windows sort within partitions
without a full shuffle (`sortWithinPartitions` locality, SURVEY O1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TRIPLE_COLS = ["subj", "pred", "obj", "conv_id", "turn_idx"]


def _conv_window() -> Window:
    return Window.partitionBy("conv_id").orderBy("turn_idx")


def _turn_entities(mentions: DataFrame, entity_map: DataFrame | None) -> DataFrame:
    """Distinct (conv_id, turn_idx, eid): ``eid`` is the term id,
    canonicalized if a (term_id, entity_id) map is supplied (broadcast —
    it is tiny)."""
    m = mentions.select("conv_id", "turn_idx", "term_id").dropDuplicates(
        ["conv_id", "turn_idx", "term_id"]
    )
    if entity_map is None:
        return m.withColumnRenamed("term_id", "eid")
    return m.join(F.broadcast(entity_map), "term_id", "left").select(
        "conv_id", "turn_idx", F.coalesce("entity_id", "term_id").alias("eid")
    )


def mention_triples(mentions: DataFrame, entity_map: DataFrame | None = None) -> DataFrame:
    """(conv:turn) -mentions-> entity, one row per distinct turn entity."""
    return _turn_entities(mentions, entity_map).select(
        F.concat_ws(":", "conv_id", "turn_idx").alias("subj"),
        F.lit("mentions").alias("pred"),
        F.col("eid").alias("obj"),
        "conv_id",
        "turn_idx",
    )


def adjacent_turns(transcripts: DataFrame) -> DataFrame:
    """ONE window pass computing every adjacent-turn column (lead role/
    tool, lag role/turn). All predicate extractors filter from this frame,
    so the conv_id sort+exchange happens once no matter how many
    predicates are derived (Catalyst reuses the shared subplan)."""
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


def uses_tool_triples(transcripts: DataFrame, adjacent: DataFrame | None = None) -> DataFrame:
    t = adjacent if adjacent is not None else adjacent_turns(transcripts)
    return t.filter(
        (F.col("role") == "assistant") & (F.col("next_role") == "tool") & F.col("next_tool").isNotNull()
    ).select(
        F.concat_ws(":", "conv_id", "turn_idx").alias("subj"),
        F.lit("uses_tool").alias("pred"),
        F.concat(F.lit("tool:"), F.col("next_tool")).alias("obj"),
        "conv_id",
        "turn_idx",
    )


def replies_to_triples(transcripts: DataFrame, adjacent: DataFrame | None = None) -> DataFrame:
    t = adjacent if adjacent is not None else adjacent_turns(transcripts)
    return t.filter((F.col("role") == "assistant") & (F.col("prev_role") == "user")).select(
        F.concat_ws(":", "conv_id", "turn_idx").alias("subj"),
        F.lit("replies_to").alias("pred"),
        F.concat_ws(":", "conv_id", "prev_idx").alias("obj"),
        "conv_id",
        "turn_idx",
    )


def co_mention_triples(mentions: DataFrame, entity_map: DataFrame | None = None) -> DataFrame:
    """Unordered same-turn entity pairs (subj < obj).

    Implemented as ``groupBy(conv, turn).collect_set`` + in-codegen pair
    expansion rather than a self-join on (conv_id, turn_idx): each
    mention row then crosses ONE exchange (the groupBy) instead of two
    (both join sides shuffle), and the per-turn entity set is bounded by
    gazetteer hits per turn, so the collected arrays stay small even on
    hot conversations. Measured on 762k mentions at local[32]: 2.7 s vs
    3.1 s for the equivalent self-join with identical output; at corpus
    scale the halved shuffle volume is the dominant term. The i < j
    canonical ordering falls out of ``array_sort``.
    """
    per_turn = _turn_entities(mentions, entity_map).groupBy("conv_id", "turn_idx").agg(
        F.array_sort(F.collect_set("eid")).alias("eids")
    )
    pairs = F.expr(
        "flatten(transform(eids, (x, i) -> "
        "transform(slice(eids, i + 2, size(eids)), y -> struct(x AS e1, y AS e2))))"
    )
    return per_turn.select("conv_id", "turn_idx", F.explode(pairs).alias("p")).select(
        F.col("p.e1").alias("subj"),
        F.lit("co_mentions").alias("pred"),
        F.col("p.e2").alias("obj"),
        "conv_id",
        "turn_idx",
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
    adjacent = adjacent_turns(transcripts)
    parts = [
        mention_triples(mentions, entity_map),
        uses_tool_triples(transcripts, adjacent),
        replies_to_triples(transcripts, adjacent),
        co_mention_triples(mentions, entity_map),
    ]
    if entity_map is not None:
        parts.append(alias_triples(entity_map))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
