"""Graph materialization: triples -> node/edge tables, skew-safe.

FIXTURES.md §5 shapes. The aggregation paths use *explicit hot-key
salting* (SURVEY R6 / north rule): a groupBy on ``obj`` is exposed to
entity skew (one hot entity in ~30% of turns), so counts are computed in
two stages — partial counts over ``(key, salt)`` then a final merge over
``key``. Spark's partial aggregation already map-side-combines, but the
salted form also protects the FINAL aggregate when a single key's partial
rows exceed one reducer's share (the 10^12-turn case), and it is the
pattern a reviewer should copy for non-associative aggs (collect_list
etc.) where map-side combine does not save you.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT_BUCKETS = 16


def _salt():
    """Retry-deterministic salt: the physical partition index mod
    ``DEFAULT_SALT_BUCKETS``.

    ``spark_partition_id()`` is stable under task retries (a re-executed
    task recomputes the same partition), unlike
    ``hash(monotonically_increasing_id())`` whose values depend on the
    task attempt — which would be row-routing-unsafe for non-associative
    aggregates. A hot key's rows spread across however many input
    partitions hold them, which is exactly the skew being defused.
    """
    return F.pmod(F.spark_partition_id(), F.lit(DEFAULT_SALT_BUCKETS))


def salted_count(df: DataFrame, keys: list[str]) -> DataFrame:
    """Two-stage skew-safe count: groupBy(keys + salt) -> groupBy(keys).

    Plan: two partial/final HashAggregate pairs, each behind its own
    exchange. The salt bounds any one reducer's share of a hot key in
    the first pair; AQE may coalesce the small final stage."""
    salted = df.withColumn("_salt", _salt())
    partial = salted.groupBy(*keys, "_salt").agg(F.count(F.lit(1)).alias("_partial"))
    return partial.groupBy(*keys).agg(F.sum("_partial").alias("weight"))


def salted_collect_list(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Two-stage skew-safe collect for a NON-associative aggregate — the
    template the salted_count docstring promises.

    Map-side combine does not protect ``collect_list`` (partial lists
    still concentrate on the key's one reducer), so the partial stage
    collects per ``(keys, salt)`` and the final stage flattens the
    per-salt lists. The final array is ``array_sort``-ed, making the
    merge order-insensitive — the result is deterministic regardless of
    which salt routed which row, including across task retries.
    Output column: ``<value_col>s`` (sorted array).
    """
    salted = df.withColumn("_salt", _salt())
    partial = salted.groupBy(*keys, "_salt").agg(
        F.collect_list(value_col).alias("_part")
    )
    return partial.groupBy(*keys).agg(
        F.array_sort(F.flatten(F.collect_list("_part"))).alias(f"{value_col}s")
    )


def build_edges(triples: DataFrame) -> DataFrame:
    """edges(src, dst, pred, weight) — salted weight aggregation."""
    return salted_count(
        triples.select(F.col("subj").alias("src"), F.col("obj").alias("dst"), "pred"),
        ["src", "dst", "pred"],
    ).select("src", "dst", "pred", F.col("weight").cast("long").alias("weight"))


def build_nodes(edges: DataFrame) -> DataFrame:
    """nodes(node_id, kind, canonical_name, mention_count) from the
    (src, dst, pred, weight) table of :func:`build_edges`.

    kind is derived from the id shape: ``tool:*`` -> tool, ``conv-*:n``
    -> turn, ``conv-*`` -> conversation, else entity.

    Every triple's (subj, obj, pred) appears in edges with its
    occurrence count, so one ``groupBy(node_id)`` over both ends of each
    edge gives the node universe and, from the ``mentions`` edges' dst
    ends, each node's mention count: one exchange over the
    weight-compressed edge table, no distinct + count + join. The sum
    map-side-combines, so a hot entity's partial rows stay one per input
    partition.
    """
    zero = F.lit(0).cast("long")
    mentioned = F.when(F.col("pred") == "mentions", F.col("weight")).otherwise(zero)
    ends = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("node_id"), zero.alias("n")),
                F.struct(F.col("dst").alias("node_id"), mentioned.alias("n")),
            )
        ).alias("e")
    )
    kind = (
        F.when(F.col("node_id").startswith("tool:"), "tool")
        .when(F.col("node_id").rlike("^conv-[0-9]+:[0-9]+$"), "turn")
        .when(F.col("node_id").rlike("^conv-[0-9]+$"), "conversation")
        .otherwise("entity")
    )
    return (
        ends.groupBy(F.col("e.node_id").alias("node_id"))
        .agg(F.sum("e.n").alias("mention_count"))
        .select(
            "node_id",
            kind.alias("kind"),
            F.col("node_id").alias("canonical_name"),
            # a sum is nullable; the stored nodes schema is not
            F.coalesce("mention_count", F.lit(0)).cast("long").alias("mention_count"),
        )
    )
