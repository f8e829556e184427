"""Graph materialization: triples -> node/edge tables, skew-safe.

FIXTURES.md §5 shapes. The pipeline's edge and node tables are plain
``groupBy`` counts and sums: both map-side-combine, so a hot entity (one
in ~30% of turns) reaches its reducer as at most one partial row per map
task, and one exchange suffices.

Explicit hot-key salting (SURVEY R6 / north rule) is kept for the
aggregates map-side combine does not save: :func:`salted_collect_list`
computes a ``collect_list`` in two stages, partials over ``(key, salt)``
then a final merge over ``key``, and is the pattern to copy for other
non-associative aggregates. The ``graph_edges`` and ``graph_degree``
contract keys run :func:`build_edges`, the pipeline's own edge code.
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


def salted_collect_list(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Two-stage skew-safe collect for a NON-associative aggregate.

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
    """edges(src, dst, pred, weight): one ``groupBy(src, dst, pred)``
    count. A count map-side-combines, so a hot key reaches its reducer as
    at most one partial row per map task: one exchange, no salt round.
    The count is a sum of ones, so ``weight`` stays a nullable long like
    the table's stored schema."""
    return triples.groupBy(
        F.col("subj").alias("src"), F.col("obj").alias("dst"), "pred"
    ).agg(F.sum(F.lit(1)).alias("weight"))


def build_nodes(triples: DataFrame) -> DataFrame:
    """nodes(node_id, kind, mention_count) from the (subj, pred, obj)
    triple table. A node's name is its id, stored once.

    kind comes from where the node sits in its triples, not from the
    shape of its id: a turn is the subj of ``mentions``, ``uses_tool`` or
    ``replies_to`` or the obj of ``replies_to``, a tool is the obj of
    ``uses_tool``, and every other node is an entity. Each end carries a
    kind code (entity 0, tool 1, turn 2) and a node takes the largest
    code any of its triples gives it, so kind is an aggregate and each
    node keeps one row.

    One ``groupBy(node_id)`` over both ends of each triple gives the node
    universe and, since a ``mentions`` triple adds 1 to its obj, each
    node's mention count: the same table as a sum over the edge table's
    weights (a ``mentions`` edge's weight is its triple count), without
    waiting for the edges. One exchange, no distinct + count + join; the
    sum and max map-side-combine, so a hot entity's partial rows stay one
    per input partition.
    """
    pred = F.col("pred")
    zero = F.lit(0).cast("long")
    mentioned = (pred == "mentions").cast("long")
    subj_kind = F.when(pred.isin("mentions", "uses_tool", "replies_to"), 2).otherwise(0)
    obj_kind = F.when(pred == "replies_to", 2).when(pred == "uses_tool", 1).otherwise(0)
    ends = triples.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("subj").alias("node_id"), zero.alias("n"), subj_kind.alias("k")
                ),
                F.struct(
                    F.col("obj").alias("node_id"), mentioned.alias("n"), obj_kind.alias("k")
                ),
            )
        ).alias("e")
    )
    code = F.col("kind_code")
    kind = F.when(code == 2, "turn").when(code == 1, "tool").otherwise("entity")
    return (
        ends.groupBy(F.col("e.node_id").alias("node_id"))
        .agg(F.sum("e.n").alias("mention_count"), F.max("e.k").alias("kind_code"))
        .select(
            "node_id",
            kind.alias("kind"),
            # a sum is nullable; the stored nodes schema is not
            F.coalesce("mention_count", F.lit(0)).cast("long").alias("mention_count"),
        )
    )
