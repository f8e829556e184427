"""Per-run correctness gate for the KG-job benchmark.

* Mention triples on a fixed sample of conversations must match the
  package's reference oracle (``oracle.oracle_extract``) after the same
  ``(conv_id, term_id, context)`` dedup the pipeline applies, with term
  ids mapped to canonical entities by an independent union-find over the
  gazetteer's alias edges.
* Every ``edges.weight`` is at least 1.
* The ``nodes`` ids equal the distinct ``src`` union ``dst`` of ``edges``.
"""

from __future__ import annotations

import pandas as pd
import pyarrow.dataset as ds
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SAMPLE_CONVS = 32


def sample_conv_ids(conv_ids: list[str], hot_conv: str) -> list[str]:
    """Every k-th conversation plus the hot one: fixed for a given input."""
    step = max(1, len(conv_ids) // SAMPLE_CONVS)
    return sorted(set(conv_ids[::step]) | {hot_conv})


def entity_map(gazetteer: pd.DataFrame) -> dict[str, str]:
    """term_id -> smallest node of its alias component.

    Nodes are lowercased canonical names, lowercased aliases and
    ``term:<id>``; edges link each alias and each ``term:<id>`` to the
    term's canonical (pre-colon) name.
    """
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for row in gazetteer.itertuples(index=False):
        title = row.title
        canonical = (title.split(":")[0].strip() if ":" in title else title).lower()
        union(f"term:{row.term_id}", canonical)
        for alias in row.aliases:
            alias = alias.strip().lower()
            if alias:
                union(canonical, alias)
    return {tid: find(f"term:{tid}") for tid in gazetteer["term_id"]}


def expected_mention_triples(
    transcripts_dir: str, gazetteer: pd.DataFrame, convs: list[str]
) -> pd.DataFrame:
    from entity_extractor_spark.oracle import oracle_extract

    turns = (
        ds.dataset(transcripts_dir, format="parquet")
        .to_table(
            columns=["conv_id", "turn_idx", "role", "text"],
            filter=ds.field("conv_id").isin(convs),
        )
        .to_pandas()
    )
    rows = oracle_extract(turns, gazetteer)
    first = rows.sort_values(
        ["conv_id", "term_id", "context", "turn_idx", "start", "end", "match_location"]
    ).drop_duplicates(["conv_id", "term_id", "context"])
    emap = entity_map(gazetteer)
    return pd.DataFrame(
        {
            "subj": first["conv_id"] + ":" + first["turn_idx"].astype(str),
            "obj": first["term_id"].map(emap),
        }
    ).drop_duplicates()


def triple_pr(triples: DataFrame, expected: pd.DataFrame, convs: list[str]) -> tuple[float, float]:
    from entity_extractor_spark.oracle import precision_recall

    got = (
        triples.filter((F.col("pred") == "mentions") & F.col("conv_id").isin(convs))
        .select("subj", "obj")
        .toPandas()
    )
    return precision_recall(got, expected, ["subj", "obj"])


def graph_invariants(edges: DataFrame, nodes: DataFrame) -> tuple[list[str], tuple[int, int]]:
    """Names of the violated invariants (empty when all hold), and the
    (nodes, edges) row counts. Both tables are small enough to check on
    the driver in one read each."""
    e = edges.select("src", "dst", "weight").toPandas()
    node_ids = nodes.select("node_id").toPandas()["node_id"]
    bad = []
    if (e["weight"] < 1).any():
        bad.append("edges.weight >= 1")
    if node_ids.duplicated().any() or set(node_ids) != set(e["src"]) | set(e["dst"]):
        bad.append("nodes == distinct(src | dst)")
    return bad, (len(node_ids), len(e))
