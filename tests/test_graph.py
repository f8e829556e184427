"""Canonicalization CC, predicate triples, and skew-safe graph builds."""

from __future__ import annotations

import functools

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_extractor_spark.operators.canonicalize import (
    alias_edges,
    canonical_entities,
    connected_components,
)
from entity_extractor_spark.operators.graph import build_edges, build_nodes
from entity_extractor_spark.operators.mentions import extract_mentions
from entity_extractor_spark.operators.predicates import (
    all_triples,
    turn_entity_triples,
    turn_pair_triples,
)
from entity_extractor_spark.synth import SynthConfig, make_gazetteer, make_transcripts, to_spark


def test_connected_components_chain_and_star(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("x", "z"), ("q", "q")],
        "src string, dst string",
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x", "z": "x", "q": "q"}


def test_canonical_entities_groups_variants(spark):
    gaz = spark.createDataFrame(
        pd.DataFrame(
            {
                "term_id": ["t1", "t2", "t3"],
                "title": ["Zorplex: a tool", "ZORPLEX-2: same family", "Quantix: other"],
                "aliases": [["zorplex", "ZORPLEX"], ["Zorplex"], ["QUANTIX"]],
            }
        )
    )
    m = {r["term_id"]: r["entity_id"] for r in canonical_entities(gaz).collect()}
    # t1 and t2 share the alias surface "zorplex" -> same component; t3 separate
    assert m["t1"] == m["t2"]
    assert m["t3"] != m["t1"]


# Surfaces from a small alphabet so canonicals and aliases collide and
# chain terms together; spaces, tabs and newlines at both ends, inside,
# and next to the colon, several or leading colons, case variants, and
# aliases that spell a ``term:`` node. Letters are limited to ones whose
# lowercase is the same in Java and Python.
_surface = st.one_of(
    st.text(alphabet=" \t\naAbB:Ää-", max_size=7),
    st.sampled_from(
        ["", " ", ":", " a : b", "A", "a", "a:", "\ta\n", "a\t:b", "B \n:", " a:", "term:t1"]
    ),
)
_gazetteer = st.lists(
    st.tuples(
        st.one_of(st.none(), st.sampled_from(["t0", "t1", "t2", "t3", "t4"])),
        st.one_of(st.none(), _surface),
        st.one_of(st.none(), st.lists(st.one_of(st.none(), _surface), max_size=4)),
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=8, deadline=None)
@given(batch=st.lists(_gazetteer, min_size=10, max_size=30))
def test_canonical_entities_matches_spark_components(spark, batch):
    """The driver union-find equals the distributed reference: Spark
    connected components over ``alias_edges``, restricted to term nodes.

    One reference run checks the whole batch: gazetteer ``k``'s nodes are
    prefixed ``k|``, which keeps its components apart from the others'
    and leaves the order of nodes inside a component unchanged."""
    pdfs = [pd.DataFrame(rows, columns=["term_id", "title", "aliases"]) for rows in batch]
    edges = [
        alias_edges(
            spark.createDataFrame(pdf, "term_id string, title string, aliases array<string>")
        ).select(*(F.concat(F.lit(f"{k}|"), F.col(c)).alias(c) for c in ("src", "dst")))
        for k, pdf in enumerate(pdfs)
    ]
    want: dict[int, list] = {k: [] for k in range(len(pdfs))}
    for r in connected_components(functools.reduce(DataFrame.union, edges)).collect():
        k, node = r["node"].split("|", 1)
        if node.startswith("term:"):
            want[int(k)].append((node[5:], r["component"].split("|", 1)[1]))
    for k, pdf in enumerate(pdfs):
        got = sorted(tuple(r) for r in canonical_entities(pdf).collect())
        assert got == sorted(want[k]), batch[k]


def test_predicate_triples(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1"] * 4,
            "turn_idx": pd.array([0, 1, 2, 3], dtype="int32"),
            "role": ["user", "assistant", "tool", "assistant"],
            "text": ["hi", "let me check", "result", "done"],
            "tool": [None, None, "search", None],
            "ts": pd.to_datetime(["2026-01-01"] * 4),
        }
    )
    t = to_spark(spark, pdf)
    pairs = turn_pair_triples(t)
    uses = pairs.filter(F.col("pred") == "uses_tool").collect()
    assert len(uses) == 1 and uses[0]["subj"] == "c1:1" and uses[0]["obj"] == "tool:search"
    replies = {(r["subj"], r["obj"]) for r in pairs.filter(F.col("pred") == "replies_to").collect()}
    assert replies == {("c1:1", "c1:0")}


def test_co_mentions_and_all_triples(spark):
    cfg = SynthConfig(seed=11, n_terms=10, n_convs=15, hot_conv_factor=5)
    gaz = make_gazetteer(cfg)
    tr = to_spark(spark, make_transcripts(cfg, gaz))
    mentions = extract_mentions(tr, gaz)
    gaz_df = to_spark(spark, gaz, gaz=True)
    emap = canonical_entities(gaz_df)
    triples = all_triples(tr, mentions, emap)
    preds = {r["pred"] for r in triples.select("pred").distinct().collect()}
    assert {"mentions", "uses_tool", "replies_to", "co_mentions"} <= preds
    co = turn_entity_triples(mentions, emap).filter(F.col("pred") == "co_mentions")
    bad = co.filter(F.col("subj") >= F.col("obj")).count()
    assert bad == 0  # unordered pair canonical form


def test_co_mention_pairs_exact(spark):
    """Grouped pair expansion: exact pair set, i<j ordering, and
    entity-map collapse (two terms -> one entity yields no self-pair)."""
    m = spark.createDataFrame(
        [("c1", 0, "A"), ("c1", 0, "B"), ("c1", 0, "C"), ("c1", 1, "A"), ("c2", 0, "B")],
        "conv_id string, turn_idx int, term_id string",
    )
    co_mentions = F.col("pred") == "co_mentions"
    got = {
        (r["subj"], r["obj"], r["conv_id"], r["turn_idx"])
        for r in turn_entity_triples(m).filter(co_mentions).collect()
    }
    assert got == {("A", "B", "c1", 0), ("A", "C", "c1", 0), ("B", "C", "c1", 0)}
    emap = spark.createDataFrame(
        [("B", "X"), ("C", "X")], "term_id string, entity_id string"
    )
    got2 = {
        (r["subj"], r["obj"]) for r in turn_entity_triples(m, emap).filter(co_mentions).collect()
    }
    assert got2 == {("A", "X")}


def test_build_nodes_and_edges(spark):
    cfg = SynthConfig(seed=13, n_terms=8, n_convs=10, hot_conv_factor=3)
    gaz = make_gazetteer(cfg)
    tr = to_spark(spark, make_transcripts(cfg, gaz))
    mentions = extract_mentions(tr, gaz)
    triples = all_triples(tr, mentions)
    edges = build_edges(triples)
    nodes = build_nodes(triples)
    assert edges.filter(F.col("weight") < 1).count() == 0
    kinds = {r["kind"] for r in nodes.select("kind").distinct().collect()}
    assert "turn" in kinds and "entity" in kinds
    # every edge endpoint is a node
    n_ids = nodes.select(F.col("node_id").alias("x"))
    dangling = (
        edges.select(F.col("src").alias("x"))
        .union(edges.select(F.col("dst").alias("x")))
        .distinct()
        .join(n_ids, "x", "left_anti")
        .count()
    )
    assert dangling == 0


def _node_kinds(tp: pd.DataFrame) -> dict[str, str]:
    """Each node's kind from where it sits in the triples: turns are the
    subj of mentions/uses_tool/replies_to or the obj of replies_to,
    tools the obj of uses_tool, everything else an entity."""
    turn_subj = tp["pred"].isin(["mentions", "uses_tool", "replies_to"])
    turns = set(tp.loc[turn_subj, "subj"]) | set(tp.loc[tp["pred"] == "replies_to", "obj"])
    tools = set(tp.loc[tp["pred"] == "uses_tool", "obj"])
    return {
        n: "turn" if n in turns else "tool" if n in tools else "entity"
        for n in set(tp["subj"]) | set(tp["obj"])
    }


def test_build_nodes_from_edges_identical(spark):
    """The node table equals a pandas computation from the collected
    triples: one node per distinct subj/obj, its kind, and its
    mention_count = the number of ``mentions`` triples pointing at it.
    The entity map folds the 8 terms into 3 entities, so some turns
    mention one entity through two terms (edge weight > 1): the count
    the edge table would have summed as a weight."""
    cfg = SynthConfig(seed=13, n_terms=8, n_convs=10, hot_conv_factor=3)
    gaz = make_gazetteer(cfg)
    tr = to_spark(spark, make_transcripts(cfg, gaz))
    emap = spark.createDataFrame(
        [(t, f"e{i % 3}") for i, t in enumerate(gaz["term_id"])], "term_id string, entity_id string"
    )
    triples = all_triples(tr, extract_mentions(tr, gaz), emap).cache()
    tp = triples.toPandas()
    counts = tp[tp["pred"] == "mentions"].groupby("obj").size()
    want = sorted((n, k, int(counts.get(n, 0))) for n, k in _node_kinds(tp).items())
    edges = build_edges(triples)
    got = sorted(map(tuple, build_nodes(triples).collect()))
    assert edges.filter((F.col("pred") == "mentions") & (F.col("weight") > 1)).count() > 0
    triples.unpersist()
    assert got == want
    assert {k for _, k, _ in got} == {"tool", "turn", "entity"}


def test_alias_terms_in_one_turn_known_answer(spark):
    """Two alias terms A, B of entity X in one turn: the turn mentions X
    twice (mention_count 2 from that turn) and X never co-mentions
    itself; a repeated mention of one term counts once per turn."""
    tr = to_spark(
        spark,
        pd.DataFrame(
            {
                "conv_id": ["conv-1"] * 3,
                "turn_idx": pd.array([0, 1, 2], dtype="int32"),
                "role": ["user", "assistant", "user"],
                "text": ["a b", "c", "a d"],
                "tool": [None, None, None],
                "ts": pd.to_datetime(["2026-01-01"] * 3),
            }
        ),
    )
    m = spark.createDataFrame(
        [("conv-1", 0, "A"), ("conv-1", 0, "B"), ("conv-1", 0, "B"), ("conv-1", 1, "C"),
         ("conv-1", 2, "A"), ("conv-1", 2, "D")],
        "conv_id string, turn_idx int, term_id string",
    )
    emap = spark.createDataFrame(
        [("A", "X"), ("B", "X"), ("C", "C"), ("D", "D")], "term_id string, entity_id string"
    )
    triples = all_triples(tr, m, emap)
    got = sorted(tuple(r) for r in triples.select("subj", "pred", "obj").collect())
    assert got == sorted(
        [
            ("conv-1:0", "mentions", "X"),
            ("conv-1:0", "mentions", "X"),
            ("conv-1:1", "mentions", "C"),
            ("conv-1:2", "mentions", "X"),
            ("conv-1:2", "mentions", "D"),
            ("D", "co_mentions", "X"),
            ("conv-1:1", "replies_to", "conv-1:0"),
            ("A", "alias_of", "X"),
            ("B", "alias_of", "X"),
        ]
    )
    nodes = {
        r["node_id"]: (r["kind"], r["mention_count"])
        for r in build_nodes(triples).collect()
    }
    assert nodes == {
        "X": ("entity", 3), "C": ("entity", 1), "D": ("entity", 1),
        "A": ("entity", 0), "B": ("entity", 0),
        "conv-1:0": ("turn", 0), "conv-1:1": ("turn", 0), "conv-1:2": ("turn", 0),
    }


def test_node_kinds_do_not_depend_on_id_format(spark):
    """Node kinds come from triple positions, so conversation ids of any
    format type their turns: ``a1b2:0`` (a user turn only replied to) and
    ``a1b2:2`` (a tool turn that mentions an entity) are turns, the tool
    an assistant turn calls is a tool, and a term id shaped like a turn
    id is still an entity."""
    tr = to_spark(
        spark,
        pd.DataFrame(
            {
                "conv_id": ["a1b2"] * 3,
                "turn_idx": pd.array([0, 1, 2], dtype="int32"),
                "role": ["user", "assistant", "tool"],
                "text": ["hello", "a", "b"],
                "tool": [None, None, "grep"],
                "ts": pd.to_datetime(["2026-01-01"] * 3),
            }
        ),
    )
    m = spark.createDataFrame(
        [("a1b2", 1, "A"), ("a1b2", 2, "conv-9:9")],
        "conv_id string, turn_idx int, term_id string",
    )
    emap = spark.createDataFrame(
        [("A", "A"), ("conv-9:9", "conv-9:9")], "term_id string, entity_id string"
    )
    nodes = {
        r["node_id"]: (r["kind"], r["mention_count"])
        for r in build_nodes(all_triples(tr, m, emap)).collect()
    }
    assert nodes == {
        "a1b2:0": ("turn", 0), "a1b2:1": ("turn", 0), "a1b2:2": ("turn", 0),
        "tool:grep": ("tool", 0), "A": ("entity", 1), "conv-9:9": ("entity", 1),
    }


def test_connected_components_long_chain(spark):
    """Pointer jumping: a 300-node chain must converge well inside
    max_iter=25 (O(log n)), with every node labeled by the chain head —
    asserted STRUCTURALLY via the telemetry round count, so an
    O(diameter) regression fails the bound, not a wall-clock timeout."""
    tel: dict = {}
    edges = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i+1:04d}") for i in range(299)], "src string, dst string"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, telemetry=tel).collect()
    }
    assert len(got) == 300
    assert set(got.values()) == {"n0000"}
    assert tel["converged"]
    # one neighbor hop + one pointer jump per round: reach d_r = 2*d_{r-1}+1
    # = 2^r - 1, so a 299-edge chain needs ceil(log2(300+1)) = 9 rounds
    # (measured: 9); +1 slack. An O(diameter) regression would need ~300.
    assert tel["rounds"] <= 10, tel


def test_connected_components_skewed_component(spark):
    """Adversarial-scale CC fixture (round-3 VERDICT item 8): one skewed
    component holding 30% of all nodes (a hub-and-chains 'broom' — hot
    entity with many long alias chains), the rest small components.
    Asserts (a) exact result parity with a DuckDB recursive-CTE
    transitive-closure oracle and (b) the pointer-jumping round bound
    rounds <= ceil(log2(skew component size)) + 2 — guarding the one
    driver-side loop in the engine against an O(diameter) regression."""
    import math

    import duckdb

    edges_py: list[tuple[str, str]] = []
    # skewed component: hub + 50 chains x 30 nodes = 1501 nodes (30% of ~5000)
    for c in range(50):
        prev = "hub"
        for i in range(30):
            node = f"s{c:02d}x{i:02d}"
            edges_py.append((prev, node))
            prev = node
    # 1166 small 3-node components -> 3498 nodes
    for g in range(1166):
        edges_py.append((f"g{g:04d}a", f"g{g:04d}b"))
        edges_py.append((f"g{g:04d}b", f"g{g:04d}c"))
    edges = spark.createDataFrame(edges_py, "src string, dst string")

    tel: dict = {}
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, telemetry=tel).collect()
    }
    n_skew = 1 + 50 * 30
    assert len(got) == n_skew + 3 * 1166
    assert tel["converged"]
    assert tel["rounds"] <= math.ceil(math.log2(n_skew)) + 2, tel

    con = duckdb.connect()
    con.execute("CREATE TABLE e (a VARCHAR, b VARCHAR)")
    con.executemany("INSERT INTO e VALUES (?, ?)", edges_py)
    oracle = dict(
        con.execute(
            """
            WITH RECURSIVE sym AS (
              SELECT a, b FROM e UNION SELECT b, a FROM e
            ), reach(node, label) AS (
              SELECT a, a FROM sym
              UNION
              SELECT s.b, r.label FROM reach r JOIN sym s ON s.a = r.node
            )
            SELECT node, min(label) FROM reach GROUP BY node
            """
        ).fetchall()
    )
    assert got == oracle


def test_salted_collect_list_matches_plain(spark):
    from entity_extractor_spark.operators.graph import salted_collect_list

    rows = [("hot", i % 7) for i in range(3000)] + [(f"k{i}", i) for i in range(20)]
    df = spark.createDataFrame(rows, "k string, v int").repartition(8)
    got = {r["k"]: list(r["vs"]) for r in salted_collect_list(df, ["k"], "v").collect()}
    exp = {
        r["k"]: sorted(r["vs"])
        for r in df.groupBy("k").agg(F.collect_list("v").alias("vs")).collect()
    }
    assert got == exp
    # arrays come out sorted (the property that makes the merge associative)
    assert all(v == sorted(v) for v in got.values())


def test_fuzzy_alias_pairs_edit_classes(spark):
    """Deletion-neighborhood blocking finds all three ed-1 edit classes
    (deletion, insertion, substitution) and rejects ed-2."""
    from entity_extractor_spark.operators.canonicalize import fuzzy_alias_pairs

    names = spark.createDataFrame(
        [
            (1, "spark"),   # vs spark_ (insertion), spark->spak (deletion)
            (2, "spak"),    # deletion of 'r'
            (3, "sparks"),  # insertion of 's'
            (4, "snark"),   # substitution p->n... ed("spark","snark")=1
            (5, "zzzzz"),   # unrelated
            (6, "spark"),   # exact duplicate (ed 0)
        ],
        "id long, name string",
    )
    out = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_alias_pairs(names).collect()
    }
    assert out[(1, 2)] == 1  # deletion
    assert out[(1, 3)] == 1  # insertion
    assert out[(1, 4)] == 1  # substitution
    assert out[(1, 6)] == 0  # exact dup
    assert (2, 3) not in out  # ed("spak","sparks")=2
    assert not any(5 in k for k in out)
