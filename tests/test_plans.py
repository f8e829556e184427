"""Physical-plan regression guards: pruning, pushdown, broadcast,
shuffle counts. A change that silently de-optimizes a hot plan fails
here, not in a 100 TB run."""

from __future__ import annotations

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from entity_extractor_spark import plans as P

SF_DIR = "/root/testdata/sf0.001"


def test_mention_scan_prunes_and_shuffles_once(spark):
    """The raw scan reads ONLY (conv_id, turn_idx, role, text) and the
    full extract has exactly one shuffle, keyed on conv_id alone (the
    flag window reuses it)."""
    import re

    from entity_extractor_spark.operators.mentions import (
        build_matcher_from_gazetteer,
        extract_mentions,
        scan_mentions,
    )

    gaz = pd.DataFrame({"term_id": ["t1"], "title": ["Spark: engine"]})
    t = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
        "lang",  # extra column that must be pruned away
    )
    matcher, names = build_matcher_from_gazetteer(gaz)
    raw_plan = P.formatted_plan(scan_mentions(t, matcher, names))
    assert P.scan_columns_subset(scan_mentions(t, matcher, names), {"doc_id", "text"}), raw_plan
    assert P.count_exchanges(raw_plan) == 0, raw_plan

    full_plan = P.formatted_plan(extract_mentions(t, gaz))
    assert P.count_exchanges(full_plan) == 1, full_plan
    keys = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", full_plan)
    assert len(keys) == 1 and re.fullmatch(r"conv_id#\d+, \d+", keys[0]), full_plan


def test_pipeline_mention_stage_single_exchange(spark):
    """The pipeline's fused mention stage — conv_id repartition + flag
    window + deterministic dedup window — still has exactly ONE
    exchange: HashPartitioning(conv_id) satisfies both windows'
    ClusteredDistribution (partitioning keys are a subset of the
    clustering keys), so each window adds only a local sort. This is
    the guard for the former three-shuffle shape (flag window +
    dropDuplicates + storage repartition)."""
    from entity_extractor_spark.operators.mentions import dedup_mentions, extract_mentions

    gaz = pd.DataFrame({"term_id": ["t1"], "title": ["Spark: engine"]})
    t = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
    )
    staged = dedup_mentions(extract_mentions(t, gaz))
    plan = P.formatted_plan(staged)
    assert P.count_exchanges(plan) == 1, plan


def test_filter_pushdown_reaches_parquet(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = P.formatted_plan(q)
    pushed = P.pushed_filters(plan)
    assert any("GreaterThan(l_quantity" in f for f in pushed), plan
    assert P.scan_columns_subset(q, {"l_orderkey", "l_quantity"}), plan


def test_dim_join_is_broadcast(spark):
    import __spark_entry__ as e

    plan = P.formatted_plan(e.queries()["broadcast_join"](spark, SF_DIR))
    assert P.has_broadcast_hash_join(plan), plan


def test_semi_join_pruned_to_keys(spark):
    import __spark_entry__ as e

    q = e.queries()["semi_join"](spark, SF_DIR)
    plan = P.formatted_plan(q)
    # orders side must be pruned to the join key only
    assert ["o_custkey"] in P.read_schemas(plan), plan


def test_scoring_is_single_pass(spark):
    """score_candidates: one broadcast join, zero shuffles before agg."""
    from entity_extractor_spark.operators.mentions import extract_mentions
    from entity_extractor_spark.operators.scoring import score_candidates
    from entity_extractor_spark.synth import SynthConfig, make_gazetteer, make_transcripts, to_spark

    cfg = SynthConfig(seed=5, n_terms=8, n_convs=10)
    gaz = make_gazetteer(cfg)
    t = to_spark(spark, make_transcripts(cfg, gaz))
    m = extract_mentions(t, gaz)
    scored = score_candidates(m, to_spark(spark, gaz, gaz=True))
    plan = P.formatted_plan(scored)
    # only extract_mentions' conv_id exchange; the gazetteer
    # join must NOT add a shuffle
    assert P.count_exchanges(plan) == 1, plan


def test_scored_stage_is_a_jvm_projection(spark, tmp_path):
    """The pipeline's mention and scored stages: the mention scan computes
    ``similarity`` inside its one Python pass (no separate Python eval
    node); the mention stage's signal projection is whole-stage
    codegen'd and adds no exchange to the scan's one; and
    ``classify_columns`` over the parquet mention table is a
    whole-stage-codegen'd projection with no Python eval node and no
    exchange, reading only the span key, ``similarity`` and the
    signals."""
    import re

    from entity_extractor_spark.operators.mentions import extract_mentions
    from entity_extractor_spark.operators.scoring import classify_columns
    from entity_extractor_spark.pipeline import SCORED_COLS, SPAN_KEY, mention_table
    from entity_extractor_spark.synth import SynthConfig, make_gazetteer, make_transcripts, to_spark

    cfg = SynthConfig(seed=5, n_terms=8, n_convs=10)
    gaz = make_gazetteer(cfg)
    transcripts = to_spark(spark, make_transcripts(cfg, gaz))
    scan_plan = P.formatted_plan(extract_mentions(transcripts, gaz, similarity=True))
    assert "EvalPython" not in scan_plan and "MapInPandas" in scan_plan, scan_plan
    m = mention_table(transcripts, gaz, similarity=True)
    assert P.count_exchanges(P.formatted_plan(m)) == 1
    # codegen shows in AQE's final plan only: run the stage first
    m.collect()
    stage_plan = P.formatted_plan(m)
    assert "EvalPython" not in stage_plan, stage_plan
    assert re.search(
        r"\(\d+\) Project \[codegen id : \d+\]\nOutput \[\d+\]: \[[^\]]*\bheuristic_keywords#",
        stage_plan,
    ), stage_plan
    m.write.parquet(str(tmp_path / "mentions"))
    scored = classify_columns(spark.read.parquet(str(tmp_path / "mentions"))).select(*SCORED_COLS)
    plan = P.formatted_plan(scored)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert "Exchange" not in plan, plan
    # an interpreted expression (e.g. a higher-order function) drops its
    # Project out of codegen: the tree then shows "Project (n)", not "* Project (n)"
    assert not re.search(r"(?m)^[\s+\-:]*Project \(\d+\)", plan), plan
    read = re.findall(r"(\w+):", re.search(r"ReadSchema: (.*)", plan).group(1))
    assert read == SPAN_KEY + ["similarity", "heuristic_keywords", "ner_signal"], plan


def test_topk_uses_take_ordered(spark):
    import __spark_entry__ as e

    plan = P.formatted_plan(e.queries()["topk_groups"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_co_mentions_single_exchange_no_join(spark):
    """Grouped pair expansion: mention rows cross exactly ONE exchange
    (the per-turn groupBy); there must be no self-join in the plan."""
    from entity_extractor_spark.operators.predicates import turn_entity_triples

    m = spark.createDataFrame(
        [("c1", 0, "A"), ("c1", 0, "B")], "conv_id string, turn_idx int, term_id string"
    )
    plan = P.formatted_plan(turn_entity_triples(m).filter(F.col("pred") == "co_mentions"))
    assert P.count_exchanges(plan) == 1, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_all_triples_one_window_one_transcripts_scan(spark, tmp_path):
    """The triples build reads each input once: ONE Window (lead/lag for
    both turn-pair predicates) over ONE scan of the transcripts parquet,
    and one exchange per input (the conv_id window and the per-turn
    mention groupBy). The turn-pair Generate explodes a plain array: no
    lambda function, which would leave its input without generated
    code."""
    import re

    from entity_extractor_spark.operators.canonicalize import canonical_entities
    from entity_extractor_spark.operators.mentions import extract_mentions
    from entity_extractor_spark.operators.predicates import all_triples
    from entity_extractor_spark.synth import SynthConfig, make_gazetteer, make_transcripts, to_spark

    cfg = SynthConfig(seed=5, n_terms=8, n_convs=10)
    gaz = make_gazetteer(cfg)
    to_spark(spark, make_transcripts(cfg, gaz)).write.parquet(str(tmp_path / "transcripts"))
    t = spark.read.parquet(str(tmp_path / "transcripts"))
    extract_mentions(t, gaz).write.parquet(str(tmp_path / "mentions"))
    m = spark.read.parquet(str(tmp_path / "mentions"))
    plan = P.formatted_plan(all_triples(t, m, canonical_entities(gaz)))
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    scans = re.findall(r"Location: \w+ \[([^\]]*)\]", plan)
    assert sum("transcripts" in loc for loc in scans) == 1, plan
    assert P.count_exchanges(plan) == 2, plan
    generates = re.findall(r"(?m)^\(\d+\) Generate\n.*?(?=^\(\d+\) |\Z)", plan, re.S)
    turn_pair = [g for g in generates if "replies_to" in g]
    assert len(turn_pair) == 1 and "lambdafunction" not in turn_pair[0], plan


def test_scored_candidates_plan(spark):
    """Contract scoring query: gazetteer joins stay broadcast and the
    char-ngram kernel is ONE Arrow-batched Python stage (a decay to
    per-row BatchEvalPython fails here)."""
    from entity_extractor_spark.contract.relational import q_scored_candidates

    import re

    plan = P.formatted_plan(q_scored_candidates(spark, SF_DIR))
    assert P.has_broadcast_hash_join(plan), plan
    # exactly one ArrowEvalPython NODE (formatted plans print each node
    # twice: once in the tree, once in the detail section)
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan
    assert "BatchEvalPython" not in plan, plan
    # the 5-row term fan-out must be a BROADCAST nested-loop with the
    # instr() condition evaluated in-join — never a plain cartesian
    assert "CartesianProduct" not in plan, plan


def test_salted_collect_is_two_stage(spark):
    """salted_collect_list: partial aggregate over (keys, salt) then
    final merge over keys — two aggregate exchanges, no single-stage
    collect."""
    from entity_extractor_spark.operators.graph import salted_collect_list

    df = spark.createDataFrame([("k", 1)], "k string, v int")
    plan = P.formatted_plan(salted_collect_list(df, ["k"], "v"))
    assert P.count_exchanges(plan) == 2, plan


def test_brute_force_topk_broadcasts_queries(spark):
    """Exact top-k broadcasts the query side into a nested-loop join, so
    the corpus never shuffles: the one exchange is the rank window's
    hashpartitioning(query_id)."""
    from entity_extractor_spark.operators.simsearch import brute_force_topk

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 3)
    plan = P.formatted_plan(brute_force_topk(e, q))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert re.search(r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[query_id#", plan), plan
    assert P.count_exchanges(plan) == 1, plan
    assert re.search(r"Arguments: hashpartitioning\(query_id#\d+L?, \d+\)", plan), plan


def test_lsh_topk_no_cartesian(spark):
    """LSH ANN must join on bucket, never cross-join the corpus."""
    from entity_extractor_spark.operators.simsearch import lsh_topk

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 3)
    plan = P.formatted_plan(lsh_topk(e, q, dim=64))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_ivf_topk_no_cartesian_and_recall(spark):
    """IVF ANN joins on cell only; probing more cells can only improve
    recall vs 1-probe (monotonicity sanity on real embeddings)."""
    from entity_extractor_spark.operators.simsearch import brute_force_topk, ivf_topk

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    plan = P.formatted_plan(ivf_topk(e, q, dim=64))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan

    exact = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(e, q, k=5).collect()}
    got1 = {(r["query_id"], r["neighbor_id"]) for r in ivf_topk(e, q, dim=64, n_probe=1).collect()}
    got4 = {(r["query_id"], r["neighbor_id"]) for r in ivf_topk(e, q, dim=64, n_probe=4).collect()}
    r1 = len(got1 & exact) / len(exact)
    r4 = len(got4 & exact) / len(exact)
    assert r4 >= r1  # recall monotone in n_probe
    assert r4 > 0  # probing 1/4 of the cells finds real neighbors


def test_contamination_broadcasts_benchmark_side(spark):
    """The eval-suite shingle set must broadcast; the training corpus is
    never shuffled for the shingle join (only the per-doc hit agg)."""
    from entity_extractor_spark.operators.decontam import contamination_report

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = P.formatted_plan(
        contamination_report(d.filter(F.col("doc_id") >= 5), d.filter(F.col("doc_id") < 5))
    )
    assert P.has_broadcast_hash_join(plan), plan
    assert not P.has_sort_merge_join(plan), plan


def test_triangle_counts_no_cartesian(spark):
    """Wedge enumeration and closure are equi joins on node keys — a
    cartesian/BNLJ here would explode on any real graph."""
    from entity_extractor_spark.operators.graph_algos import triangle_counts

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")], "i string, j string"
    )
    plan = P.formatted_plan(triangle_counts(e, checkpoint=False))
    assert "CartesianProduct" not in plan, plan


def test_khop_frontier_joins_no_cartesian(spark):
    """Every hop is an equi join (frontier x edges) plus a left-anti
    join (vs visited), both keyed on the node id — a cartesian/BNLJ in
    the expansion would touch the full edge set per frontier row."""
    from entity_extractor_spark.operators.graph_algos import khop_neighbors

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")], "i string, j string"
    )
    plan = P.formatted_plan(khop_neighbors(e, ["a"], k=2, checkpoint=False))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_link_prediction_no_cartesian_and_broadcast_marginals(spark):
    """The wedge join is an equi self-join on the shared-neighbor key and
    the degree marginals are broadcast onto the pair counts — a
    cartesian/BNLJ or a shuffled marginal join would not survive a
    power-law graph."""
    from entity_extractor_spark.operators.graph_algos import link_prediction

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")], "i string, j string"
    )
    plan = P.formatted_plan(link_prediction(e, max_center_degree=8, checkpoint=False))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert P.has_broadcast_hash_join(plan), plan


def test_indexed_search_reads_postings_not_full_text(spark):
    """The index access path must filter the posting table on the query's
    grams BEFORE any aggregation (pushed to the posting scan) and attach
    candidates via a semi join — never a cartesian."""
    from entity_extractor_spark.operators.search import (
        build_gram_postings,
        indexed_substring_search,
    )

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = P.formatted_plan(indexed_substring_search(d, "hash join", postings=build_gram_postings(d)))
    assert "CartesianProduct" not in plan, plan
    assert "LeftSemi" in plan, plan
    assert "gram" in plan and "isnotnull" in plan.lower(), plan


def test_fuzzy_pairs_blocked_join_no_cartesian(spark):
    """The deletion-neighborhood join must be an equi join on the
    variant key — the entire point of the blocking is avoiding the
    O(n²) cartesian levenshtein scan the oracle runs."""
    from entity_extractor_spark.operators.canonicalize import fuzzy_alias_pairs

    c = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    plan = P.formatted_plan(fuzzy_alias_pairs(c))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_wav_codec_chain_never_shuffles_payload(spark):
    """The encode -> decode codec chain is two fused MapInPandas stages
    over the scan — ZERO exchanges, so the binary payload never transits
    a shuffle (the rule that keeps shuffle volume sane when payload >>
    metadata)."""
    from entity_extractor_spark.operators.multimodal import decode_wav, wav_payloads

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    plan = P.formatted_plan(decode_wav(wav_payloads(d)))
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_bmp_codec_chain_never_shuffles_payload(spark):
    """Same discipline as the WAV chain: encode -> decode is fused
    MapInPandas stages over the scan, zero exchanges — the BMP payload
    never transits a shuffle."""
    from entity_extractor_spark.operators.multimodal import bmp_payloads, decode_bmp

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    plan = P.formatted_plan(decode_bmp(bmp_payloads(d)))
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_avi_codec_chain_never_shuffles_payload(spark):
    """Same discipline as the WAV/BMP chains: encode -> decode (and the
    per-frame fan-out) are fused MapInPandas stages over the scan, zero
    exchanges — the AVI payload never transits a shuffle."""
    from entity_extractor_spark.operators.multimodal import (
        avi_payloads,
        decode_avi,
        sample_avi_frames,
    )

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    plan = P.formatted_plan(decode_avi(avi_payloads(d)))
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan, plan
    plan2 = P.formatted_plan(sample_avi_frames(avi_payloads(d)))
    assert "Exchange" not in plan2, plan2


def test_kmv_sketch_only_single_bounded_exchange(spark):
    """The scale-shaped KMV plan (round-3 verdict item 5): a MapInPandas
    partial stage (<= k+1 rows per partition-group) followed by exactly
    ONE exchange for the merge groupBy — and, unlike kmv_distinct's
    verification twin, NO window rank over the full distinct-hash set."""
    from pyspark.sql import functions as F

    from entity_extractor_spark.operators.sketches import kmv_sketch_only

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = kmv_sketch_only(d.select("lang", F.col("text").alias("val")), "lang", "val")
    plan = P.formatted_plan(df)
    assert "MapInPandas" in plan, plan
    n_exchanges = sum(
        1
        for line in plan.splitlines()
        if line.strip().startswith("(") and "Exchange" in line
    )
    assert n_exchanges == 1, plan
    assert "Window" not in plan, plan


def test_heavy_hitters_recount_broadcasts_candidates(spark):
    """The exact recount must hash-join the exploded token stream against
    the BROADCAST candidate set (<= ceil(1/support) tokens per partition);
    a sort-merge join here would shuffle the full token stream by token —
    exactly the full-vocabulary exchange the Misra-Gries pass exists to
    avoid."""
    from entity_extractor_spark.operators.sketches import heavy_hitters

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = P.formatted_plan(heavy_hitters(d, support=0.05))
    assert P.has_broadcast_hash_join(plan), plan
    assert not P.has_sort_merge_join(plan), plan
    assert "CartesianProduct" not in plan, plan


def test_dup_clusters_pair_graph_no_cartesian(spark):
    """Cluster resolution inherits the LSH banded equi self-join: the
    final assignment join plus the bucket join must never degrade to a
    cartesian/BNLJ over documents."""
    from entity_extractor_spark.operators.dedup import dup_clusters

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = P.formatted_plan(dup_clusters(d, threshold=0.8))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_repetition_signals_gram_aggs_are_partial(spark):
    """Both n-gram multiplicity aggs key on (doc_id, gram) — partial
    HashAggregate before the exchange so intra-doc repeats combine
    map-side; no window over the whole corpus."""
    from entity_extractor_spark.operators.textstats import repetition_signals

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = P.formatted_plan(repetition_signals(d))
    assert "HashAggregate" in plan, plan
    assert "Window" not in plan, plan


def test_quantile_merge_single_bounded_exchange(spark):
    """The scale-shaped quantile plan mirrors kmv_sketch_only: a
    MapInPandas partial stage (<= k rows per partition-group) followed by
    exactly ONE exchange for the merge groupBy — no window rank and no
    full per-group value sort (those live only in the verification
    twin)."""
    from pyspark.sql import functions as F

    from entity_extractor_spark.operators.sketches import quantile_sketch_merged

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = quantile_sketch_merged(d, "lang", F.length(F.col("text")), "doc_id")
    plan = P.formatted_plan(df)
    assert "MapInPandas" in plan, plan
    assert P.count_exchanges(plan) == 1, plan
    assert "Window" not in plan, plan


def test_weighted_sample_single_bounded_exchange(spark):
    """The A-Res reservoir is the same bounded two-phase shape: priority
    computed JVM-side feeding a MapInPandas partial reservoir (<= k rows
    per partition-group), ONE merge exchange, no window rank (the naive
    window form exists only as the oracle SQL)."""
    from pyspark.sql import functions as F

    from entity_extractor_spark.operators.sampling import weighted_sample

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = weighted_sample(d, "lang", "doc_id", F.length(F.col("text")))
    plan = P.formatted_plan(df)
    assert "MapInPandas" in plan, plan
    assert P.count_exchanges(plan) == 1, plan
    assert "Window" not in plan, plan
    # the md5-derived priority is computed before the kernel inside
    # codegen (the _wrs_base select precedes mapInPandas); no
    # row-at-a-time Python evaluation anywhere in the plan
    assert "BatchEvalPython" not in plan, plan


def test_contamination_bloom_probe_is_vectorized_prefilter(spark):
    """The Bloom probe must run as an Arrow-vectorized filter on the
    train side (no per-row Python UDF, no cartesian), and the train scan
    must read only (doc_id, text)."""
    from entity_extractor_spark.operators.decontam import contamination_report_bloom

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = d.filter(F.col("doc_id") < 5)
    train = d.filter(F.col("doc_id") >= 5)
    plan = P.formatted_plan(contamination_report_bloom(train, bench, n=4))
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan  # row-at-a-time Python path
    assert "CartesianProduct" not in plan, plan
    for cols in P.read_schemas(plan):
        assert set(cols) <= {"doc_id", "text"}, plan


def test_prefix_jaccard_candidate_join_is_equi_on_shingle(spark):
    """AllPairs/PPJoin candidate generation must stay an EQUI join on
    the prefix shingle (posting-list intersection) — never a cartesian
    or broadcast nested-loop pair enumeration. Red if someone rewrites
    the candidate step as a theta join."""
    import re

    from entity_extractor_spark.operators.dedup import prefix_jaccard_pairs

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = P.formatted_plan(prefix_jaccard_pairs(d))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the candidate self-join (the one join carrying i < j) is an equi
    # join on the prefix shingle alone; the sh/e rank and verify joins
    # also have shingle keys, so only that node's keys count
    nodes = re.split(r"\n(?=\(\d+\) )", plan)
    cand = [n for n in nodes if re.search(r"Join condition: .*\bi#\d+L < j#\d+L", n)]
    assert len(cand) == 1, plan
    for side in ("Left", "Right"):
        assert re.search(rf"{side} keys \[1\]: \[(sh|block)#\d+\]", cand[0]), plan
    # capped form keeps the identical join shape
    planc = P.formatted_plan(prefix_jaccard_pairs(d, max_prefix_df=100))
    assert "CartesianProduct" not in planc and "BroadcastNestedLoopJoin" not in planc, planc


def test_bm25_query_vocab_filter_is_map_side(spark):
    """The query-vocabulary `isin` filter must execute BELOW the first
    Exchange (formatted-plan node ids are post-order: leaves smallest),
    so only (doc, query-term) postings ever transit a shuffle — the
    plan property that keeps BM25 viable when the corpus vocabulary is
    ~10^9 terms and the query vocabulary is ~10^1."""
    import re

    from entity_extractor_spark.operators.search import bm25_topk

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = P.formatted_plan(bm25_topk(d, [("q1", "alpha beta"), ("q2", "gamma")]))
    isin_ids = [
        int(m.group(1))
        for m in re.finditer(
            r"\((\d+)\) Filter(?: \[codegen id : \d+\])?\nInput.*\nCondition : (.*)",
            plan,
        )
        if " IN (alpha,beta,gamma)" in m.group(2)
    ]
    ex_ids = [int(x) for x in re.findall(r"\((\d+)\) Exchange", plan)]
    assert isin_ids and ex_ids, plan
    assert min(isin_ids) < min(ex_ids), (isin_ids, ex_ids, plan)
    assert "BatchEvalPython" not in plan, plan


def test_lpa_one_bounded_exchange_set_per_round(spark):
    """Label propagation's per-round plan cost must stay CONSTANT: each
    extra iteration adds exactly the same small number of exchanges
    (the vote join + the per-node majority groupBy), and the default
    `_cut` (localCheckpoint) path truncates lineage so iteration N's
    physical plan does not re-derive rounds 1..N-1 from the raw edges."""
    from entity_extractor_spark.operators.graph_algos import label_propagation

    e = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "d", 2)], "i string, j string, w long"
    )
    n1 = P.count_exchanges(P.formatted_plan(label_propagation(e, iters=1, checkpoint=False)))
    n2 = P.count_exchanges(P.formatted_plan(label_propagation(e, iters=2, checkpoint=False)))
    n3 = P.count_exchanges(P.formatted_plan(label_propagation(e, iters=3, checkpoint=False)))
    per_round = n2 - n1
    assert n3 - n2 == per_round, (n1, n2, n3)
    # one vote join + one majority groupBy + the deterministic
    # smallest-label tie-break per round — measured 8 exchanges/round on
    # Spark 4.1; red if a rewrite makes the growth super-linear or adds
    # a shuffle to the round body
    assert per_round <= 8, (n1, n2, n3)
    # the production path cuts lineage: the checkpointed 3-iter plan is
    # no deeper than one round over materialized inputs
    plc = P.formatted_plan(label_propagation(e, iters=3, checkpoint=True))
    assert P.count_exchanges(plc) <= per_round + 2, plc


def test_ivf_trained_bank_stays_plan_literals(spark):
    """A learned centroid bank must embed exactly like the fixed bank:
    identical exchange / scan / join counts in the physical plan — no
    centroid table scan, no extra shuffle, no new join. Training changes
    WHERE rows land (cell assignment), never how the plan scales."""
    from entity_extractor_spark.operators.simsearch import ivf_topk, train_centroids

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    bank = train_centroids(e, dim=64, n_centroids=16, sample_size=64)
    fixed = P.formatted_plan(ivf_topk(e, q, dim=64))
    trained = P.formatted_plan(ivf_topk(e, q, dim=64, centroids=bank))
    assert "CartesianProduct" not in trained, trained
    assert "BroadcastNestedLoopJoin" not in trained, trained
    for tok in ("Exchange", "Scan parquet", "Join"):
        assert fixed.count(tok) == trained.count(tok), (
            tok,
            fixed.count(tok),
            trained.count(tok),
        )
