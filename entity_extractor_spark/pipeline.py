"""End-to-end KG-construction pipeline: transcripts -> mentions ->
scored candidates -> canonical entities -> triples -> node/edge tables.

The Spark restatement of the reference's three-phase flagship job
(`run_extraction.py:235-293`) plus the scoring/classification stages of
`software_mentions_pipeline/` — but as ONE lazy DataFrame program with
optional materialization barriers (StageRunner checkpoints) instead of
JSON files between phases. Stage boundaries exist only for
resumability/lineage; remove the runner and the same plan fuses.

Scale shape (the plan you'd want at 10^12 turns):
  * the stages form a DAG, and only its critical path blocks:
    mentions -> triples -> edges. entity_map reads only the gazetteer,
    so it runs beside mentions; scored, a projection of mentions, runs
    beside triples -> edges; nodes read triples, so they run beside
    edges. Overlapped stages fill the cores a 1-2 task job (a write
    commit, a reload, planning) leaves idle on the chain
  * transcripts arrive bucketed by conv_id (Iceberg bucket / repartition)
  * the mention scan is embarrassingly parallel (mapInPandas, no shuffle)
    and is the job's one Python pass: it also computes each span's
    description similarity. The mention stage adds the span signals
    (keyword hits, NER stand-in) as JVM columns while ``context`` is
    still in the plan, after the dedup that keys on it
  * every fact is stored once. mentions keep ``context`` as its word
    bounds ``ctx_lo``/``ctx_hi`` into the turn text, and no
    ``term_name`` (the gazetteer's title of ``term_id``);
    ``mentions.mention_context`` re-derives the context for readers.
    The scored stage is a codegen'd projection of the stored mentions
    that stores the span key plus ``composite_score`` and
    ``likelihood``; FIXTURES.md §4's table is mentions joined to it on
    the span key. nodes store no copy of ``node_id``
  * the mention stage crosses ONE exchange, extract_mentions' AQE-sized
    conv_id repartition, which the flag window, the mention dedup window
    and the stored table's clustering all reuse (subset rule)
  * the triples stage reads each input once: one conv_id window over
    transcripts for both turn-pair predicates, one (conv_id, turn_idx)
    groupBy over mentions for mentions + co_mentions
  * edge weights are one groupBy count and nodes one groupBy over both
    ends of each triple; both map-side-combine, so a hot entity reaches
    its reducer as one partial row per map task
  * the gazetteer/alias side is always broadcast; the alias union-find
    runs on the driver over the gazetteer the job already holds, never
    on the corpus.
"""

from __future__ import annotations

from concurrent.futures import Future, ThreadPoolExecutor

import pandas as pd
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entity_extractor_spark.lineage import StageRunner

# the KG job's stages in pipeline order
STAGES = ("mentions", "scored", "entity_map", "triples", "edges", "nodes")

# the mention table's span key: one row per key
SPAN_KEY = ["conv_id", "turn_idx", "term_id", "start", "end"]
# the scored stage's columns: the span key and the two classify columns;
# FIXTURES.md §4's scored_candidates is mentions joined to it on SPAN_KEY
SCORED_COLS = [*SPAN_KEY, "composite_score", "likelihood"]


def mention_table(transcripts: DataFrame, gazetteer: pd.DataFrame, similarity: bool) -> DataFrame:
    """The mention stage's table: the deduplicated mentions, plus the span
    signals when the scan scores ``similarity``, computed while
    ``context`` is in the plan. ``context`` and ``term_name`` are then
    dropped; both are re-derivable, the context from ``ctx_lo``/``ctx_hi``
    and the turn text (``mentions.mention_context``), the name from the
    gazetteer's title of ``term_id``."""
    from entity_extractor_spark.operators import scoring
    from entity_extractor_spark.operators.mentions import dedup_mentions, extract_mentions

    m = dedup_mentions(extract_mentions(transcripts, gazetteer, similarity=similarity))
    if similarity:
        m = scoring.signal_columns(m)
    return m.drop("context", "term_name")


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    gazetteer: pd.DataFrame,
    out_root: str,
) -> dict[str, DataFrame]:
    """Run (or resume) the full pipeline under ``out_root``; returns the
    materialized stage tables. The ``scored`` stage runs when the
    gazetteer has a ``description`` column, ``entity_map`` when it has
    ``aliases``.

    mentions, triples and edges run in the calling thread (the mention
    scan reads the thread's active session); entity_map, scored and
    nodes run beside them on a two-thread pool, with the caller's job
    group and description. Every stage's result is awaited before the
    manifest is written, so a failed stage fails the call and leaves no
    manifest."""
    from entity_extractor_spark.operators import scoring
    from entity_extractor_spark.operators.canonicalize import canonical_entities
    from entity_extractor_spark.operators.graph import build_edges, build_nodes
    from entity_extractor_spark.operators.predicates import all_triples

    runner = StageRunner(spark, out_root, order=STAGES)
    params = {"n_terms": int(len(gazetteer))}
    similarity = "description" in gazetteer.columns
    side: dict[str, Future] = {}

    with ThreadPoolExecutor(max_workers=2, thread_name_prefix="kg-stage") as pool:

        def beside(stage: str, build, **kwargs) -> None:
            # the wrapper copies this thread's job group and description now;
            # outside pinned-thread mode PySpark returns the session itself
            # (JVM thread-locals are not per Python thread there), so run plain
            wrap = inheritable_thread_target(spark)
            target = wrap(runner.run) if callable(wrap) else runner.run
            side[stage] = pool.submit(target, stage, build, params=params, **kwargs)

        if "aliases" in gazetteer.columns:
            beside("entity_map", lambda: canonical_entities(gazetteer))

        mentions = runner.run(
            "mentions",
            lambda: mention_table(transcripts, gazetteer, similarity),
            # the scan's schema depends on it: a table stored without
            # similarity must not be resumed for a run that scores
            params={**params, "similarity": similarity},
            key_col="conv_id",
        )

        if similarity:
            # mentions carry similarity and the signals; classifying them
            # is a projection, joined back to mentions on the span key
            beside(
                "scored",
                lambda: scoring.classify_columns(mentions).select(*SCORED_COLS),
                key_col="conv_id",
            )

        entity_map = side["entity_map"].result() if "entity_map" in side else None
        triples = runner.run(
            "triples",
            lambda: all_triples(transcripts, mentions, entity_map),
            params=params,
            key_col="conv_id",
            partition_by="conv_id",
        )
        beside("nodes", lambda: build_nodes(triples))
        edges = runner.run("edges", lambda: build_edges(triples), params=params)
        done = {stage: f.result() for stage, f in side.items()}

    out: dict[str, DataFrame] = {"mentions": mentions}
    if similarity:
        out["scored"] = done["scored"]
    out.update(entity_map=entity_map, triples=triples, edges=edges, nodes=done["nodes"])
    runner.write_manifest()
    out["lineage"] = runner.lineage()
    return out


def curate_documents(
    spark: SparkSession,
    docs: DataFrame,
    out_root: str,
    quality_min: float = 0.3,
    near_dup_threshold: float = 0.7,
    budget_tokens: int = 2048,
) -> dict[str, DataFrame]:
    """Training-data curation pipeline over a documents table: exact
    dedup -> near-dup prune (MinHash LSH) -> quality filter ->
    deterministic train/val/test split -> sequence packing of the train
    split. Each stage is a resumable StageRunner materialization with
    per-partition lineage — the corpus-prep twin of :func:`run_pipeline`.

    Near-dup pruning keeps the lowest doc_id of every verified pair
    (pairs are emitted i < j, so dropping all j-sides is deterministic
    and chain-safe: in a chain a-b-c both b and c drop, a survives).

    Scale shape at 100 TB: fingerprint/quality/split are pure map stages
    (predicate-pushdown friendly, zero shuffle); exact dedup shuffles
    once on the uniform md5 key; the near-dup join is banded with the
    hot-bucket guard; packing windows per content-hash shard. No stage
    collects to the driver.
    """
    from entity_extractor_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
    from entity_extractor_spark.operators.sampling import assign_split, pack_sequences
    from entity_extractor_spark.operators.textstats import quality_score

    runner = StageRunner(spark, out_root)
    params = {
        "quality_min": quality_min,
        "near_dup_threshold": near_dup_threshold,
        "budget_tokens": budget_tokens,
    }

    survivors = runner.run(
        "exact_dedup",
        lambda: docs.join(
            exact_dedup(docs).filter(~F.col("is_dup")).select("doc_id"), "doc_id"
        ),
        params=params,
        key_col="doc_id",
    )

    def _near_dedup() -> DataFrame:
        pairs = minhash_lsh_pairs(survivors, threshold=near_dup_threshold)
        drop = pairs.select(F.col("j").alias("doc_id")).distinct()
        return survivors.join(drop, "doc_id", "left_anti")

    near_deduped = runner.run("near_dedup", _near_dedup, params=params, key_col="doc_id")

    filtered = runner.run(
        "quality_filter",
        lambda: near_deduped.withColumn("quality", quality_score(F.col("text"))).filter(
            F.col("quality") >= quality_min
        ),
        params=params,
        key_col="doc_id",
    )

    split = runner.run(
        "split",
        lambda: filtered.withColumn("split", assign_split(F.col("doc_id"))),
        params=params,
        key_col="doc_id",
    )

    packed = runner.run(
        "packed",
        lambda: pack_sequences(split.filter(F.col("split") == "train"), budget_tokens),
        params=params,
        key_col="doc_id",
    )

    runner.write_manifest()
    return {
        "survivors": survivors,
        "near_deduped": near_deduped,
        "filtered": filtered,
        "split": split,
        "packed": packed,
        "lineage": runner.lineage(),
    }
