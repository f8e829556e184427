"""entity_extractor_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the capabilities of adsabs/entity_extractor.

Pipeline: gazetteer mention detection (Arrow-batched token-index scan) →
entity-link scoring (TF-IDF/char-ngram similarity + keyword heuristics) →
likelihood classification → alias canonicalization (union-find over the
gazetteer) → (subj, pred, obj) triple + node/edge materialization, all
expressed as pyspark.sql DataFrame plans so Catalyst/AQE pick the
physical strategy.

Reference semantics: /root/reference (adsabs/entity_extractor, 2025-07-25).
"""

__version__ = "0.1.0"


def __getattr__(name):
    """Lazy public API — heavy pyspark imports resolve on first use.

    >>> import entity_extractor_spark as ees
    >>> spark = ees.get_spark()
    >>> mentions = ees.extract_mentions(transcripts, gazetteer)
    """
    from importlib import import_module

    api = {
        "get_spark": "entity_extractor_spark.session",
        "run_pipeline": "entity_extractor_spark.pipeline",
        "extract_mentions": "entity_extractor_spark.operators.mentions",
        "scan_mentions": "entity_extractor_spark.operators.mentions",
        "dedup_mentions": "entity_extractor_spark.operators.mentions",
        "mention_context": "entity_extractor_spark.operators.mentions",
        "score_candidates": "entity_extractor_spark.operators.scoring",
        "connected_components": "entity_extractor_spark.operators.canonicalize",
        "canonical_entities": "entity_extractor_spark.operators.canonicalize",
        "all_triples": "entity_extractor_spark.operators.predicates",
        "build_edges": "entity_extractor_spark.operators.graph",
        "build_nodes": "entity_extractor_spark.operators.graph",
        "exact_dedup": "entity_extractor_spark.operators.dedup",
        "minhash_lsh_pairs": "entity_extractor_spark.operators.dedup",
        "simhash": "entity_extractor_spark.operators.dedup",
        "brute_force_topk": "entity_extractor_spark.operators.simsearch",
        "lsh_topk": "entity_extractor_spark.operators.simsearch",
        "tfidf_topk": "entity_extractor_spark.operators.tfidf",
        "apply_curation": "entity_extractor_spark.operators.curation",
        "incremental_extract": "entity_extractor_spark.streaming.incremental",
        "StageRunner": "entity_extractor_spark.lineage",
        "write_table": "entity_extractor_spark.io.catalog",
        "read_table": "entity_extractor_spark.io.catalog",
        "merge_into": "entity_extractor_spark.io.catalog",
    }
    if name in api:
        return getattr(import_module(api[name]), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
