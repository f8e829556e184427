#!/usr/bin/env python
"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS], plus flagship transcript-extraction
throughput on a deterministic synthetic corpus.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with the noop sink (full execution, no driver
collect). Python workers and the JVM are warmed before timing so numbers
measure the plan, not process spin-up. Run `python bench_scaling.py` for
the N-vs-4N scaling evidence.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SYNTH_CONVS = int(os.environ.get("SPARK_GRAFT_SYNTH_CONVS", "48000"))
# measured passes after the cold pass; the sandbox steals CPU in
# multi-minute bursts, so single samples are 2-3x off. The reported
# number is the best across the cold pass AND every measured pass, and
# passes are INTERLEAVED (pass p runs every query once, in order) so a
# burst pollutes one pass of many queries instead of every sample of a
# few queries — raise to 5 for regression triage runs.
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
# comma-separated subset of HEADLINE for targeted runs (e.g. the sf1
# stress extension of a few new keys); unset = full artifact run. When
# set, the flagship/kg synthetic-corpus sections are skipped too. Every
# selected key runs in ONE JVM, so a key's time depends on the keys run
# before it. For a per-key A/B, run one key per process
# (SPARK_GRAFT_BENCH_ONLY=<key>), alternating the two sides.
ONLY = [s for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if s]

# relational + mention-scan core
HEADLINE = [
    "mention_counts",
    "mention_flags",
    "context_window",
    "context_window_100",  # ±100-word reference semantics (extraction_engine.py:69-92)
    "exact_token_match",
    "composite_likelihood",
    "join_agg",
    "broadcast_join",
    "window_lag",
    "stats",
    "topk_groups",
    # temporal operators at bench scale (round-1 verdict item 7)
    "asof_join",
    "sessionize",
    # training-data curation suite
    "dedup_exact",
    "minhash_signature",
    "simhash_fingerprint",
    "quality_scores",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "embedding_dups_lsh",
    "interval_join",
    "sequence_packing",
    # round-2 operators
    "scored_candidates",
    "salted_collect",
    # round-3 operators: graph analytics, sketches, quantized ANN, hygiene
    "pagerank_tokens",
    "graph_triangles",
    "co_lift",
    "kmv_distinct",
    "ann_sq8_topk",
    "contamination",
    "heavy_hitters",
    "repetition_signals",
    "pii_scrub",
    "khop_neighbors",
    "link_prediction",
    "wav_decode",
    "fuzzy_name_pairs",
    "indexed_search",
    # round-4 operators: real BMP codec, bounded-state KMV sketch,
    # real AVI video codec + frame sampling
    "bmp_decode",
    "kmv_sketch",
    "avi_decode",
    "avi_frames",
    # round-4 wave 2: quantile sketch (twin + bounded merge form),
    # A-Res weighted reservoir, Bloom-pruned decontamination
    # (hh_stream_parity is excluded like the other streaming parity
    # keys — a checkpointed drain measures the sink, not the plan)
    "quantile_sketch",
    "quantile_merge",
    "weighted_sample",
    "contamination_bloom",
    # round-4 wave 3: ranked retrieval, grouped frequency, unigram LM,
    # KMV sketch-algebra overlap
    "bm25_topk",
    "grouped_heavy_hitters",
    "unigram_logprob",
    "kmv_overlap",
    # round-4 wave 5: event-analytics trio
    "funnel_steps",
    "retention_cohorts",
    "event_transitions",
    # round-4 wave 6: prefix-filtered exact Jaccard join — unlike the
    # excluded low-threshold pair emitters, t=0.8 keeps the output (and
    # the rarest-first candidate join) bounded on this corpus
    "prefix_jaccard_pairs",
    # round-4 wave 7: deterministic LPA communities
    "lpa_communities",
    # round-4 wave 8: semi-structured JSON payload analytics + entropy
    "json_field_stats",
    "token_entropy",
]


# the timings main() adds from the synthetic corpus; the last-resort
# _emit line keeps exactly these, so a rename fails loudly
SYNTH_KEYS = ("transcript_extraction", "turns_per_sec", "kg_pipeline")


def _q_context_window_100(spark, sf_dir):
    """Bench-only: the contract `context_window` query at the reference's
    ±100-word window (`extraction_engine.py:69-92`) instead of ±5, so a
    regression in WordIndex vectorization cannot hide behind the cheap
    5-word path (round-1 verdict item 6)."""
    import __spark_entry__ as entry_mod
    from entity_extractor_spark.operators.mentions import scan_mentions
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    matcher, names = entry_mod._gazetteer_matcher()
    t = entry_mod._docs_as_transcripts(spark, sf_dir)
    raw = scan_mentions(t, matcher, names, window_words=100).filter(F.col("term_id") == "g1")
    w = Window.partitionBy("conv_id").orderBy("start")
    return (
        raw.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("conv_id").cast("long").alias("doc_id"), "context")
    )
# (pair-emitting near-dup queries — ngram_jaccard_pairs, minhash_lsh_pairs,
# simhash_pairs, and dup_clusters which consumes the LSH pair graph — are
# correctness-gated but excluded here: the synthetic corpus is pathologically
# self-similar (at sf0.1, 8.1M of the 12.5M possible doc pairs are >=0.8
# Jaccard), so their output is quadratic in a way no real corpus is; see
# BENCH.md)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat;
    (0, 0) where it cannot be read."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (vals[7], sum(vals)) if len(vals) > 7 else (0, 0)


def _steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Hypervisor steal between two _cpu_ticks readings, in % of all
    CPU time; 0.0 where the host reports none."""
    total = after[1] - before[1]
    return round(100.0 * (after[0] - before[0]) / total, 2) if total > 0 else 0.0


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _emit(timings: dict, cold: dict, n_turns, steal_pct: float) -> None:
    """Print ONE compact JSON line as the very last stdout line.

    The driver records only the final 2000 bytes of stdout and parses
    the last line as the round's bench artifact — BENCH_r02..r04 all
    landed `"parsed": null` because the verbose payload (warm + cold
    blocks, padded separators) overran that window and the line start
    was cut mid-JSON. The compact line carries the warm-min timings
    only (the reported estimator); the full record including the cold
    pass goes to BENCH_DETAIL_LAST.json next to this script and to
    BENCH.md's protocol tables. Both carry ``steal_pct``, the hypervisor
    steal over the whole run, so a slow number comes with its noise."""
    total = round(sum(v for k, v in timings.items() if k != "turns_per_sec"), 3)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": CPUS,
        "steal_pct": steal_pct,
        "queries": timings,
        # near-dup pair emitters + streaming parity keys are
        # correctness-gated but excluded from timing; see BENCH.md
        "excl": "pair-emitters+streaming (BENCH.md)",
    }
    if n_turns is not None:
        payload["n_synth_turns"] = n_turns
    if ONLY:
        payload["subset"] = ONLY
    detail = dict(payload)
    detail["cold_first_run"] = cold
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL_LAST.json"),
            "w",
        ) as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass  # read-only checkout: the stdout line still stands alone
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1900:  # must fit the driver's 2000-byte tail window
        payload["queries"] = {k: round(v, 2) for k, v in timings.items()}
        line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1900:
        payload.pop("excl", None)
        payload["queries"] = {k: round(v, 1) for k, v in timings.items()}
        line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1900:
        # last resort: the headline totals must always parse; per-query
        # detail survives in BENCH_DETAIL_LAST.json
        payload["queries"] = {k: round(timings[k], 1) for k in SYNTH_KEYS}
        payload["detail"] = "BENCH_DETAIL_LAST.json"
        line = json.dumps(payload, separators=(",", ":"))
    print(line)


def main() -> None:
    import __spark_entry__ as entry_mod
    from entity_extractor_spark.session import get_spark
    from entity_extractor_spark.operators.mentions import extract_mentions
    from entity_extractor_spark.synth import SynthConfig, make_gazetteer, make_transcripts, to_spark

    ticks0 = _cpu_ticks()
    spark = get_spark("bench", cores=CPUS)
    qs = {**entry_mod.queries(), "context_window_100": _q_context_window_100}
    timings: dict[str, float] = {}

    # Warm the JVM (codegen, parquet footers) and every Python worker
    # (Arrow path) once so per-query timings measure the plan. Kept for
    # single-key runs too: skipping the two query warm-ups saved 1-3 s of
    # a ~24 s process (sf0.1, local[4]) because the JIT work moved into
    # the noop warm-up and the cold pass, and the timed passes ran slower.
    qs["value_counts"](spark, SF_DIR).count()
    qs["quality_scores"](spark, SF_DIR).count()
    from pyspark.sql import functions as F

    warm = spark.range(0, CPUS * 8, 1, CPUS * 4).mapInPandas(lambda it: it, "id long")
    warm.write.format("noop").mode("overwrite").save()

    # One cold pass absorbs per-plan JIT/codegen compilation (observed up
    # to 30s on a cold 32-core JVM); then REPEATS interleaved measured
    # passes. The reported value is the min across the cold AND measured
    # passes: the min is the right estimator here — the sandbox
    # hypervisor steals CPU in bursts (verified via /proc/stat steal
    # ticks), inflating random samples multiplicatively, and a burst can
    # outlast any per-query repeat loop (BENCH_r03 recorded 6 queries
    # warm 3-10x slower than their own cold pass). Interleaving spreads
    # each query's samples across the whole run's wall-clock, so a burst
    # must span the entire bench to pollute every sample of one query.
    headline = [n for n in HEADLINE if n in ONLY] if ONLY else HEADLINE
    cold: dict[str, float] = {}
    best: dict[str, float] = {}
    for name in headline:
        t0 = time.perf_counter()
        _materialize(qs[name](spark, SF_DIR))
        cold[name] = round(time.perf_counter() - t0, 3)
        best[name] = cold[name]
    for _ in range(REPEATS):
        for name in headline:
            t0 = time.perf_counter()
            _materialize(qs[name](spark, SF_DIR))
            best[name] = min(best[name], time.perf_counter() - t0)
    for name in headline:
        timings[name] = round(best[name], 3)

    # flagship: full mention extraction over synthetic transcripts
    # (generated executor-side — deterministic per config, see synth.py)
    if ONLY:
        _emit(timings, cold, None, _steal_pct(ticks0, _cpu_ticks()))
        spark.stop()
        return
    from entity_extractor_spark.synth import make_transcripts_distributed

    cfg = SynthConfig(seed=42, n_terms=256, n_convs=SYNTH_CONVS, hot_conv_factor=50)
    gaz = make_gazetteer(cfg)
    transcripts = make_transcripts_distributed(spark, cfg, parallelism=CPUS * 2)
    transcripts = transcripts.localCheckpoint(eager=True)  # exclude gen cost
    n_turns = transcripts.count()
    _materialize(extract_mentions(transcripts, gaz))  # warm (broadcast + workers)
    dt = float("inf")
    for _ in range(max(3, REPEATS)):
        t0 = time.perf_counter()
        _materialize(extract_mentions(transcripts, gaz))
        dt = min(dt, time.perf_counter() - t0)
    synth = {"transcript_extraction": round(dt, 3), "turns_per_sec": round(n_turns / dt, 1)}

    # full KG job: the production plan itself, each sample into a fresh
    # root (StageRunner would otherwise skip every stage whose
    # fingerprint matches), deleted outside the timed interval. Times the
    # warm-up pass too and takes the best of >= 4 samples like the
    # headline queries.
    from entity_extractor_spark.pipeline import run_pipeline

    dt = float("inf")
    for _ in range(max(4, REPEATS + 1)):
        with tempfile.TemporaryDirectory(prefix="bench_kg_") as root:
            t0 = time.perf_counter()
            run_pipeline(spark, transcripts, gaz, root)
            dt = min(dt, time.perf_counter() - t0)
    synth["kg_pipeline"] = round(dt, 3)
    assert set(synth) == set(SYNTH_KEYS), sorted(synth)
    timings.update(synth)

    _emit(timings, cold, n_turns, _steal_pct(ticks0, _cpu_ticks()))
    spark.stop()


if __name__ == "__main__":
    main()
