"""End-to-end pipeline, sinks, lineage/resume, and streaming tests."""

from __future__ import annotations

import glob
import json
import os
import uuid
from collections import Counter

import pytest
from pyspark.sql import functions as F

from entity_extractor_spark import lineage
from entity_extractor_spark.io import sinks
from entity_extractor_spark.pipeline import STAGES, run_pipeline
from entity_extractor_spark.synth import SynthConfig, make_gazetteer, make_transcripts, to_spark

CFG = SynthConfig(seed=7, n_terms=24, n_convs=40, hot_conv_factor=10)
PIPELINE_KEYS = {
    "mentions": "conv_id", "scored": "conv_id", "entity_map": None,
    "triples": "conv_id", "edges": None, "nodes": None,
}


def _assert_lineage_matches_files(spark, root, lin, keys):
    """Every stage's footer lineage equals a Spark scan of its files: the
    row counts sum to the stage's count, and each file's row count and
    key bounds equal a per-file groupBy over ``_metadata.file_name``."""
    rows = lin.collect()
    for stage, key in keys.items():
        df = spark.read.parquet(os.path.join(root, stage))
        got = {r["file_name"]: r for r in rows if r["stage"] == stage}
        assert sum(r["n_rows"] for r in got.values()) == df.count(), stage
        aggs = [F.count(F.lit(1)).alias("n")]
        if key:
            aggs += [F.min(key).alias("lo"), F.max(key).alias("hi")]
        scan = {
            r["f"]: r
            for r in df.groupBy(F.col("_metadata.file_name").alias("f")).agg(*aggs).collect()
        }
        assert {f for f, r in got.items() if r["n_rows"]} == set(scan), stage
        for f, r in scan.items():
            assert got[f]["n_rows"] == r["n"], (stage, f)
            if key:
                assert (got[f]["min_key"], got[f]["max_key"]) == (r["lo"], r["hi"]), (stage, f)


def _assert_pipeline_order(manifest, lin):
    """The manifest and the lineage list the stages in pipeline order,
    whatever order the overlapped stages finished in."""
    assert [m["stage"] for m in manifest["metrics"]] == list(STAGES)
    assert list(dict.fromkeys(r["stage"] for r in lin.collect())) == list(STAGES)


@pytest.fixture(scope="module")
def corpus(spark):
    gaz = make_gazetteer(CFG)
    pdf = make_transcripts(CFG, gaz)
    return to_spark(spark, pdf), gaz


def test_pipeline_end_to_end_and_resume(spark, corpus, tmp_path_factory):
    transcripts, gaz = corpus
    root = str(tmp_path_factory.mktemp("pipe"))
    out = run_pipeline(spark, transcripts, gaz, root)
    n_mentions = out["mentions"].count()
    n_triples = out["triples"].count()
    assert n_mentions > 0 and n_triples > n_mentions * 0.5
    assert out["edges"].filter(F.col("weight") < 1).count() == 0
    # node kinds are classified
    kinds = {r["kind"] for r in out["nodes"].select("kind").distinct().collect()}
    assert "entity" in kinds and "turn" in kinds
    # lineage has rows for every stage, and they match the written files
    stages = {r["stage"] for r in out["lineage"].select("stage").distinct().collect()}
    assert {"mentions", "triples", "edges", "nodes"} <= stages
    _assert_lineage_matches_files(spark, root, out["lineage"], PIPELINE_KEYS)
    # manifest exists
    with open(os.path.join(root, "_RUN_MANIFEST.json")) as f:
        manifest = json.load(f)
    assert any(m["stage"] == "mentions" and not m["skipped"] for m in manifest["metrics"])
    _assert_pipeline_order(manifest, out["lineage"])

    # resume: second run skips every stage, results identical
    out2 = run_pipeline(spark, transcripts, gaz, root)
    with open(os.path.join(root, "_RUN_MANIFEST.json")) as f:
        manifest2 = json.load(f)
    assert all(m["skipped"] for m in manifest2["metrics"])
    _assert_pipeline_order(manifest2, out2["lineage"])
    assert sorted(out2["lineage"].collect()) == sorted(out["lineage"].collect())
    assert out2["mentions"].count() == n_mentions
    assert out2["triples"].count() == n_triples

    # param change invalidates the fingerprint -> stages re-run
    gaz_small = gaz.iloc[: len(gaz) - 1]
    out3 = run_pipeline(spark, transcripts, gaz_small, root)
    with open(os.path.join(root, "_RUN_MANIFEST.json")) as f:
        manifest3 = json.load(f)
    assert all(not m["skipped"] for m in manifest3["metrics"])
    assert out3["mentions"].count() <= n_mentions


def test_pipeline_resume_after_mid_run_crash(spark, corpus, tmp_path_factory):
    """Crash simulation: a stage directory left WITHOUT its _SUCCESS
    marker (killed mid-write) must be recomputed on resume, while every
    completed upstream stage is skipped — the reference's resume-flag
    semantics (`run_extraction.py:253-260`) at stage granularity."""
    transcripts, gaz = corpus
    root = str(tmp_path_factory.mktemp("crash"))
    out = run_pipeline(spark, transcripts, gaz, root)
    n_triples = out["triples"].count()
    # simulate dying between the triples write and its commit
    os.remove(os.path.join(root, "triples", "_SUCCESS"))

    out2 = run_pipeline(spark, transcripts, gaz, root)
    with open(os.path.join(root, "_RUN_MANIFEST.json")) as f:
        manifest = json.load(f)
    by = {m["stage"]: m["skipped"] for m in manifest["metrics"]}
    assert by["mentions"] is True  # completed upstream work not redone
    assert by["triples"] is False  # incomplete stage recomputed
    assert out2["triples"].count() == n_triples  # identical result


def test_pipeline_bookkeeping_runs_no_spark_jobs(spark, corpus, tmp_path, monkeypatch):
    """Job-count pins: a fresh build runs at most 2 Spark jobs in the
    mention stage (its one exchange and the write), 1 in scored (its
    write: a projection of the mention table), 5 in triples (one
    exchange per input, the entity_map broadcast, the conv_id
    repartition and the write), 2 in edges and 2 in nodes (one groupBy
    and the write each) and 1 in entity_map (its write); lineage
    bookkeeping runs none, and a resumed stage runs none (its schema
    comes from the stage marker). The wrappers set job groups in
    whichever thread runs the stage, so the overlapped stages' jobs are
    counted too."""
    transcripts, gaz = corpus
    sc = spark.sparkContext
    tag = uuid.uuid4().hex
    run, rows = lineage.StageRunner.run, lineage.lineage_rows

    def grouped_run(runner, stage, *args, **kwargs):
        sc.setJobGroup(f"{tag}:{stage}", stage)
        try:
            return run(runner, stage, *args, **kwargs)
        finally:
            sc.setJobGroup(f"{tag}:between", "between stages")

    def grouped_rows(df, stage, key_col=None):
        # stays set for the rest of the stage: the lineage and marker writes
        sc.setJobGroup(f"{tag}:{stage}.lineage", stage)
        return rows(df, stage, key_col)

    monkeypatch.setattr(lineage.StageRunner, "run", grouped_run)
    monkeypatch.setattr(lineage, "lineage_rows", grouped_rows)
    root = str(tmp_path / "jobs")
    try:
        run_pipeline(spark, transcripts, gaz, root)
        jobs = {s: sc.statusTracker().getJobIdsForGroup(f"{tag}:{s}") for s in PIPELINE_KEYS}
        lineage_jobs = {
            s: sc.statusTracker().getJobIdsForGroup(f"{tag}:{s}.lineage") for s in PIPELINE_KEYS
        }
        tag = uuid.uuid4().hex  # the wrappers read it per call: fresh groups for the resume
        run_pipeline(spark, transcripts, gaz, root)
        resume_jobs = {
            s: sc.statusTracker().getJobIdsForGroup(f"{tag}:{s}") for s in PIPELINE_KEYS
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs["mentions"]) <= 2, jobs
    assert len(jobs["scored"]) <= 1, jobs
    assert len(jobs["triples"]) <= 5, jobs
    assert len(jobs["edges"]) <= 2, jobs
    assert len(jobs["nodes"]) <= 2, jobs
    assert len(jobs["entity_map"]) <= 1, jobs
    assert all(len(j) > 0 for s, j in jobs.items() if s != "entity_map"), jobs
    assert not any(lineage_jobs.values()), lineage_jobs
    assert not any(resume_jobs.values()), resume_jobs


def test_pipeline_jobs_carry_stage_names(spark, corpus, tmp_path):
    """Every Spark job of a build runs under the caller's job group,
    overlapped stages included, and carries its stage's name as its job
    description; the caller's description is restored afterwards."""
    transcripts, gaz = corpus
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "caller")
    try:
        run_pipeline(spark, transcripts, gaz, str(tmp_path / "labels"))
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()
    labels = Counter()
    for job in sc.statusTracker().getJobIdsForGroup(group):
        desc = store.job(job).description()
        labels[desc.get() if desc.isDefined() else None] += 1
    assert set(labels) <= set(STAGES), labels
    assert {"mentions", "scored", "triples", "edges", "nodes"} <= set(labels), labels


def test_pipeline_runs_without_pinned_threads(spark, corpus, tmp_path, monkeypatch):
    """Outside PySpark's pinned-thread mode ``inheritable_thread_target``
    returns its argument, here the session. The overlapped stages then
    run as plain pool targets, and the build still writes every stage and
    its manifest."""
    from entity_extractor_spark import pipeline

    monkeypatch.setattr(pipeline, "inheritable_thread_target", lambda f=None: f)
    transcripts, gaz = corpus
    root = str(tmp_path / "unpinned")
    out = run_pipeline(spark, transcripts, gaz, root)
    assert all(out[s].count() > 0 for s in STAGES), out
    assert os.path.exists(os.path.join(root, "_RUN_MANIFEST.json"))


def test_pipeline_failed_overlapped_stage_fails_the_build(spark, corpus, tmp_path, monkeypatch):
    """``scored`` runs beside triples -> edges. When it raises, the
    exception reaches the caller, ``scored`` is not marked done, and no
    run manifest is written."""
    from entity_extractor_spark.operators import scoring

    def broken(df):
        raise RuntimeError("scoring failed")

    monkeypatch.setattr(scoring, "classify_columns", broken)
    transcripts, gaz = corpus
    root = str(tmp_path / "failed")
    with pytest.raises(RuntimeError, match="scoring failed"):
        run_pipeline(spark, transcripts, gaz, root)
    assert not os.path.exists(os.path.join(root, "scored", lineage.STAGE_META))
    assert not os.path.exists(os.path.join(root, "_RUN_MANIFEST.json"))


def _bag(df, cols) -> Counter:
    """The rows of ``df`` over ``cols`` as a multiset (arrays as tuples)."""
    return Counter(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.select(*cols).collect()
    )


def test_pipeline_stage_tables_match_operator_composition(spark, corpus, tmp_path):
    """The pipeline stores every fact once: ``mentions`` keep ``context``
    as its word bounds and no ``term_name``, and carry ``similarity``
    and the span signals; ``scored`` is the span key plus the classify
    columns. With the dropped columns re-derived (``context`` by
    ``mention_context``, ``term_name`` from the gazetteer's titles) every
    stage table equals the operator composition as a multiset:
    ``mentions`` is ``dedup_mentions(extract_mentions(...))``, ``mentions``
    joined to ``scored`` on the span key is ``score_candidates`` over it
    (FIXTURES.md §4, bit-equal similarities), and ``entity_map``,
    ``triples``, ``edges`` and ``nodes`` are their operators over those
    mentions. The two most-mentioned terms get a null and a 2-byte
    description, which both score 0.0."""
    from entity_extractor_spark.operators.canonicalize import canonical_entities
    from entity_extractor_spark.operators.graph import build_edges, build_nodes
    from entity_extractor_spark.operators.mentions import (
        dedup_mentions,
        extract_mentions,
        mention_context,
    )
    from entity_extractor_spark.operators.predicates import all_triples
    from entity_extractor_spark.operators.scoring import score_candidates
    from entity_extractor_spark.pipeline import SCORED_COLS, SPAN_KEY

    transcripts, gaz = corpus
    expected_m = dedup_mentions(extract_mentions(transcripts, gaz))
    hot = [
        r["term_id"]
        for r in expected_m.groupBy("term_id").count()
        .orderBy(F.desc("count"), "term_id").limit(2).collect()
    ]
    gaz = gaz.copy()
    gaz["description"] = gaz["description"].astype(object)
    gaz.loc[gaz["term_id"] == hot[0], "description"] = None
    gaz.loc[gaz["term_id"] == hot[1], "description"] = "ab"
    out = run_pipeline(spark, transcripts, gaz, str(tmp_path / "parity"))
    expected_s = score_candidates(
        expected_m, spark.createDataFrame(gaz[["term_id", "description"]])
    )

    signals = ["similarity", "heuristic_keywords", "ner_signal"]
    m_cols = expected_m.columns
    stored = [c for c in m_cols if c not in ("context", "term_name")]
    assert sorted(out["mentions"].columns) == sorted(stored + signals)
    titles = spark.createDataFrame(gaz[["term_id", "title"]]).select(
        "term_id", F.coalesce("title", F.lit("")).alias("term_name")
    )
    mentions = mention_context(out["mentions"], transcripts).join(F.broadcast(titles), "term_id")
    assert _bag(mentions, m_cols) == _bag(expected_m, m_cols)

    assert out["scored"].columns == SCORED_COLS
    assert _bag(out["scored"], SCORED_COLS) == _bag(expected_s, SCORED_COLS)
    view = mentions.join(out["scored"], SPAN_KEY)
    assert view.count() == out["mentions"].count()
    assert _bag(view, expected_s.columns) == _bag(expected_s, expected_s.columns)
    sims = out["mentions"].filter(F.col("term_id").isin(hot)).select("term_id", "similarity")
    assert {(r[0], r[1]) for r in sims.distinct().collect()} == {(hot[0], 0.0), (hot[1], 0.0)}
    assert out["mentions"].filter(F.col("similarity") > 0).count() > 0

    entity_map = canonical_entities(gaz)
    triples = all_triples(transcripts, expected_m, entity_map)
    for stage, want in (
        ("entity_map", entity_map),
        ("triples", triples),
        ("edges", build_edges(triples)),
        ("nodes", build_nodes(triples)),
    ):
        assert out[stage].columns == want.columns, stage
        assert _bag(out[stage], want.columns) == _bag(want, want.columns), stage


def test_stage_runner_records_from_many_threads(spark, tmp_path):
    """``run_metrics`` stay whole and in the runner's order when more
    threads than cores record at once, under a short switch interval."""
    import random
    import sys
    import threading

    order = tuple(f"s{i}" for i in range(6))
    runner = lineage.StageRunner(spark, str(tmp_path), order=order)
    per_thread = 100

    def record(seed: int) -> None:
        rng = random.Random(seed)
        for _ in range(per_thread):
            runner._record({"stage": rng.choice(order), "skipped": True})

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=record, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    stages = [m["stage"] for m in runner.run_metrics]
    assert len(stages) == 16 * per_thread
    assert stages == sorted(stages, key=order.index)


def test_stage_marker_of_other_code_is_rebuilt(spark, tmp_path, monkeypatch):
    """The stage fingerprint includes the package's source digest: a
    marker written under another digest is not trusted, so the stage
    re-runs, while the same digest skips it."""
    root = str(tmp_path / "code")

    def skipped() -> bool:
        runner = lineage.StageRunner(spark, root)
        runner.run("s", lambda: spark.range(3))
        return runner.run_metrics[-1]["skipped"]

    assert not skipped()
    assert skipped()
    monkeypatch.setattr(lineage, "package_digest", lambda: "0" * 40)
    assert not skipped()
    assert skipped()


def test_mentions_stored_without_similarity_is_rebuilt(spark, corpus, tmp_path):
    """The mention table's schema depends on whether the gazetteer has
    descriptions (the scan adds ``similarity``), so its fingerprint does
    too: a root first built from an undescribed gazetteer is re-run with
    a described one of the same size, rebuilds ``mentions``, scores, and
    still resumes the stages that do not depend on descriptions."""
    transcripts, gaz = corpus
    root = str(tmp_path / "desc")
    first = run_pipeline(spark, transcripts, gaz.drop(columns="description"), root)
    assert "similarity" not in first["mentions"].columns and "scored" not in first
    out = run_pipeline(spark, transcripts, gaz, root)
    with open(os.path.join(root, "_RUN_MANIFEST.json")) as f:
        skipped = {m["stage"]: m["skipped"] for m in json.load(f)["metrics"]}
    assert not skipped["mentions"] and not skipped["scored"], skipped
    assert skipped["triples"] and skipped["edges"] and skipped["nodes"], skipped
    assert "similarity" in out["mentions"].columns
    assert out["scored"].count() == out["mentions"].count()


def test_sinks(spark, corpus, tmp_path):
    transcripts, gaz = corpus
    from entity_extractor_spark.operators.mentions import extract_mentions

    mentions = extract_mentions(transcripts, gaz).cache()
    p = str(tmp_path)

    sinks.write_mentions_parquet(mentions, f"{p}/m.parquet")
    assert spark.read.parquet(f"{p}/m.parquet").count() == mentions.count()

    sinks.write_csv_gzip(mentions.select("conv_id", "term_id", "match_location"), f"{p}/m.csv")
    assert glob.glob(f"{p}/m.csv/*.csv.gz")

    sinks.write_partitioned_by_key(
        mentions.select("conv_id", "surface", "term_id"), f"{p}/per_term", "term_id"
    )
    dirs = [d for d in os.listdir(f"{p}/per_term") if d.startswith("term_id=")]
    assert len(dirs) == mentions.select("term_id").distinct().count()

    cols = ["conv_id", "turn_idx", "term_id", "start"]
    sinks.write_jsonl(mentions.select(*cols), f"{p}/m.jsonl")
    back = spark.read.json(f"{p}/m.jsonl").select(*cols)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, mentions.select(*cols).collect()))

    sinks.write_summary_json(mentions, f"{p}/summary")
    row = json.loads(open(glob.glob(f"{p}/summary/*.json")[0]).read().splitlines()[0])
    assert row["total_mentions"] == mentions.count()
    assert row["n_terms"] == mentions.select("term_id").distinct().count()
    mentions.unpersist()


def test_streaming_incremental(spark, corpus, tmp_path):
    transcripts, gaz = corpus
    from entity_extractor_spark.operators.mentions import extract_mentions
    from entity_extractor_spark.streaming.incremental import incremental_extract

    inp = str(tmp_path / "in")
    outp = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    wave1 = transcripts.filter(F.col("conv_id") < "conv-000020")
    wave2 = transcripts.filter(F.col("conv_id") >= "conv-000020")
    wave1.write.mode("append").parquet(inp)
    incremental_extract(spark, inp, gaz, outp, ckpt)
    n1 = spark.read.parquet(outp).count()
    assert n1 == extract_mentions(wave1, gaz).count()

    # second wave lands; re-run processes ONLY the new files (no dups)
    wave2.write.mode("append").parquet(inp)
    incremental_extract(spark, inp, gaz, outp, ckpt)
    n2 = spark.read.parquet(outp).count()
    assert n2 == n1 + extract_mentions(wave2, gaz).count()
    # re-run with nothing new is a no-op
    incremental_extract(spark, inp, gaz, outp, ckpt)
    assert spark.read.parquet(outp).count() == n2


def test_curate_documents_end_to_end(spark, tmp_path):
    """Curation pipeline: stage monotonicity, packing validity, resume
    (second run skips every stage and returns identical tables)."""
    import json as _json

    from entity_extractor_spark.pipeline import curate_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    root = str(tmp_path / "curate")
    out = curate_documents(spark, docs, root, quality_min=0.3)
    n_docs = docs.count()
    n_surv = out["survivors"].count()
    n_near = out["near_deduped"].count()
    n_filt = out["filtered"].count()
    assert n_docs >= n_surv >= n_near >= n_filt > 0
    # split covers the filtered set exactly, with all three labels possible
    split_counts = {r["split"]: r["n"] for r in
                    out["split"].groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(split_counts.values()) == n_filt
    assert split_counts.get("train", 0) > 0
    # packed: only train docs, valid per-shard bins
    assert out["packed"].count() == split_counts["train"]
    assert out["packed"].filter(F.col("bin") < 0).count() == 0
    # lineage covers every stage, and matches the written files
    stages = {r["stage"] for r in out["lineage"].select("stage").distinct().collect()}
    assert {"exact_dedup", "near_dedup", "quality_filter", "split", "packed"} <= stages
    _assert_lineage_matches_files(spark, root, out["lineage"], dict.fromkeys(stages, "doc_id"))
    # resume: identical params -> every stage skipped, same outputs
    out2 = curate_documents(spark, docs, root, quality_min=0.3)
    assert out2["filtered"].count() == n_filt
    manifest = _json.loads(open(f"{root}/_RUN_MANIFEST.json").read())
    assert all(m["skipped"] for m in manifest["metrics"])
    # changed params -> stages re-run
    out3 = curate_documents(spark, docs, root, quality_min=0.5)
    assert out3["filtered"].count() <= n_filt
