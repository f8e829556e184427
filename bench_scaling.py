#!/usr/bin/env python
"""Scaling-efficiency evidence (BASELINE.json north_rule).

The N-vs-4N-executor criterion is evidenced in this sandbox by running
the identical extraction job at local[N] and local[4N] on the same
deterministic input and reporting turns/sec at both plus efficiency
(T_N / T_4N) / 4 — target >= 0.8 (the reference's own 8->32-core
efficiency is ~0.61, optimized_extractor/README.md:137-139).

Two job shapes:
  * default — the flagship mention-extraction stage (scan + kernel +
    flag window), the throughput headline;
  * ``--pipeline`` — the FULL run_pipeline job (mentions -> scoring ->
    alias canonicalization -> triples -> node/edge tables, every stage
    materialized to parquet by StageRunner exactly as the resumable
    production job runs). The north rule's criterion is the JOB, and
    per-stage fixed scheduling cost is the Amdahl term that only a
    full-pipeline measurement exposes.

Default pair is N=4 vs 4N=16: a raw-CPU control (pure multiprocessing
busy-loop, no Spark) shows this sandbox's hypervisor delivers ~0.96
efficiency for 4->16 processes but only ~0.80 for 8->32 — the host
itself is the ceiling above 16 vCPUs, so 8->32 would measure the
hypervisor, not the engine. The control is measured fresh on every run
and reported alongside the Spark number. Override with
SPARK_GRAFT_SCALE_LOW/HIGH.

Noise protocol: the two levels are visited in INTERLEAVED alternation
(``SPARK_GRAFT_SCALE_VISITS``, default 3) and the reported time per
level is the min across visits. Sandbox contention bursts last minutes
— two legs measured once each, minutes apart, measure the burst, not
the engine (that is how r03's one-shot full-pipeline ratio landed at
0.387 while per-stage plans were unchanged). Back-to-back legs inside
one visit share the burst; the min across visits discards it.

Prints one JSON line per visit, then a JSON result line that also
carries the per-visit ``history``. It writes no report file.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SYNTH_CONVS = int(os.environ.get("SPARK_GRAFT_SYNTH_CONVS", "480000"))
LOW = int(os.environ.get("SPARK_GRAFT_SCALE_LOW", "4"))
HIGH = int(os.environ.get("SPARK_GRAFT_SCALE_HIGH", "16"))
CORPUS_DIR = os.environ.get("SPARK_GRAFT_SCALE_CORPUS", "/tmp/spark_graft_scale_corpus")


def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def cpu_control(procs: int, work: int = 6_000_000, tasks_per: int = 4) -> float:
    """Raw-CPU throughput (tasks/s) at a given process count — measures
    what the hypervisor actually delivers, independent of Spark."""
    best = float("inf")
    for _ in range(3):
        with mp.Pool(procs) as p:
            t0 = time.perf_counter()
            p.map(_burn, [work] * procs * tasks_per)
            best = min(best, time.perf_counter() - t0)
    return procs * tasks_per / best


def _burn_mem(n: int) -> float:
    import numpy as np

    a = np.zeros(32 * 1024 * 1024 // 8, dtype=np.float64)  # 32 MB
    s = 0.0
    for _ in range(n):
        s += a.copy()[0]  # stream 64 MB through the memory bus
    return s


def mem_control(procs: int, iters: int = 24) -> float:
    """Memory-BANDWIDTH throughput (copies/s) at a given process count.

    The cache-resident integer loop of :func:`cpu_control` measures CPU
    delivery only; a materialized pipeline (Arrow transfers, parquet
    encode/decode, shuffle, numpy kernels) is bandwidth-heavy, and all
    local[N] threads share ONE memory bus. Measured here: this host
    delivers only ~2.3x more copy bandwidth at 16 processes than at 4
    (eff ~0.59), which is the physical ceiling for bandwidth-bound work
    in single-box thread scaling — a ceiling that does NOT exist across
    the separate machines of a real N-vs-4N EXECUTOR comparison, where
    every executor brings its own bus."""
    best = float("inf")
    for _ in range(3):
        with mp.Pool(procs) as p:
            t0 = time.perf_counter()
            p.map(_burn_mem, [iters] * procs * 2)
            best = min(best, time.perf_counter() - t0)
    return procs * 2 * iters / best


def build_corpus(cfg) -> int:
    """Generate the deterministic corpus ONCE (distributed, executor-side)
    and persist it as parquet both parallelism levels read — the same
    bytes from the same files, scan included in the measured job exactly
    as a cluster run would."""
    from entity_extractor_spark.session import get_spark
    from entity_extractor_spark.synth import make_transcripts_distributed

    spark = get_spark("scaling-gen", cores=32)
    marker = os.path.join(CORPUS_DIR, "_MARKER.json")
    want = {"seed": cfg.seed, "n_convs": cfg.n_convs, "n_terms": cfg.n_terms}
    if os.path.exists(marker):
        with open(marker) as f:
            if json.load(f) == want:
                n = spark.read.parquet(CORPUS_DIR).count()
                spark.stop()
                return n
    df = make_transcripts_distributed(spark, cfg, parallelism=128)
    df.write.mode("overwrite").parquet(CORPUS_DIR)
    n = spark.read.parquet(CORPUS_DIR).count()
    with open(marker, "w") as f:
        json.dump(want, f)
    spark.stop()
    return n


def run_at(cores: int, gaz, visit: int) -> float:
    """One visit at a parallelism level: warm-up pass (JVM codegen,
    Python workers on every slot, matcher broadcast, page cache), then
    best-of-2 measured passes. Visits at the two levels are INTERLEAVED
    by the caller and the min is taken across visits — the sandbox
    hypervisor's contention bursts last minutes, so a LOW leg and a HIGH
    leg measured back-to-back inside one burst stay comparable, and the
    cross-visit min rides the bursts out entirely (the r03 lesson:
    single-shot legs minutes apart measured the hypervisor, not the
    engine)."""
    from entity_extractor_spark.operators.mentions import extract_mentions
    from entity_extractor_spark.session import get_spark

    spark = get_spark(f"scaling-{cores}-v{visit}", cores=cores)
    transcripts = spark.read.parquet(CORPUS_DIR)
    extract_mentions(transcripts, gaz).write.format("noop").mode("overwrite").save()
    dt = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        extract_mentions(transcripts, gaz).write.format("noop").mode("overwrite").save()
        dt = min(dt, time.perf_counter() - t0)
    spark.stop()
    return dt


def run_pipeline_at(cores: int, gaz, visit: int) -> float:
    """Full run_pipeline wall-clock at a parallelism level, ONE pass per
    visit against a FRESH out_root (StageRunner would otherwise resume
    from the previous pass's fingerprints and elide the work). The
    caller interleaves visits across levels and takes the per-level min,
    so the first (cold) visit simply never wins the min."""
    import shutil

    from entity_extractor_spark.pipeline import run_pipeline
    from entity_extractor_spark.session import get_spark

    spark = get_spark(f"scaling-pipe-{cores}-v{visit}", cores=cores)
    transcripts = spark.read.parquet(CORPUS_DIR)
    root = f"/tmp/spark_graft_scale_pipe_{cores}_{visit}"
    shutil.rmtree(root, ignore_errors=True)
    t0 = time.perf_counter()
    run_pipeline(spark, transcripts, gaz, root)
    dt = time.perf_counter() - t0
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()
    return dt


def main() -> None:
    from entity_extractor_spark.synth import SynthConfig, make_gazetteer

    pipeline_mode = "--pipeline" in sys.argv
    cfg = SynthConfig(seed=42, n_terms=256, n_convs=SYNTH_CONVS, hot_conv_factor=50)
    gaz = make_gazetteer(cfg)
    n = build_corpus(cfg)

    ctrl_low = cpu_control(LOW)
    ctrl_high = cpu_control(HIGH)
    ctrl_eff = (ctrl_high / ctrl_low) / (HIGH / LOW)
    mem_eff = (mem_control(HIGH) / mem_control(LOW)) / (HIGH / LOW)

    job = run_pipeline_at if pipeline_mode else run_at
    visits = int(os.environ.get("SPARK_GRAFT_SCALE_VISITS", "3"))
    t_low = t_high = float("inf")
    history: list[dict] = []
    for v in range(visits):
        tl = job(LOW, gaz, v)
        th = job(HIGH, gaz, v)
        t_low, t_high = min(t_low, tl), min(t_high, th)
        history.append({"visit": v, f"local[{LOW}]": round(tl, 2), f"local[{HIGH}]": round(th, 2)})
        print(json.dumps(history[-1]), flush=True)
    eff = (t_low / t_high) / (HIGH / LOW)
    result = {
        "metric": "pipeline_scaling_efficiency" if pipeline_mode else "scaling_efficiency",
        "value": round(eff, 3),
        "unit": "ratio",
        "queries": {
            f"local[{LOW}]_sec": round(t_low, 2),
            f"local[{HIGH}]_sec": round(t_high, 2),
            f"turns_per_sec_{LOW}": round(n / t_low, 1),
            f"turns_per_sec_{HIGH}": round(n / t_high, 1),
            "cpu_control_eff": round(ctrl_eff, 3),
            "mem_bandwidth_control_eff": round(mem_eff, 3),
        },
        "history": history,
        "n_turns": n,
        "target": 0.8,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
