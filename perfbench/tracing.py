"""Measurement helpers for the KG-job benchmark.

* ``/proc`` samplers: hypervisor steal ticks, and the memory and CPU
  time of the Spark JVM plus its Python workers;
* ``Tracer``: spans recorded from outside the program, by wrapping
  ``lineage.StageRunner.run`` and ``lineage.lineage_rows``, with each
  stage's Spark jobs in their own job group, and the round count of
  ``canonicalize.connected_components``;
* ``fold_event_log``: folds the uncompressed Spark JSON event log into
  per-group task rows with stdlib ``json``;
* ``kernel_micro``: single-thread timings of the matcher kernel on a
  fixed turn sample.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

STAGES = ["mentions", "scored", "entity_map", "triples", "edges", "nodes"]
_HZ = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------- /proc


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size. Unlike summed RSS it counts a page
    shared by forked processes once, so a short-lived fork of the JVM or
    a forked Python worker does not double the total."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # exited while sampling
            continue
    return total


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU time of ``pids`` and their reaped children."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ticks / _HZ


class RssSampler:
    """Peak summed PSS of every descendant of this process (the JVM and
    the Python worker daemon with its forks), sampled by one thread
    while ``active`` is set."""

    INTERVAL_S = 0.2

    def __init__(self) -> None:
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.INTERVAL_S):
            if self.active.is_set():
                self.peak = max(self.peak, pss_bytes(descendants(me)))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------- tracer


class Tracer:
    """Spans and counters recorded around the program's public functions.

    Use ``with tracer.patched(spark, op):`` around one ``run_pipeline``
    call. Its Spark jobs run under the job group ``op``, each stage's
    under ``op:<stage>`` and the stage's lineage bookkeeping under
    ``op:<stage>.lineage``. Every patched attribute is restored on exit.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.cc_rounds: list[int] = []
        self._lineage_t0: float | None = None
        self._t0 = time.perf_counter()

    def _span(self, name: str, parent: str, t0: float, t1: float, **extra) -> None:
        self.spans.append(
            {"name": name, "parent": parent, "start": t0 - self._t0, "end": t1 - self._t0, **extra}
        )

    @contextmanager
    def patched(self, spark, op: str):
        from entity_extractor_spark import lineage
        from entity_extractor_spark.operators import canonicalize

        sc = spark.sparkContext
        tracer = self
        saved: list[tuple[object, str, object]] = []

        def patch(owner, name, make):
            orig = getattr(owner, name)
            saved.append((owner, name, orig))
            setattr(owner, name, make(orig))

        def stage_run(orig):
            def run(runner, stage, build, params=None, key_col=None, partition_by=None):
                tracer._lineage_t0 = None
                sc.setJobGroup(f"{op}:{stage}", f"{op} stage {stage}")
                t0 = time.perf_counter()
                try:
                    return orig(runner, stage, build, params, key_col, partition_by)
                finally:
                    t1 = time.perf_counter()
                    lt0 = tracer._lineage_t0
                    tracer._span(stage, op, t0, t1, bookkeeping_s=(t1 - lt0) if lt0 else 0.0)
                    sc.setJobGroup(op, f"op {op}")

            return run

        def lineage_rows(orig):
            def wrapped(df, stage, key_col=None):
                tracer._lineage_t0 = time.perf_counter()
                sc.setJobGroup(f"{op}:{stage}.lineage", f"{op} lineage {stage}")
                return orig(df, stage, key_col)

            return wrapped

        def cc(orig):
            @functools.wraps(orig)
            def wrapped(*args, **kwargs):
                telemetry = kwargs.pop("telemetry", None)
                telemetry = {} if telemetry is None else telemetry
                try:
                    return orig(*args, telemetry=telemetry, **kwargs)
                finally:
                    tracer.cc_rounds.append(int(telemetry.get("rounds", 0)))

            return wrapped

        patch(lineage.StageRunner, "run", stage_run)
        patch(lineage, "lineage_rows", lineage_rows)
        patch(canonicalize, "connected_components", cc)
        sc.setJobGroup(op, f"op {op}")
        t0 = time.perf_counter()
        try:
            yield self
        finally:
            self._span(op, "", t0, time.perf_counter())
            for owner, name, orig in reversed(saved):
                setattr(owner, name, orig)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def stage_span(self, op: str, stage: str) -> dict:
        return next(s for s in self.spans if s["parent"] == op and s["name"] == stage)


# ------------------------------------------------------------ event log


def _group() -> dict:
    return {
        "jobs": 0, "task_ms": [], "run_ms": 0, "gc_ms": 0, "peak_mem": 0,
        "shuffle_read": 0, "shuffle_write": 0, "shuffle_records": 0, "spill": 0,
    }


def fold_event_log(path: str) -> dict[str, dict]:
    """Per job group: jobs, task durations and summed task metrics."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def group(name: str) -> dict:
        return groups.setdefault(name, _group())

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                name = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                group(name)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = name
            elif kind == "SparkListenerTaskEnd":
                g = group(stage_group.get(ev["Stage ID"], "none"))
                info = ev["Task Info"]
                g["task_ms"].append(info["Finish Time"] - info["Launch Time"])
                m = ev.get("Task Metrics") or {}
                g["run_ms"] += m.get("Executor Run Time", 0)
                g["gc_ms"] += m.get("JVM GC Time", 0)
                g["peak_mem"] = max(g["peak_mem"], m.get("Peak Execution Memory", 0))
                g["spill"] += m.get("Disk Bytes Spilled", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                g["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                g["shuffle_records"] += sw.get("Shuffle Records Written", 0)
    return groups


def stage_rows(groups: dict[str, dict], tracer: Tracer, op: str) -> dict[str, float]:
    """The per-stage part of the per-layer metrics for one traced op."""
    out: dict[str, float] = {}
    empty = _group()
    for stage in STAGES:
        g = groups.get(f"{op}:{stage}", empty)
        lin = groups.get(f"{op}:{stage}.lineage", empty)
        tasks = g["task_ms"] + lin["task_ms"]
        span = tracer.stage_span(op, stage)
        out[f"{stage}.wall_s"] = span["end"] - span["start"]
        out[f"{stage}.task_s"] = (g["run_ms"] + lin["run_ms"]) / 1000.0
        out[f"{stage}.task_p50_s"] = statistics.median(tasks) / 1000.0 if tasks else 0.0
        out[f"{stage}.task_max_s"] = max(tasks) / 1000.0 if tasks else 0.0
        out[f"{stage}.shuffle_read_bytes"] = g["shuffle_read"] + lin["shuffle_read"]
        out[f"{stage}.shuffle_write_bytes"] = g["shuffle_write"] + lin["shuffle_write"]
        out[f"{stage}.spill_bytes"] = g["spill"] + lin["spill"]
        out[f"{stage}.gc_s"] = (g["gc_ms"] + lin["gc_ms"]) / 1000.0
        out[f"{stage}.bookkeeping_s"] = span["bookkeeping_s"]
    m = groups.get(f"{op}:mentions", empty)
    # the conv_id exchange follows the scan directly, so the records it
    # writes are the raw (pre-dedup) mention rows
    out["mentions.scanned_rows"] = m["shuffle_records"]
    out["scored.peak_exec_mem_bytes"] = groups.get(f"{op}:scored", empty)["peak_mem"]
    out["entity_map.jobs"] = groups.get(f"{op}:entity_map", empty)["jobs"]
    return out


# ---------------------------------------------------------------- kernel


def kernel_micro(texts: list[str], gazetteer, reps: int = 5) -> dict[str, float]:
    """Single-thread matcher kernel timings on a fixed turn sample:
    median over ``reps`` passes of ``GazetteerMatcher.find`` per turn and
    ``WordIndex.window`` per found span."""
    from entity_extractor_spark.matching.context import DEFAULT_WINDOW_WORDS, WordIndex
    from entity_extractor_spark.operators.mentions import build_matcher_from_gazetteer

    matcher, _ = build_matcher_from_gazetteer(gazetteer)
    found = [(t, matcher.find(t)) for t in texts]
    hits = [(t, spans) for t, spans in found if spans]
    n_spans = sum(len(s) for _, s in hits)
    find_s, window_s = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        for t in texts:
            matcher.find(t)
        find_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for t, spans in hits:
            widx = WordIndex(t)
            for s in spans:
                widx.window(s.start, s.end, DEFAULT_WINDOW_WORDS)
        window_s.append(time.perf_counter() - t0)
    return {
        "matcher.find_us_per_turn": 1e6 * statistics.median(find_s) / len(texts),
        "context.window_us_per_mention": 1e6 * statistics.median(window_s) / max(1, n_spans),
        "matcher.hit_turn_ratio": len(hits) / len(texts),
    }
