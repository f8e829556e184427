#!/usr/bin/env python
"""One-shot physical-plan census over every contract query: per key, the
shuffle-exchange count, join strategies, Python-eval node kinds, and the
two anti-patterns that must never appear (cartesian/broadcast-nested-loop
joins in the engine path, row-at-a-time BatchEvalPython anywhere). It
exits 1 when either anti-pattern appears or a query's plan fails to
build.

This makes the per-round "plan audit of the expensive queries" a
reproducible artifact instead of a hand-run .explain session: run it at
any commit and diff the table. tests/test_plans.py pins the hot paths as
hard guards; this tool is the full-surface census.

Usage:
  python tools/plan_census.py                 # table to stdout (sf0.001)
  python tools/plan_census.py --write         # also update docs/PLAN_CENSUS.md
  TEST_SF_DIR=/root/testdata/sf0.01 python tools/plan_census.py

Streaming parity keys are skipped: their callables RUN a checkpointed
stream to completion (the plan of the drained sink read is not the
stream's plan), so a static census would mislead there — the streaming
state/shuffle story lives in tests/test_streaming_stateful.py.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
WRITE = "--write" in sys.argv

# Keys whose cartesian/BNLJ is BY DESIGN and bounded — either a 1-row
# scalar broadcast (attaching a global aggregate: corpus totals, avgdl,
# quantile bounds, sketch rows) or the deliberate brute-force baseline
# arm that exact-verifies/recall-gates a pruned path. Anything NOT in
# this list with cart=YES is a regression.
CARTESIAN_BY_DESIGN = {
    "ann_brute_topk": "the exact O(N*Q) baseline itself; Q=10 broadcast",
    "ann_recall_lsh": "brute-force exact arm of the recall gate",
    "ann_recall_ivf": "brute-force exact arm of the recall gate",
    "ann_ivf_trained": "brute-force exact arm of the recall gate",
    "ann_sq8_topk": "SQ8 compresses, never prunes: scan-all by design",
    "embedding_dups": "exact pair baseline (scale path: embedding_dups_lsh)",
    "scored_candidates": "contract-only candidate gen (prod path: token-index matcher)",
    "bm25_topk": "1-row (N, avgdl) scalar broadcast",
    "heavy_hitters": "1-row total-token-count scalar broadcast",
    "kmv_overlap": "two 1-row sketch structs joined",
    "quantile_calib": "1-row quantile-bounds scalar broadcast",
    "unigram_logprob": "1-row corpus-total scalar broadcast",
}


def main() -> None:
    import __spark_entry__ as entry_mod
    from entity_extractor_spark import plans as P
    from entity_extractor_spark.session import get_spark

    os.environ.setdefault("TEST_SF_DIR", SF_DIR)
    spark = get_spark("plan-census", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    rows = []
    bad_cartesian: list[str] = []
    bad_batch_eval: list[str] = []
    errors: list[str] = []
    for name, fn in sorted(entry_mod.queries().items()):
        if name.endswith("_stream_parity"):
            rows.append((name, "-", "-", "-", "-", "streaming (see tests)"))
            continue
        try:
            plan = P.formatted_plan(fn(spark, SF_DIR))
        except Exception as exc:  # pragma: no cover - census must finish
            rows.append((name, "?", "?", "?", "?", f"ERROR {type(exc).__name__}"))
            errors.append(name)
            continue
        ex = P.count_exchanges(plan)
        joins = []
        if P.has_broadcast_hash_join(plan):
            joins.append("BHJ")
        if P.has_sort_merge_join(plan):
            joins.append("SMJ")
        if "ShuffledHashJoin" in plan:
            joins.append("SHJ")
        py = []
        if "MapInPandas" in plan:
            py.append("MapInPandas")
        if "ArrowEvalPython" in plan:
            py.append("ArrowEval")
        if "FlatMapGroupsInPandas" in plan:
            py.append("GroupsInPandas")
        cart = ("CartesianProduct" in plan) or ("BroadcastNestedLoopJoin" in plan)
        batch_eval = "BatchEvalPython" in plan  # row-at-a-time Python: forbidden
        note = ""
        if cart:
            if name in CARTESIAN_BY_DESIGN:
                note = CARTESIAN_BY_DESIGN[name]
            else:
                bad_cartesian.append(name)
                note = "UNEXPECTED cartesian"
        if batch_eval:
            bad_batch_eval.append(name)
            note = (note + "; " if note else "") + "BatchEvalPython"
        rows.append(
            (
                name,
                str(ex),
                "+".join(joins) or "-",
                "+".join(py) or "-",
                ("by-design" if name in CARTESIAN_BY_DESIGN else "YES") if cart else "-",
                note,
            )
        )
    spark.stop()

    lines = [
        f"# Plan census — every contract query at {SF_DIR}",
        "",
        "Generated by `tools/plan_census.py`. `exch` = shuffle exchanges;",
        "`cart` = CartesianProduct / BroadcastNestedLoopJoin present;",
        "row-at-a-time `BatchEvalPython` is flagged in `note` (must be none).",
        "",
        "| key | exch | joins | python | cart | note |",
        "|---|---|---|---|---|---|",
    ]
    lines += [f"| {n} | {e} | {j} | {p} | {c} | {note} |" for n, e, j, p, c, note in rows]
    lines += [
        "",
        f"Anti-pattern summary: UNEXPECTED cartesian/BNLJ in {len(bad_cartesian)}"
        f" keys {bad_cartesian if bad_cartesian else ''} (by-design bounded"
        f" cartesians are annotated per-row above); row-at-a-time"
        f" BatchEvalPython in {len(bad_batch_eval)} keys"
        f" {bad_batch_eval if bad_batch_eval else ''}; plan failed to build in"
        f" {len(errors)} keys {errors if errors else ''}.",
        "",
    ]
    out = "\n".join(lines)
    print(out)
    if WRITE:
        path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "..", "docs", "PLAN_CENSUS.md"
        )
        with open(path, "w") as f:
            f.write(out)
        print(f"wrote {os.path.normpath(path)}")
    if bad_cartesian or bad_batch_eval or errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
