#!/usr/bin/env python
"""Measure triple-extraction precision/recall vs the independent regex
oracle on the driver's document corpus (round-3 verdict item 7: publish
the measured P/R next to the throughput claim — BASELINE.json's north
rule is P/R >= 0.95 vs the reference extractor).

The engine path is the full Spark pipeline (Arrow-batched matcher scan,
`operators/mentions.py`); the oracle is the pure-pandas re-implementation
of the reference's regex semantics (`oracle.py`, cites
extraction_engine.py). P/R is set-overlap over the same key tuples the
test gate uses.

Usage: TEST_SF_DIR=/root/testdata/sf0.01 python tools/measure_pr.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    import pandas as pd

    import __spark_entry__ as entry_mod
    from entity_extractor_spark.operators.mentions import extract_mentions
    from entity_extractor_spark.oracle import MENTION_KEYS, oracle_extract, precision_recall
    from entity_extractor_spark.session import get_spark

    spark = get_spark("measure-pr", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    t = entry_mod._docs_as_transcripts(spark, SF_DIR)
    gaz = pd.DataFrame(
        {
            "term_id": [g[0] for g in entry_mod.GAZ],
            "title": [g[1] for g in entry_mod.GAZ],
        }
    )
    engine = extract_mentions(t, gaz).toPandas()
    oracle = oracle_extract(t.toPandas(), gaz)
    p, r = precision_recall(engine, oracle, MENTION_KEYS)
    print(
        f"sf_dir={SF_DIR} turns={t.count()} gazetteer={len(gaz)} "
        f"engine_mentions={len(engine)} oracle_mentions={len(oracle)} "
        f"precision={p:.4f} recall={r:.4f}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
