"""Snapshot-versioned table catalog — the engine's durable-table layer.

SURVEY.md maps the reference's SQLite store + curation delta to Iceberg
tables with snapshot isolation and MERGE INTO. Iceberg jars are not
available in this environment, so this module provides an honest,
minimal stand-in with the same *protocol* over plain parquet:

* every write is a new immutable snapshot directory ``v=N``;
* ``_LATEST`` is a pointer file updated via atomic rename — readers see
  either the old or the new snapshot, never a partial write;
* time travel = ``read_table(..., version=N)``;
* ``merge_into`` = read-latest + latest-wins overlay + write-next —
  semantically Iceberg's MERGE INTO, physically copy-on-write.

On a real cluster this module is the seam to swap for
``df.writeTo("catalog.db.t")`` / ``spark.read.table``. Its callers are
the package API (``write_table``, ``read_table``, ``merge_into``); the
pipelines in ``pipeline.py`` materialize their stages through
``lineage.StageRunner`` instead, which keeps its own fingerprinted stage
directories. A failed job's partial ``v=N+1`` directory is simply never
pointed at.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LATEST = "_LATEST"


def _latest_version(table_dir: str) -> int | None:
    p = os.path.join(table_dir, LATEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(json.load(f)["version"])


def table_versions(table_dir: str) -> list[int]:
    if not os.path.isdir(table_dir):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(table_dir)
        if d.startswith("v=") and os.path.exists(os.path.join(table_dir, d, "_SUCCESS"))
    )


def write_table(
    df: DataFrame, table_dir: str, partition_by: str | None = None
) -> int:
    """Commit a new snapshot; returns its version number."""
    cur = _latest_version(table_dir)
    nxt = 0 if cur is None else cur + 1
    snap = os.path.join(table_dir, f"v={nxt}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = df.repartition(F.col(partition_by)).write.mode("overwrite")
    writer.parquet(snap)
    tmp = os.path.join(table_dir, LATEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"version": nxt}, f)
    os.replace(tmp, os.path.join(table_dir, LATEST))  # atomic pointer swap
    return nxt


def read_table(spark: SparkSession, table_dir: str, version: int | None = None) -> DataFrame:
    """Read the latest (or a time-travel) snapshot."""
    v = _latest_version(table_dir) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    return spark.read.parquet(os.path.join(table_dir, f"v={v}"))


def merge_into(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    order_col: str | None = None,
) -> int:
    """MERGE INTO semantics: upsert ``updates`` over the latest snapshot
    by ``key_cols`` (update-wins; among duplicate update keys the highest
    ``order_col`` wins), committed as a new snapshot."""
    from pyspark.sql import Window

    base = read_table(spark, table_dir)
    if order_col is not None:
        w = Window.partitionBy(*key_cols).orderBy(F.desc(order_col))
        updates = (
            updates.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    untouched = base.join(updates.select(*key_cols).distinct(), key_cols, "left_anti")
    merged = untouched.unionByName(updates.select(*base.columns))
    return write_table(merged, table_dir)
