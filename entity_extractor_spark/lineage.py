"""Per-file lineage rows, run metrics, and idempotent stage writes
(north rule: "resumable from checkpoint with per-partition lineage +
metrics"; replaces the reference's resume flags at
`run_extraction.py:253-260` and its driver-RAM result collection at
`extraction_engine.py:276-278`).

Design:
* lineage is read from the parquet FOOTERS of a stage's output files —
  one row per file, with the record count and, for a keyed stage, the
  key's min/max from the row-group statistics the writer already kept.
  No Spark job runs and no data page is read, so bookkeeping cost is
  per file, not per row. These are the fields an Iceberg manifest keeps
  per data file (``record_count``, ``lower_bounds``, ``upper_bounds``).
  The footers are the only copy: a runner keeps each stage's rows in
  memory, and a skipped stage re-reads the footers of the table it
  reloads;
* stage idempotence is marker-file based: a stage directory whose
  ``_STAGE_META.json`` matches the requested (stage, params, package
  source digest) fingerprint is trusted and skipped, so a re-run after
  failure resumes at the first incomplete stage (the parquet `_SUCCESS`
  marker guards partial writes), and a root written by other code is
  rebuilt. The marker also stores the stage's schema, so neither a fresh
  nor a resumed stage is reloaded through schema inference. On a cluster
  the same protocol rides on Iceberg snapshots;
* metrics come from the same lineage rows (row counts per stage) plus
  simple wall-clock stamps in the manifest;
* a runner may be called from several threads at once (a pipeline
  overlaps stages that do not feed each other): each stage writes under
  its own directory, its Spark jobs carry the stage name as their job
  description, and ``run_metrics`` keep the runner's ``order`` whatever
  order the stages finish in.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType

from entity_extractor_spark.session import package_digest

STAGE_META = "_STAGE_META.json"


def _key_bounds(md: pq.FileMetaData, col: int) -> tuple[object, object]:
    """Min/max of leaf column ``col`` over a file's row groups; (None,
    None) when the file has no non-null key or a row group holding
    values has no statistics."""
    lo = hi = None
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(col).statistics
        if st is None or not st.has_min_max:
            if st is not None and st.num_values == 0:  # all-null row group
                continue
            return None, None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return lo, hi


def lineage_rows(df: DataFrame, stage: str, key_col: str | None = None) -> pa.Table:
    """One row per parquet file behind ``df``, read from its footer:
    ``partition_id`` (the writing task's number, from the ``part-NNNNN``
    file name), ``n_rows``, and with ``key_col`` the key's ``min_key`` /
    ``max_key``, typed like the key. Runs no Spark job."""
    names, pids, counts, lows, highs = [], [], [], [], []
    for uri in sorted(df.inputFiles()):
        filesystem, path = pafs.FileSystem.from_uri(uri)
        with filesystem.open_input_file(path) as f:
            md = pq.read_metadata(f)
        name = os.path.basename(path)
        names.append(name)
        pids.append(int(name.split("-")[1]))
        counts.append(md.num_rows)
        if key_col is not None:
            leaves = [md.schema.column(i).path for i in range(md.num_columns)]
            lo, hi = _key_bounds(md, leaves.index(key_col))
            lows.append(lo)
            highs.append(hi)
    cols = {
        "stage": pa.array([stage] * len(names), pa.string()),
        "file_name": pa.array(names, pa.string()),
        "partition_id": pa.array(pids, pa.int32()),
        "n_rows": pa.array(counts, pa.int64()),
    }
    if key_col is not None:
        key_type = to_arrow_type(df.schema[key_col].dataType)
        cols["min_key"] = pa.array(lows, key_type)
        cols["max_key"] = pa.array(highs, key_type)
    return pa.table(cols)


def _fingerprint(stage: str, params: dict, code: str) -> str:
    """sha1 of the stage name, its params and the package's source
    digest: a marker written by other code is not trusted."""
    import hashlib

    blob = json.dumps({"stage": stage, "params": params, "code": code}, sort_keys=True)
    return hashlib.sha1(blob.encode()).hexdigest()


@dataclass
class StageRunner:
    """Idempotent, lineage-tracked stage execution under one output root."""

    spark: SparkSession
    root: str
    # the stages' pipeline order: run_metrics, the manifest and lineage()
    # list stages in it (a stage not named follows, in finishing order)
    order: tuple[str, ...] = ()
    run_metrics: list[dict] = field(default_factory=list)
    # read once per runner (a lambda, so the module global is looked up
    # at construction): every stage it runs is fingerprinted with it
    code: str = field(init=False, default_factory=lambda: package_digest())
    # each stage's lineage rows, from the footers of its written or reloaded table
    _lineage: dict[str, pa.Table] = field(init=False, repr=False, default_factory=dict)
    _lock: threading.Lock = field(init=False, repr=False, default_factory=threading.Lock)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _done_meta(self, stage: str, params: dict | None) -> dict | None:
        """The stage's marker when a completed run with this fingerprint
        (and a stored schema) exists, else None."""
        meta_path = os.path.join(self._dir(stage), STAGE_META)
        success = os.path.join(self._dir(stage), "_SUCCESS")
        if not (os.path.exists(meta_path) and os.path.exists(success)):
            return None
        with open(meta_path) as f:
            meta = json.load(f)
        fingerprint = _fingerprint(stage, params or {}, self.code)
        if meta.get("fingerprint") != fingerprint or "schema" not in meta:
            return None
        return meta

    def _record(self, metric: dict) -> None:
        rank = {s: i for i, s in enumerate(self.order)}
        with self._lock:
            self.run_metrics.append(metric)
            self.run_metrics.sort(key=lambda m: rank.get(m["stage"], len(rank)))

    def run(
        self,
        stage: str,
        build: "callable",
        params: dict | None = None,
        key_col: str | None = None,
        partition_by: str | None = None,
    ) -> DataFrame:
        """Materialize ``build()`` to parquet under root/stage unless an
        identical completed run exists; returns the (re)loaded DataFrame
        so downstream stages read the materialized, lineage-truncated
        table (the checkpoint that makes the whole job resumable).

        The stage's Spark jobs carry ``stage`` as their job description;
        the caller's description is restored afterwards and its job group
        is left alone."""
        sc = self.spark.sparkContext
        caller = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(stage)
        try:
            return self._materialize(stage, build, params, key_col, partition_by)
        finally:
            sc.setLocalProperty("spark.job.description", caller)

    def _materialize(
        self,
        stage: str,
        build: "callable",
        params: dict | None,
        key_col: str | None,
        partition_by: str | None,
    ) -> DataFrame:
        out = self._dir(stage)
        meta = self._done_meta(stage, params)
        if meta is not None:
            loaded = self.spark.read.schema(StructType.fromJson(meta["schema"])).parquet(out)
            self._lineage[stage] = lineage_rows(loaded, stage, key_col)
            self._record({"stage": stage, "skipped": True})
            return loaded
        t0 = time.perf_counter()
        df = build()
        if partition_by:
            df = df.repartition(F.col(partition_by))
        df.write.mode("overwrite").parquet(out)
        loaded = self.spark.read.schema(df.schema).parquet(out)
        lin = self._lineage[stage] = lineage_rows(loaded, stage, key_col)
        n = pc.sum(lin["n_rows"]).as_py() or 0
        self._record(
            {
                "stage": stage,
                "skipped": False,
                "rows": n,
                "wall_s": round(time.perf_counter() - t0, 3),
            }
        )
        meta = {
            "fingerprint": _fingerprint(stage, params or {}, self.code),
            "rows": n,
            "schema": df.schema.jsonValue(),
        }
        # the marker makes the stage count as done: write it whole or not at all
        tmp = os.path.join(out, STAGE_META + ".tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(out, STAGE_META))
        return loaded

    def write_manifest(self) -> str:
        path = os.path.join(self.root, "_RUN_MANIFEST.json")
        payload = {"metrics": self.run_metrics, "completed_utc": time.time()}
        with open(path, "w") as f:
            json.dump(payload, f, indent=2)
        return path

    def lineage(self) -> DataFrame:
        """The lineage rows of the stages this runner ran or skipped."""
        tables = [self._lineage[m["stage"]] for m in self.run_metrics]
        return self.spark.createDataFrame(pa.concat_tables(tables, promote_options="default"))
