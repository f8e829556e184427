"""Curation-delta overlay: append-only label corrections merged over the
mention table (SURVEY.md S9/J6).

The reference's dashboard appends ``curation_delta.csv(row_id,
bibcode_label, curator, timestamp)`` and merges it over the base table at
load (`streamlit_dashboard/app.py:60-111`, dedup of conflicting edits at
:334-335). Here the same protocol is relational and scale-safe:

* the delta is an append-only DataFrame/parquet directory — appends never
  rewrite the base table (the cheap operation at 10^12 rows);
* latest-wins conflict resolution is one window
  (``row_number() over (partition by row_id order by ts desc)``);
* the overlay is a LEFT join + ``coalesce`` — on Iceberg this is
  ``MERGE INTO``; the join form below is engine-agnostic and identical
  in result.

``row_id`` follows the reference's UNIQUE key: (conv_id, term_id,
context) — `load_inputs.py:38`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ROW_KEY = ["conv_id", "term_id", "context"]


def with_row_id(mentions: DataFrame) -> DataFrame:
    """Stable row id = md5 of the UNIQUE-key tuple. The pipeline's stored
    mention table keeps ``context`` as word bounds: re-derive it with
    ``mentions.mention_context`` first."""
    return mentions.withColumn(
        "row_id", F.md5(F.concat_ws("\x1f", *[F.col(c) for c in ROW_KEY]))
    )


def latest_delta(delta: DataFrame) -> DataFrame:
    """Latest-wins dedup of conflicting curation edits (`app.py:334-335`)."""
    w = Window.partitionBy("row_id").orderBy(F.desc("ts"), F.desc("curator"))
    return (
        delta.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_curation(mentions: DataFrame, delta: DataFrame) -> DataFrame:
    """Overlay curated labels: base left-join latest delta, coalesce.

    Output adds ``curated_label`` (null when uncurated) and ``label``
    (curated label if present, else the pipeline's likelihood)."""
    base = with_row_id(mentions)
    d = latest_delta(delta).select(
        "row_id", F.col("label").alias("curated_label"), F.col("curator")
    )
    joined = base.join(d, "row_id", "left")
    fallback = (
        F.col("likelihood") if "likelihood" in mentions.columns else F.lit("uncurated")
    )
    return joined.withColumn("label", F.coalesce("curated_label", fallback))


def append_delta(delta_rows: DataFrame, path: str) -> None:
    """Append-only delta sink (the durable commit boundary,
    `app.py:311-346`)."""
    delta_rows.select("row_id", "label", "curator", "ts").write.mode("append").parquet(path)
