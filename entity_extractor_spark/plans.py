"""Physical-plan inspection helpers.

These make the scale contract testable: column pruning reached the scan
(ReadSchema), predicates pushed into parquet (PushedFilters), small dims
broadcast (BroadcastHashJoin), and shuffle counts stay at the plan's
theoretical minimum. Used by tests/test_plans.py as regression guards so
a refactor that silently de-optimizes a plan fails CI, mirroring what a
human reviewer checks with .explain("formatted") (SURVEY §4).
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def read_schemas(plan: str) -> list[list[str]]:
    """Column lists of every file scan's ReadSchema in the plan."""
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def pushed_filters(plan: str) -> list[str]:
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        out += [f.strip() for f in m.group(1).split(",") if f.strip()]
    return out


def count_exchanges(plan: str) -> int:
    """Shuffle exchanges only (broadcast exchanges don't repartition).
    Handles both simple ("Exchange hashpartitioning(...)") and formatted
    ("(6) Exchange" + "Arguments: hashpartitioning(...)") explain modes."""
    simple = len(re.findall(r"\bExchange (?:hash|range)partitioning", plan))
    formatted = len(re.findall(r"\(\d+\) Exchange\b", plan))
    return max(simple, formatted)


def has_broadcast_hash_join(plan: str) -> bool:
    return "BroadcastHashJoin" in plan


def has_sort_merge_join(plan: str) -> bool:
    return "SortMergeJoin" in plan


def scan_columns_subset(df: DataFrame, allowed: set[str]) -> bool:
    """True iff every file scan in df's plan reads only ``allowed``."""
    return all(set(cols) <= allowed for cols in read_schemas(formatted_plan(df)))
