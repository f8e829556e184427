"""Event-stream product analytics: ordered funnels, retention cohorts,
and transition matrices over the events table.

The classic web-analytics trio a transcript/event warehouse serves
(the reference's closest surface is the dashboard's flat value_counts,
`app.py:210-214`; these are the stateful-sequence forms those counts
cannot express). All three are pure Catalyst — filtered aggregations,
windows, and equi joins keyed on the user id the events table is
bucketed by at scale — with exact integer outputs, so the DuckDB twins
hash-match bit-for-bit.

Scale shapes:

* funnel — k (number of steps, small) filtered min-aggregations chained
  by equi joins on the user key: every join is user-keyed, so on a
  user-bucketed table the whole funnel is co-located with zero extra
  exchanges; nothing ever materializes per-event state.
* retention — two aggregations (first-week per user, distinct
  user-weeks) joined on the user key, then a count keyed by
  (cohort, offset) — thousands of cells regardless of corpus size.
* transitions — one lag window per user (ordered by (ts, event_id) so
  ties are deterministic) feeding a partial-aggregated pair count; the
  output is |event_type|^2 rows.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Strict-ordered funnel: a user reaches step i when an event of
    ``steps[i]`` occurs strictly after their earliest qualifying
    occurrence of step i-1 (earliest-completion semantics — taking the
    min qualifying time at every step is optimal, so a user who can
    complete the funnel in any interleaving is counted). Output: one
    row per step with the surviving user count.

    Plan: one filtered partial/final aggregate per step, chained by equi
    joins on the user key only — no window over the event stream, no
    per-event state. On a user-bucketed events table every join
    co-locates, and AQE broadcasts the shrinking survivor side."""
    cur: DataFrame | None = None
    out = []
    for i, st in enumerate(steps):
        e = events.filter(F.col(type_col) == st).select(
            F.col(user_col).alias("u"), F.col(ts).alias("t")
        )
        if cur is None:
            cur = e.groupBy("u").agg(F.min("t").alias("t"))
        else:
            cur = (
                e.join(cur.select("u", F.col("t").alias("pt")), "u")
                .filter(F.col("t") > F.col("pt"))
                .groupBy("u")
                .agg(F.min("t").alias("t"))
            )
        out.append(
            cur.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(i + 1).alias("step"),
                F.lit(st).alias("event_type"),
                "n_users",
            )
        )
    return reduce(lambda a, b: a.unionByName(b), out)


def funnel_steps_sql(
    steps: list[str], rel: str = "events"
) -> str:
    """DuckDB twin of :func:`funnel_steps` (same chained min-ts CTEs).
    Step names are caller-supplied, so embedded single quotes are
    SQL-escaped at interpolation time."""
    ctes = []
    prev = None
    esc = [st.replace("'", "''") for st in steps]
    for i, st in enumerate(esc):
        name = f"_fn_s{i}"
        if prev is None:
            ctes.append(
                f"{name} AS (SELECT user_id AS u, min(ts) AS t FROM {rel}"
                f" WHERE event_type = '{st}' GROUP BY user_id)"
            )
        else:
            ctes.append(
                f"""{name} AS (
                  SELECT e.user_id AS u, min(e.ts) AS t
                  FROM {rel} e JOIN {prev} p ON e.user_id = p.u
                  WHERE e.event_type = '{st}' AND e.ts > p.t
                  GROUP BY e.user_id
                )"""
            )
        prev = name
    selects = [
        f"SELECT {i + 1} AS step, '{st}' AS event_type,"
        f" (SELECT count(*) FROM _fn_s{i}) AS n_users"
        for i, st in enumerate(esc)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def retention_cohorts(
    events: DataFrame, user_col: str = "user_id", ts: str = "ts"
) -> DataFrame:
    """Weekly retention triangle: cohort = the Monday-truncated week of
    a user's first event; one output row per (cohort_week, week_offset)
    with the count of cohort users active in that week. ``week_offset``
    0 is the cohort week itself, so every cohort's offset-0 row is its
    size."""
    wk = F.to_date(F.date_trunc("week", F.col(ts)))
    first = events.groupBy(F.col(user_col).alias("u")).agg(
        F.min(wk).alias("cohort_week")
    )
    active = events.select(
        F.col(user_col).alias("u"), wk.alias("wk")
    ).dropDuplicates(["u", "wk"])
    return (
        active.join(first, "u")
        .select(
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / F.lit(7))
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def retention_cohorts_sql(rel: str = "events") -> str:
    """DuckDB twin of :func:`retention_cohorts`. datediff is mirrored in
    days / 7 (both truncations are Monday-based, so the difference is an
    exact multiple of 7 and the cast is lossless)."""
    return f"""WITH _rc_first AS (
          SELECT user_id AS u,
                 CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
          FROM {rel} GROUP BY user_id
        ),
        _rc_active AS (
          SELECT DISTINCT user_id AS u,
                 CAST(date_trunc('week', ts) AS DATE) AS wk
          FROM {rel}
        )
        SELECT f.cohort_week,
               CAST(date_diff('day', f.cohort_week, a.wk) / 7 AS BIGINT) AS week_offset,
               count(*) AS n_users
        FROM _rc_active a JOIN _rc_first f USING (u)
        GROUP BY f.cohort_week, week_offset"""


def json_field_stats(
    events: DataFrame,
    field: str = "k",
    group_col: str = "event_type",
    props_col: str = "props",
) -> DataFrame:
    """Per-group stats of one integer field extracted from a JSON
    payload column — the semi-structured analytics shape (event
    properties, tool-call arguments, crawl metadata ride along as JSON
    strings; the warehouse queries INTO them without a schema
    migration). Extraction stays in whole-stage codegen
    (``get_json_object`` + an explicit integral-only regexp guard
    before the cast: missing keys, malformed JSON, and any non-integral
    value — including ``10.5`` / ``1e3``, where Spark's try_cast and
    DuckDB's TRY_CAST would otherwise disagree — degrade to NULL
    identically on both engines), and the aggregate is exact integer
    arithmetic."""
    s = F.get_json_object(F.col(props_col), f"$.{field}")
    k = F.when(s.rlike(r"^\s*-?\d+\s*$"), s.try_cast("long"))
    return events.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(k).alias("n_with_field"),
        F.min(k).alias("min_v"),
        F.max(k).alias("max_v"),
        F.sum(k).alias("sum_v"),
    )


def json_field_stats_sql(
    rel: str = "events", field: str = "k", group_col: str = "event_type"
) -> str:
    """DuckDB twin of :func:`json_field_stats` (json_extract_string
    behind the same integral-only regexp guard as the Spark side, so
    fractional / scientific-notation values — where bare TRY_CAST
    semantics differ between the engines — degrade to NULL on both;
    the inner TRY_CAST to JSON makes malformed payloads degrade to NULL
    too, where DuckDB's json_extract_string on VARCHAR would throw)."""
    raw = f"json_extract_string(TRY_CAST(props AS JSON), '$.{field}')"
    k = (
        f"(CASE WHEN regexp_matches({raw}, '^\\s*-?\\d+\\s*$') "
        f"THEN TRY_CAST({raw} AS BIGINT) END)"
    )
    return f"""SELECT {group_col}, count(*) AS n_events,
               count({k}) AS n_with_field,
               min({k}) AS min_v, max({k}) AS max_v,
               CAST(sum({k}) AS BIGINT) AS sum_v
        FROM {rel} GROUP BY {group_col}"""


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-user consecutive-event transition counts (the first-order
    Markov matrix of the event stream). Ordering ties on identical
    timestamps are broken by the event id, so the pair stream — and the
    hash — is deterministic on both engines."""
    w = Window.partitionBy(user_col).orderBy(ts, id_col)
    return (
        events.withColumn("prev_type", F.lag(type_col).over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col(type_col).alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def event_transitions_sql(rel: str = "events") -> str:
    """DuckDB twin of :func:`event_transitions` (same tie-break)."""
    return f"""WITH _et_l AS (
          SELECT event_type AS next_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_type
          FROM {rel}
        )
        SELECT prev_type, next_type, count(*) AS n
        FROM _et_l WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type"""
