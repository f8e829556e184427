"""Relational / pipeline operator queries: the SURVEY.md §2 rows not
covered by the core set in __spark_entry__.py, each with an exact DuckDB
oracle.

Keys -> SURVEY rows:
  inverted_index      J3   explode + collect into per-key sorted term list
  pos_zip_join        J5   positional array alignment (posexplode)
  delta_merge         J6/S9 append-only delta overlay with latest-wins dedup
  set_classify        J7   classification via key-set membership joins
  count_distinct      A1   exact countDistinct
  quantile_calib      A7   quantile thresholds -> bucket counts
  distinct_sorted     A9   distinct + sort
  avg_text_len        A13  mean string length per group
  canonical_names     F3   pre-colon canonical-name extraction
  char_window         F5   char-window context around a match
  normalize_digest    F6   whitespace/case normalization (md5 digest)
  url_keys            F7   URL -> key regex extraction
  span_find           F9   all-occurrence span finding (relational form)
  sliding_chunks      F10  fixed-size word chunks with overlap
  autocomplete_rank   O5/F14 prefix-first ranking + preview truncation
  patch_append        U4 + J6 union patch, latest-wins
  substring_search    P5   case-insensitive contains with colon fallback
  facet_filter        P6/P8 multi-column isin + non-empty filters
  likelihood_filter   P4   ordinal-category filter
  cc_components       custom CC union-find (oracle: recursive CTE closure)
  predicate_triples   W4   lag/lead adjacent-turn relation extraction
  graph_edges         R6   salted edge-weight aggregation
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from entity_extractor_spark.functions import text as T

SPAN_TERM = "query"  # F9 target literal (case-sensitive, regex-safe)
CHUNK_SIZE = 20
CHUNK_OVERLAP = 5
FACET_TYPES = ["click", "view"]
FACET_USERS = list(range(0, 40))

# Embedded alias gazetteer for canonicalization (two clusters: t1/t2/t3
# merge via shared aliases; t4 stays its own component).
ALIAS_GAZ = [
    ("t1", "Spark: a distributed engine", ["apache spark", "spark engine"]),
    ("t2", "Spark Engine", ["spark engine", "sparkly"]),
    ("t3", "Apache Spark", ["apache spark"]),
    ("t4", "Vector Kernel: columnar exec", ["vkernel"]),
]


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from entity_extractor_spark.io.sources import load_table

    return load_table(spark, sf_dir, name)


def _doc_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> role/tool-tagged pseudo-transcripts (deterministic):
    50 interleaved conversations; en->user, de->assistant, other->tool
    with the source column as tool name."""
    d = _load(spark, sf_dir, "documents")
    role = (
        F.when(F.col("lang") == "en", "user")
        .when(F.col("lang") == "de", "assistant")
        .otherwise("tool")
    )
    return d.select(
        F.concat(F.lit("conv-"), F.lpad((F.col("doc_id") % 50).cast("string"), 6, "0")).alias(
            "conv_id"
        ),
        (F.col("doc_id") / 50).cast("int").alias("turn_idx"),
        role.alias("role"),
        "text",
        F.when(role == "tool", F.col("source")).alias("tool"),
    )


_DOC_TRANSCRIPTS_SQL = """
          SELECT 'conv-' || lpad(CAST(doc_id % 50 AS VARCHAR), 6, '0') AS conv_id,
                 CAST(doc_id // 50 AS INT) AS turn_idx,
                 CASE WHEN lang = 'en' THEN 'user'
                      WHEN lang = 'de' THEN 'assistant' ELSE 'tool' END AS role,
                 text,
                 CASE WHEN lang NOT IN ('en', 'de') THEN source END AS tool
          FROM documents
"""


# --------------------------------------------------------------------------- queries


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: user -> sorted distinct event types, as csv (deterministic)."""
    ev = _load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("types_csv"))
        .orderBy("user_id")
    )


def q_pos_zip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: positional explode of the first 3 tokens per document."""
    d = _load(spark, sf_dir, "documents")
    toks = F.slice(T.tokenize(F.col("text"), lowered=False), 1, 3)
    return (
        d.select("doc_id", F.posexplode(toks).alias("pos", "token"))
        .orderBy("doc_id", "pos")
    )


def q_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/S9: two-version delta overlay, latest-wins by ts, then verify
    via per-type aggregates of the merged table."""
    ev = _load(spark, sf_dir, "events")
    hit = F.col("event_id") % 97 == 0
    d1 = ev.filter(hit).select(
        "event_id", (F.col("value") + 100).alias("new_value"), F.expr("ts + interval 1 hour").alias("dts")
    )
    d2 = ev.filter(hit).select(
        "event_id", (F.col("value") + 200).alias("new_value"), F.expr("ts + interval 2 hour").alias("dts")
    )
    delta = d1.unionByName(d2)
    w = Window.partitionBy("event_id").orderBy(F.desc("dts"))
    latest = (
        delta.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn", "dts")
    )
    merged = ev.join(latest, "event_id", "left").select(
        "event_id",
        "event_type",
        F.coalesce("new_value", "value").alias("value"),
        F.col("new_value").isNotNull().alias("patched"),
    )
    return (
        merged.groupBy("event_type")
        .agg(
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.sum(F.col("patched").cast("long")).alias("n_patched"),
        )
        .orderBy("event_type")
    )


def q_set_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: customers labeled by nation-set membership (region 0 ->
    positive, region 1 -> negative, else uncurated)."""
    cust = _load(spark, sf_dir, "customer")
    nation = _load(spark, sf_dir, "nation")
    pos = nation.filter(F.col("n_regionkey") == 0).select(F.col("n_nationkey").alias("k")).withColumn("lbl_p", F.lit(1))
    neg = nation.filter(F.col("n_regionkey") == 1).select(F.col("n_nationkey").alias("k")).withColumn("lbl_n", F.lit(1))
    out = (
        cust.join(F.broadcast(pos), cust.c_nationkey == pos.k, "left")
        .join(F.broadcast(neg), cust.c_nationkey == neg.k, "left")
        .withColumn(
            "label",
            F.when(F.col("lbl_p").isNotNull(), "positive")
            .when(F.col("lbl_n").isNotNull(), "negative")
            .otherwise("uncurated"),
        )
    )
    return out.groupBy("label").agg(F.count(F.lit(1)).alias("n")).orderBy("label")


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: exact distinct users + days per event type."""
    ev = _load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct(F.to_date("ts")).alias("n_days"),
        )
        .orderBy("event_type")
    )


def q_quantile_calib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: quartile thresholds of value -> bucket counts (exact
    interpolated percentile on both engines)."""
    ev = _load(spark, sf_dir, "events")
    qs = ev.agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.50)").alias("q2"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    b = ev.crossJoin(F.broadcast(qs)).select(
        F.when(F.col("value") < F.col("q1"), "q1")
        .when(F.col("value") < F.col("q2"), "q2")
        .when(F.col("value") < F.col("q3"), "q3")
        .otherwise("q4")
        .alias("bucket")
    )
    return b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).orderBy("bucket")


def q_distinct_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: sorted distinct label list."""
    return _load(spark, sf_dir, "events").select("event_type").distinct().orderBy("event_type")


def q_avg_text_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: mean text length per lang."""
    return (
        _load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.round(F.avg(F.length("text")), 4).alias("mean_len"))
        .orderBy("lang")
    )


def q_canonical_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: pre-colon canonical name on the embedded gazetteer."""
    rows = [(tid, title) for tid, title, _ in ALIAS_GAZ]
    g = spark.createDataFrame(rows, "term_id string, title string")
    return g.select("term_id", T.canonical_name(F.col("title")).alias("canonical")).orderBy(
        "term_id"
    )


def q_char_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: ±30-char window around the first 'merge' occurrence."""
    d = _load(spark, sf_dir, "documents")
    pos = F.instr(F.col("text"), "merge")
    return (
        d.filter(pos > 0)
        .select(
            "doc_id",
            T.char_window(F.col("text"), pos, pos + F.lit(len("merge") - 1), 30).alias("ctx"),
        )
        .orderBy("doc_id")
    )


def q_normalize_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: normalization digest per doc."""
    d = _load(spark, sf_dir, "documents")
    return d.select("doc_id", F.md5(T.normalize_text(F.col("text"))).alias("digest")).orderBy(
        "doc_id"
    )


def q_url_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: abs/<key> extraction from synthesized URLs."""
    d = _load(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://host/abs/DOC"), F.col("doc_id").cast("string"), F.lit("?q=1"))
    return d.select("doc_id", T.extract_url_key(url).alias("key")).orderBy("doc_id")


def q_span_find(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: 0-based start offsets of every case-sensitive occurrence,
    relationally: split -> posexplode -> running-sum window."""
    d = _load(spark, sf_dir, "documents")
    parts = F.split(F.col("text"), SPAN_TERM, -1)
    e = d.select("doc_id", F.size(parts).alias("n"), F.posexplode(parts).alias("pos", "part"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    cum = F.sum(F.length("part")).over(w)
    return (
        e.withColumn("start", (cum + F.col("pos") * F.lit(len(SPAN_TERM))).cast("long"))
        .filter(F.col("pos") < F.col("n") - 1)
        .select("doc_id", F.col("pos").alias("occ"), "start")
        .orderBy("doc_id", "occ")
    )


def q_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: 20-word chunks, 5-word overlap; per-chunk token count + head."""
    d = _load(spark, sf_dir, "documents")
    # safe to inline the tokenize expression: sliding_chunks binds its
    # token argument structurally (one evaluation per row, not per chunk)
    chunks = T.sliding_chunks(T.tokenize(F.col("text"), lowered=False), CHUNK_SIZE, CHUNK_OVERLAP)
    e = d.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
    return e.select(
        "doc_id",
        "chunk_idx",
        F.size(F.split(F.col("chunk"), " ")).cast("long").alias("n_tokens"),
        F.split(F.col("chunk"), " ").getItem(0).alias("first_token"),
    ).orderBy("doc_id", "chunk_idx")


def q_autocomplete_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5/F14: distinct tokens matching 'a' ranked prefix-first then
    alphabetically, truncated preview, top 15."""
    d = _load(spark, sf_dir, "documents")
    toks = (
        d.select(F.explode(F.array_distinct(T.tokenize(F.col("text")))).alias("tok"))
        .filter(F.col("tok").contains("a"))
        .distinct()
    )
    ranked = toks.select(
        "tok",
        F.when(F.col("tok").startswith("a"), 0).otherwise(1).alias("grp"),
        T.truncate_ellipsis(F.col("tok"), 6).alias("preview"),
    )
    return ranked.orderBy("grp", "tok").limit(15)


def q_patch_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4: append corrected rows, latest-wins by version, then aggregate."""
    o = _load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    base = o.withColumn("version", F.lit(0))
    patch = (
        o.filter(F.col("o_orderkey") % 1000 == 0)
        .select(
            "o_orderkey",
            F.lit("X").alias("o_orderstatus"),
            (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        )
        .withColumn("version", F.lit(1))
    )
    allrows = base.unionByName(patch)
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("version"))
    latest = allrows.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        latest.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("o_orderstatus")
    )


def q_substring_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: case-insensitive contains('hash join'), per-lang hit counts."""
    d = _load(spark, sf_dir, "documents")
    return (
        d.filter(F.lower(F.col("text")).contains("hash join"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang")
    )


def q_indexed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 at scale: the same case-insensitive substring query routed
    through the char-trigram posting index (operators/search.py); the
    oracle is the ground-truth naive scan, so the hash match proves the
    index path returns the identical result set."""
    from entity_extractor_spark.operators.search import (
        build_gram_postings,
        indexed_substring_search,
    )

    d = _load(spark, sf_dir, "documents")
    idx = build_gram_postings(d)
    return (
        indexed_substring_search(d, "hash join", postings=idx)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def q_facet_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/P8: conjunctive isin facets + non-empty props."""
    ev = _load(spark, sf_dir, "events")
    return (
        ev.filter(
            F.col("event_type").isin(FACET_TYPES)
            & F.col("user_id").isin(FACET_USERS)
            & F.col("props").isNotNull()
            & (F.col("props") != "")
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


def q_likelihood_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: ordinal filter >= 'somewhat likely' over the composite score."""
    from entity_extractor_spark.operators.scoring import (
        assign_likelihood,
        composite_score,
        filter_by_likelihood,
        keyword_hits,
    )
    import __spark_entry__ as entry_mod

    d = _load(spark, sf_dir, "documents")
    ner = F.lower(F.col("text")).contains("spark")
    sim = (F.col("n_chars") % 97).cast("double") / 96.0
    kw = F.size(keyword_hits(F.col("text"), entry_mod.KEYWORDS))
    lik = assign_likelihood(composite_score(ner, sim, kw))
    return (
        filter_by_likelihood(d.select("doc_id", lik.alias("likelihood")), "somewhat likely")
        .groupBy("likelihood")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("likelihood")
    )


def q_cc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom CC union-find over the embedded alias gazetteer; oracle is
    a recursive-CTE transitive closure."""
    from entity_extractor_spark.operators.canonicalize import alias_edges, connected_components

    rows = [(tid, title, aliases) for tid, title, aliases in ALIAS_GAZ]
    g = spark.createDataFrame(rows, "term_id string, title string, aliases array<string>")
    comp = connected_components(alias_edges(g))
    return comp.orderBy("node")


def q_predicate_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: uses_tool + replies_to lag/lead triples over doc-transcripts."""
    from entity_extractor_spark.operators.predicates import turn_pair_triples

    trip = turn_pair_triples(_doc_transcripts(spark, sf_dir))
    return trip.select("subj", "pred", "obj").orderBy("pred", "subj", "obj")


def _mention_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """conv -mentions-> term edges over doc-transcripts, built by the
    pipeline's own :func:`build_edges`: weight = distinct turns
    mentioning the term."""
    from entity_extractor_spark.operators.graph import build_edges
    from entity_extractor_spark.operators.mentions import extract_mentions
    import __spark_entry__ as entry_mod
    import pandas as pd

    t = _doc_transcripts(spark, sf_dir)
    pdf = pd.DataFrame(
        {"term_id": [g[0] for g in entry_mod.GAZ], "title": [g[1] for g in entry_mod.GAZ]}
    )
    m = extract_mentions(t, pdf).select("conv_id", "turn_idx", "term_id").dropDuplicates(
        ["conv_id", "turn_idx", "term_id"]
    )
    return build_edges(
        m.select(
            F.col("conv_id").alias("subj"),
            F.lit("mentions").alias("pred"),
            F.col("term_id").alias("obj"),
        )
    )


def q_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6: edge weights — conv -mentions-> term, weight = distinct turns
    mentioning it."""
    return (
        _mention_edges(spark, sf_dir)
        .select("src", "dst", F.col("weight").cast("long").alias("weight"))
        .orderBy("src", "dst")
    )


EXACT_SCAN_LABELS = ["spark", "hash", "merge", "window", "merge batch"]

# alias-aware gazetteer: term -> [canonical + aliases]; every surface is
# word-boundary matched case-insensitively (include_aliases path)
ALIAS_SCAN_GAZ = [
    ("a1", "Spark: engine", ["stream", "scan"]),
    ("a2", "Merge Batch: compaction", ["merge"]),
]


def q_exact_mode_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 exact variant: case-SENSITIVE token-gated occurrence scan via
    the matcher kernel in 'exact' mode (`batch_filter.py:31-56`)."""
    from entity_extractor_spark.matching.matcher import GazetteerMatcher
    from entity_extractor_spark.operators.mentions import scan_mentions

    d = _load(spark, sf_dir, "documents")
    t = d.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
    )
    matcher = GazetteerMatcher.build(
        [(lbl, [lbl]) for lbl in EXACT_SCAN_LABELS], mode="exact"
    )
    raw = scan_mentions(t, matcher, {lbl: lbl for lbl in EXACT_SCAN_LABELS})
    return (
        raw.groupBy(F.col("term_id").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("conv_id").alias("n_docs"),
        )
        .orderBy("label")
    )


SCORE_CTX_W = 40  # ±chars of context around the detected surface


def q_scored_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/J2/F8/F12/F13: the FULL scoring pipeline — broadcast gazetteer
    join, keyword heuristic, NER stand-in, Arrow char-3-gram cosine
    kernel, composite score, likelihood buckets — with an EXACT DuckDB
    oracle.

    Detection here is deliberately the SQL-expressible substring path
    (first case-insensitive occurrence per turn + char-window context,
    the P5/F5 shapes) so that the scoring kernel itself — the Arrow
    numpy stage that previously had only a rows-only check — is verified
    value-exactly: the oracle mirrors the hashed byte-3-gram cosine via
    hex() byte extraction (see `_charngram_sim_sql`). The kernel-based
    word-boundary scan path stays gated by mention_counts /
    exact_mode_scan.
    """
    from entity_extractor_spark.operators.scoring import score_candidates
    import __spark_entry__ as entry_mod

    t = _doc_transcripts(spark, sf_dir)
    terms = [(tid, rx.replace("\\b", ""), title) for tid, title, rx in entry_mod.GAZ]
    g = spark.createDataFrame(terms, "term_id string, term string, description string")
    pos = F.instr(F.lower(F.col("text")), F.col("term"))
    m = (
        t.crossJoin(F.broadcast(g.select("term_id", "term")))
        .withColumn("pos", pos)
        .filter(F.col("pos") > 0)
        .select(
            "conv_id",
            "turn_idx",
            "term_id",
            F.col("text").substr(F.col("pos"), F.length("term")).alias("surface"),
            T.char_window(
                F.col("text"),
                F.col("pos"),
                F.col("pos") + F.length("term") - 1,
                SCORE_CTX_W,
            ).alias("context"),
        )
    )
    scored = score_candidates(m, g.select("term_id", "description"))
    return scored.select(
        "conv_id",
        "turn_idx",
        "term_id",
        F.round("similarity", 4).alias("sim"),
        "composite_score",
        "likelihood",
    ).orderBy("conv_id", "turn_idx", "term_id")


def q_alias_mention_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 + aliases: per-(doc, term, surface) occurrence counts with the
    alias dictionary included in the matcher build."""
    from entity_extractor_spark.operators.mentions import build_matcher_from_gazetteer, scan_mentions
    import pandas as pd

    d = _load(spark, sf_dir, "documents")
    t = d.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
    )
    pdf = pd.DataFrame(
        {
            "term_id": [g[0] for g in ALIAS_SCAN_GAZ],
            "title": [g[1] for g in ALIAS_SCAN_GAZ],
            "aliases": [g[2] for g in ALIAS_SCAN_GAZ],
        }
    )
    matcher, names = build_matcher_from_gazetteer(pdf, include_aliases=True)
    raw = scan_mentions(t, matcher, names)
    return (
        raw.groupBy(
            F.col("conv_id").cast("long").alias("doc_id"),
            "term_id",
            F.lower(F.col("surface")).alias("surface"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("doc_id", "term_id", "surface")
    )


def q_time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation: events per hour + mean value."""
    ev = _load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 4).alias("mean_v"))
        .orderBy("hour")
    )


def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG analytics: per-conversation out-degree distribution over the
    mention edge table (degree -> how many convs have it)."""
    deg = _mention_edges(spark, sf_dir).groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_convs")).orderBy("degree")
    )


PROFILE_COLS = ["event_id", "user_id", "event_type", "value"]


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile (exact mode for the oracle compare)."""
    from entity_extractor_spark.operators.profiling import profile_table

    return profile_table(_load(spark, sf_dir, "events"), PROFILE_COLS, exact=True)


PIVOT_TYPES = ["click", "view", "purchase", "error", "scroll"]


def q_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: day-of-week x event_type count matrix (fixed column set so
    the plan is a single conditional aggregation, no two-pass pivot)."""
    ev = _load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.dayofmonth("ts").alias("dom"))
        .pivot("event_type", PIVOT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, PIVOT_TYPES)
        .orderBy("dom")
    )


def q_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) value quartiles within each event_type -> per-bucket
    mean (window-function coverage: ntile)."""
    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.select("event_type", "value", F.ntile(4).over(w).alias("q"))
        .groupBy("event_type", "q")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 4).alias("mean_v"))
        .orderBy("event_type", "q")
    )


def q_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame rolling analytics: trailing-1-hour event count per
    user at each event; distribution of that count."""
    ev = _load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    rolled = ev.select(
        "user_id", F.count(F.lit(1)).over(w).alias("trailing_1h")
    )
    return (
        rolled.groupBy("trailing_1h")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("trailing_1h")
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each 'click' matched to the user's latest at-or-before
    'view'; per-user match stats (oracle: DuckDB native ASOF JOIN)."""
    from entity_extractor_spark.operators.temporal import asof_join

    ev = _load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    j = asof_join(clicks, views, key="user_id", ts="ts", right_cols=["view_id"], order_col=None)
    return (
        j.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.sum(F.col("r_view_id").isNotNull().cast("long")).alias("n_matched"),
            F.round(
                F.avg(F.unix_timestamp("ts") - F.unix_timestamp("r_ts")), 2
            ).alias("mean_gap_s"),
        )
        .orderBy("user_id")
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (bucketized, no BNLJ): clicks falling inside ±30-min
    windows around each purchase by the same user; per-window counts."""
    from entity_extractor_spark.operators.temporal import interval_join

    ev = _load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("interval_id"),
        F.expr("ts - interval 30 minutes").alias("start_ts"),
        F.expr("ts + interval 30 minutes").alias("end_ts"),
    )
    j = interval_join(clicks, purchases, key="user_id", bucket_seconds=1800)
    return (
        j.groupBy("interval_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
        .orderBy("interval_id")
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap sessionization (30 min), per-user session stats."""
    from entity_extractor_spark.operators.temporal import session_stats

    return session_stats(_load(spark, sf_dir, "events"), key="user_id", gap_seconds=1800)


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (region -> nation -> total) — beyond-reference
    OLAP surface; Catalyst expands to grouping sets."""
    n = _load(spark, sf_dir, "nation")
    c = _load(spark, sf_dir, "customer")
    joined = c.join(n, c.c_nationkey == n.n_nationkey)
    return (
        joined.rollup("n_regionkey", "n_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy(
            F.col("n_regionkey").asc_nulls_first(), F.col("n_nationkey").asc_nulls_first()
        )
    )


def q_conv_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/X5: per-conversation ordered mention digest via applyInPandas.
    Mentions are deduped per (conv, turn, term) and start zeroed so the
    kernel's (turn_idx, start, term_id) ordering is SQL-mirrorable."""
    from entity_extractor_spark.operators.grouped import conversation_digest
    from entity_extractor_spark.operators.mentions import extract_mentions
    import __spark_entry__ as entry_mod
    import pandas as pd

    t = _doc_transcripts(spark, sf_dir)
    pdf = pd.DataFrame(
        {"term_id": [g[0] for g in entry_mod.GAZ], "title": [g[1] for g in entry_mod.GAZ]}
    )
    m = (
        extract_mentions(t, pdf)
        .dropDuplicates(["conv_id", "turn_idx", "term_id"])
        .withColumn("start", F.lit(0).cast("int"))
    )
    return conversation_digest(m).orderBy("conv_id")


NER_EXPORT_TERMS = ["query", "stream"]  # case-sensitive literals (F9 shape)


def q_ner_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NER training-record export (`export_ner_training_data.py:26-43`):
    per-doc sorted span array, canonicalized to 'start:end:label' csv for
    the cross-engine compare. Spans here come from the SQL-expressible
    case-sensitive all-occurrence path (the span_find split trick); the
    kernel-based mention path flows through the same operator in unit
    tests."""
    from entity_extractor_spark.operators.ner_export import ner_training_records, spans_csv

    d = _load(spark, sf_dir, "documents")
    t = d.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        "text",
    )
    parts_list = []
    for term in NER_EXPORT_TERMS:
        L = len(term)
        # F.split treats its pattern as a Java regex while the DuckDB oracle
        # splits literally — re.escape keeps the two engines in lockstep even
        # if a term with a regex metacharacter is ever added.
        parts = F.split(F.col("text"), re.escape(term), -1)
        e = t.select(
            "conv_id",
            "turn_idx",
            F.size(parts).alias("n"),
            F.posexplode(parts).alias("pos", "part"),
        )
        w = Window.partitionBy("conv_id").orderBy("pos")
        cum = F.sum(F.length("part")).over(w)
        parts_list.append(
            e.withColumn("start", (cum + F.col("pos") * F.lit(L)).cast("int"))
            .filter(F.col("pos") < F.col("n") - 1)
            .select(
                "conv_id",
                "turn_idx",
                "start",
                (F.col("start") + F.lit(L)).cast("int").alias("end"),
                F.lit(term).alias("label"),
            )
        )
    mentions = parts_list[0]
    for p in parts_list[1:]:
        mentions = mentions.unionByName(p)
    rec = ner_training_records(mentions, t, label_col="label")
    return rec.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        spans_csv().alias("spans_csv"),
        F.size("spans").cast("long").alias("n_spans"),
    ).orderBy("doc_id")


def q_salted_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6, non-associative variant: two-stage skew-safe collect_list —
    the salted template for aggregates map-side combine cannot protect
    (`operators/graph.py:salted_collect_list`). Deterministic because the
    final array is sorted and the salt is retry-stable."""
    from entity_extractor_spark.operators.graph import salted_collect_list

    ev = _load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    out = salted_collect_list(ev, ["user_id"], "event_id")
    return out.select(
        "user_id",
        F.array_join(F.col("event_ids").cast("array<string>"), ",").alias("ids_csv"),
        F.size("event_ids").cast("long").alias("n_ids"),
    ).orderBy("user_id")


QUERIES = {
    "alias_mention_counts": q_alias_mention_counts,
    "time_buckets": q_time_buckets,
    "graph_degree": q_graph_degree,
    "profile_table": q_profile_table,
    "pivot_counts": q_pivot_counts,
    "ntile_buckets": q_ntile_buckets,
    "rolling_window": q_rolling_window,
    "asof_join": q_asof_join,
    "sessionize": q_sessionize,
    "interval_join": q_interval_join,
    "rollup_agg": q_rollup_agg,
    "conv_digest": q_conv_digest,
    "exact_mode_scan": q_exact_mode_scan,
    "scored_candidates": q_scored_candidates,
    "inverted_index": q_inverted_index,
    "pos_zip_join": q_pos_zip_join,
    "delta_merge": q_delta_merge,
    "set_classify": q_set_classify,
    "count_distinct": q_count_distinct,
    "quantile_calib": q_quantile_calib,
    "distinct_sorted": q_distinct_sorted,
    "avg_text_len": q_avg_text_len,
    "canonical_names": q_canonical_names,
    "char_window": q_char_window,
    "normalize_digest": q_normalize_digest,
    "url_keys": q_url_keys,
    "span_find": q_span_find,
    "sliding_chunks": q_sliding_chunks,
    "autocomplete_rank": q_autocomplete_rank,
    "patch_append": q_patch_append,
    "substring_search": q_substring_search,
    "indexed_search": q_indexed_search,
    "facet_filter": q_facet_filter,
    "likelihood_filter": q_likelihood_filter,
    "cc_components": q_cc_components,
    "predicate_triples": q_predicate_triples,
    "graph_edges": q_graph_edges,
    "salted_collect": q_salted_collect,
    "ner_training_export": q_ner_training_export,
}


# --------------------------------------------------------------------------- oracle SQL


def _alias_gaz_sql() -> str:
    rows = []
    for tid, title, aliases in ALIAS_GAZ:
        al = ", ".join(f"'{a}'" for a in aliases)
        rows.append(f"('{tid}', '{title}', [{al}])")
    return ", ".join(rows)


def _scored_candidates_sql() -> str:
    """DuckDB mirror of the FULL scoring pipeline, including the Arrow
    hashed char-3-gram cosine kernel (`operators/scoring.py:67-94`).

    Kernel mirror: the Python side hashes utf-8 byte 3-grams of
    ``lower(s)`` into ``NGRAM_DIM`` buckets and takes the cosine of the
    integer count vectors. SQL reproduces the bytes exactly via
    ``hex(encode(lower(s)))`` — byte k = 16*hv(hex[2k-1]) + hv(hex[2k]),
    where hv(c) = strpos('123456789ABCDEF', c) (0 maps to 0 because
    strpos returns 0 on miss). All dot/norm sums are integer-valued, so
    float addition order cannot diverge and the cosine is bit-identical
    to numpy's (parity asserted in tests/test_scoring.py).
    """
    from entity_extractor_spark.operators.scoring import (
        HEURISTIC_KEYWORDS,
        SOMEWHAT_LIKELY_T,
        VERY_LIKELY_T,
        WEIGHT_KEYWORDS,
        WEIGHT_NER,
        WEIGHT_SIM,
        _NER_CATEGORY_RE,
        charngram_cosine_sql,
    )
    import __spark_entry__ as entry_mod

    terms_values = ", ".join(
        f"('{tid}', '{rx.replace(chr(92) + 'b', '')}', '{title}')"
        for tid, title, rx in entry_mod.GAZ
    )
    w = SCORE_CTX_W
    kw_list = "[" + ", ".join(f"'{k}'" for k in sorted(HEURISTIC_KEYWORDS)) + "]"
    ids = "conv_id, turn_idx, term_id"
    cos_rel = charngram_cosine_sql(
        "SELECT * FROM m", ["conv_id", "turn_idx", "term_id"], "ctx", "descr"
    )
    return f"""
        WITH t AS ({_DOC_TRANSCRIPTS_SQL}),
        g(term_id, term, descr) AS (VALUES {terms_values}),
        m0 AS (
          SELECT t.conv_id, t.turn_idx, g.term_id, g.term, g.descr, t.text,
                 strpos(lower(t.text), g.term) AS pos
          FROM t CROSS JOIN g
          WHERE strpos(lower(t.text), g.term) > 0
        ),
        m AS (
          SELECT {ids}, descr,
                 substring(text, pos, length(term)) AS surface,
                 substring(text, greatest(1, pos - {w - 1}),
                           pos + length(term) + {w} - greatest(1, pos - {w - 1})) AS ctx
          FROM m0
        ),
        sim AS (
          SELECT m.conv_id, m.turn_idx, m.term_id, m.surface, m.ctx, c.cos AS s
          FROM m JOIN {cos_rel} c USING ({ids})
        ),
        scored AS (
          SELECT {ids}, s,
                 round({WEIGHT_NER} * (CASE WHEN regexp_matches(ctx, '{_NER_CATEGORY_RE}')
                                             AND surface <> lower(surface)
                                            THEN 1.0 ELSE 0.0 END)
                     + {WEIGHT_SIM} * s
                     + {WEIGHT_KEYWORDS} * least(
                         len(list_filter({kw_list}, k -> contains(lower(ctx), k))) / 3.0, 1.0),
                   3) AS composite_score
          FROM sim
        )
        SELECT {ids}, round(s, 4) AS sim, composite_score,
               CASE WHEN composite_score >= {VERY_LIKELY_T} THEN 'very likely'
                    WHEN composite_score >= {SOMEWHAT_LIKELY_T} THEN 'somewhat likely'
                    ELSE 'unlikely' END AS likelihood
        FROM scored ORDER BY conv_id, turn_idx, term_id
    """


def _oracles() -> dict[str, str]:
    import __spark_entry__  # noqa: F401 — GAZ literals come via the regex values below

    gaz_values = ", ".join(
        f"('{tid}', '{rx}')"
        for tid, _, rx in __import__("__spark_entry__").GAZ
    )
    canon = T.canonical_name_sql("title")
    facet_types = ", ".join(f"'{t}'" for t in FACET_TYPES)
    facet_users = ", ".join(str(u) for u in FACET_USERS)
    L = len(SPAN_TERM)
    # exact mode gate: single-word labels use case-sensitive token
    # membership (batch_filter.py:48-53); phrase labels use substring
    # containment, which n>0 already implies
    tok_re = r"\b[\w\-]+\b"
    exact_parts = " UNION ALL ".join(
        f"""SELECT '{lbl}' AS label,
               len(regexp_extract_all(text, '\\b{lbl}\\b')) AS n,
               doc_id
            FROM documents
            {gate}"""
        for lbl in EXACT_SCAN_LABELS
        for gate in [
            f"WHERE list_contains(regexp_extract_all(text, '{tok_re}'), '{lbl}')"
            if " " not in lbl
            else ""
        ]
    )
    from entity_extractor_spark.matching.matcher import canonical_surface

    alias_rows = []
    for tid, title, aliases in ALIAS_SCAN_GAZ:
        for s in [canonical_surface(title)] + aliases:
            alias_rows.append(f"('{tid}', '{s.lower()}', '\\b{s.lower()}\\b')")
    alias_values = ", ".join(alias_rows)
    return {
        "alias_mention_counts": f"""
            SELECT d.doc_id AS doc_id, g.term_id AS term_id, g.surface AS surface,
                   len(regexp_extract_all(d.text, g.rx, 0, 'i')) AS n
            FROM documents d CROSS JOIN (VALUES {alias_values}) g(term_id, surface, rx)
            WHERE len(regexp_extract_all(d.text, g.rx, 0, 'i')) > 0
            ORDER BY doc_id, term_id, surface
        """,
        "time_buckets": """
            SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n,
                   round(avg(value), 4) AS mean_v
            FROM events GROUP BY 1 ORDER BY hour
        """,
        "graph_degree": f"""
            WITH t AS ({_DOC_TRANSCRIPTS_SQL}),
            m AS (
              SELECT DISTINCT t.conv_id, t.turn_idx, g.term_id
              FROM t CROSS JOIN (VALUES {gaz_values}) g(term_id, rx)
              WHERE len(regexp_extract_all(t.text, g.rx, 0, 'i')) > 0
            ),
            edges AS (SELECT conv_id, term_id FROM m GROUP BY conv_id, term_id),
            deg AS (SELECT conv_id, COUNT(*) AS degree FROM edges GROUP BY conv_id)
            SELECT degree, COUNT(*) AS n_convs FROM deg GROUP BY degree ORDER BY degree
        """,
        "profile_table": " UNION ALL ".join(
            f'''SELECT '{c}' AS "column", COUNT(*) AS n_rows,
                   CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                   COUNT(DISTINCT {c}) AS n_distinct
                FROM events'''
            for c in PROFILE_COLS
        ) + ' ORDER BY "column"',
        "pivot_counts": f"""
            SELECT day(ts) AS dom,
                   {", ".join(f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}" for t in PIVOT_TYPES)}
            FROM events GROUP BY 1 ORDER BY dom
        """,
        "ntile_buckets": """
            WITH t AS (
              SELECT event_type, value,
                     ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS q
              FROM events
            )
            SELECT event_type, q, COUNT(*) AS n, round(avg(value), 4) AS mean_v
            FROM t GROUP BY event_type, q ORDER BY event_type, q
        """,
        "rolling_window": """
            WITH r AS (
              SELECT user_id,
                     COUNT(*) OVER (
                       PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                       RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
                     ) AS trailing_1h
              FROM events
            )
            SELECT trailing_1h, COUNT(*) AS n_events
            FROM r GROUP BY trailing_1h ORDER BY trailing_1h
        """,
        "asof_join": """
            WITH clicks AS (
              SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
            ),
            views AS (
              SELECT user_id, ts, event_id AS view_id FROM events WHERE event_type = 'view'
            ),
            j AS (
              SELECT c.user_id, c.ts, v.view_id, v.ts AS r_ts
              FROM clicks c ASOF LEFT JOIN views v
                ON c.user_id = v.user_id AND c.ts >= v.ts
            )
            SELECT user_id, COUNT(*) AS n_clicks,
                   sum(CASE WHEN view_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_matched,
                   round(avg(date_diff('second', r_ts, ts)), 2) AS mean_gap_s
            FROM j GROUP BY user_id ORDER BY user_id
        """,
        "interval_join": """
            WITH clicks AS (
              SELECT user_id, ts FROM events WHERE event_type = 'click'
            ),
            p AS (
              SELECT user_id, event_id AS interval_id,
                     ts - INTERVAL 30 MINUTE AS s, ts + INTERVAL 30 MINUTE AS e
              FROM events WHERE event_type = 'purchase'
            )
            SELECT p.interval_id, COUNT(*) AS n_clicks
            FROM p JOIN clicks c
              ON c.user_id = p.user_id AND c.ts >= p.s AND c.ts <= p.e
            GROUP BY 1 ORDER BY interval_id
        """,
        "sessionize": """
            WITH g AS (
              SELECT user_id, ts,
                     date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) AS gap
              FROM events
            ),
            s AS (
              SELECT user_id, ts,
                     sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) - 1 AS session_idx
              FROM g
            ),
            per AS (
              SELECT user_id, session_idx, COUNT(*) AS n_events,
                     date_diff('second', min(ts), max(ts)) AS dur_s
              FROM s GROUP BY user_id, session_idx
            )
            SELECT user_id, COUNT(*) AS n_sessions,
                   CAST(sum(n_events) AS BIGINT) AS n_events,
                   round(avg(dur_s), 2) AS mean_session_s
            FROM per GROUP BY user_id ORDER BY user_id
        """,
        "rollup_agg": """
            SELECT n_regionkey, n_nationkey, COUNT(*) AS n_customers,
                   round(sum(c_acctbal), 2) AS total_bal
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY ROLLUP (n_regionkey, n_nationkey)
            ORDER BY n_regionkey NULLS FIRST, n_nationkey NULLS FIRST
        """,
        "conv_digest": f"""
            WITH t AS ({_DOC_TRANSCRIPTS_SQL}),
            m AS (
              SELECT DISTINCT t.conv_id, t.turn_idx, g.term_id
              FROM t CROSS JOIN (VALUES {gaz_values}) g(term_id, rx)
              WHERE len(regexp_extract_all(t.text, g.rx, 0, 'i')) > 0
            )
            SELECT conv_id, COUNT(*) AS n_mentions,
                   COUNT(DISTINCT term_id) AS n_terms,
                   string_agg(term_id, ',' ORDER BY turn_idx, term_id) AS term_seq
            FROM m GROUP BY conv_id ORDER BY conv_id
        """,
        "exact_mode_scan": f"""
            WITH hits AS ({exact_parts})
            SELECT label, CAST(sum(n) AS BIGINT) AS n_occ,
                   COUNT(DISTINCT doc_id) AS n_docs
            FROM hits WHERE n > 0 GROUP BY label ORDER BY label
        """,
        "inverted_index": """
            SELECT user_id,
                   array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_csv
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "pos_zip_join": f"""
            WITH t AS (
              SELECT doc_id, {T.tokenize_sql('text', lowered=False)}[1:3] AS toks FROM documents
            )
            SELECT doc_id, CAST(generate_subscripts(toks, 1) - 1 AS INT) AS pos,
                   unnest(toks) AS token
            FROM t ORDER BY doc_id, pos
        """,
        "delta_merge": """
            WITH delta AS (
              SELECT event_id, value + 100 AS new_value, ts + interval 1 hour AS dts
              FROM events WHERE event_id % 97 = 0
              UNION ALL
              SELECT event_id, value + 200, ts + interval 2 hour
              FROM events WHERE event_id % 97 = 0
            ),
            latest AS (
              SELECT event_id, new_value FROM (
                SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY dts DESC) AS rn
                FROM delta
              ) WHERE rn = 1
            ),
            merged AS (
              SELECT e.event_type, coalesce(l.new_value, e.value) AS value,
                     l.new_value IS NOT NULL AS patched
              FROM events e LEFT JOIN latest l USING (event_id)
            )
            SELECT event_type, round(sum(value), 2) AS sum_value,
                   sum(CASE WHEN patched THEN 1 ELSE 0 END)::BIGINT AS n_patched
            FROM merged GROUP BY event_type ORDER BY event_type
        """,
        "set_classify": """
            SELECT CASE
                     WHEN c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 0) THEN 'positive'
                     WHEN c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1) THEN 'negative'
                     ELSE 'uncurated' END AS label,
                   COUNT(*) AS n
            FROM customer GROUP BY 1 ORDER BY label
        """,
        "count_distinct": """
            SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
                   COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "quantile_calib": """
            WITH q AS (
              SELECT quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.50) AS q2,
                     quantile_cont(value, 0.75) AS q3
              FROM events
            )
            SELECT CASE WHEN value < q1 THEN 'q1' WHEN value < q2 THEN 'q2'
                        WHEN value < q3 THEN 'q3' ELSE 'q4' END AS bucket,
                   COUNT(*) AS n
            FROM events CROSS JOIN q GROUP BY 1 ORDER BY bucket
        """,
        "distinct_sorted": "SELECT DISTINCT event_type FROM events ORDER BY event_type",
        "avg_text_len": """
            SELECT lang, round(avg(length(text)), 4) AS mean_len
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "canonical_names": f"""
            SELECT term_id, {canon} AS canonical
            FROM (VALUES {_alias_gaz_sql()}) g(term_id, title, aliases)
            ORDER BY term_id
        """,
        "char_window": """
            SELECT doc_id,
                   substring(text, greatest(1, strpos(text, 'merge') - 29),
                             (strpos(text, 'merge') + length('merge') - 1 + 30)
                               - greatest(1, strpos(text, 'merge') - 29) + 1) AS ctx
            FROM documents WHERE strpos(text, 'merge') > 0 ORDER BY doc_id
        """,
        "normalize_digest": f"""
            SELECT doc_id, md5({T.normalize_text_sql('text')}) AS digest
            FROM documents ORDER BY doc_id
        """,
        "url_keys": """
            SELECT doc_id,
                   regexp_extract('https://host/abs/DOC' || CAST(doc_id AS VARCHAR) || '?q=1',
                                  'abs/([^/?#]+)', 1) AS key
            FROM documents ORDER BY doc_id
        """,
        "span_find": f"""
            WITH p AS (
              SELECT doc_id, str_split(text, '{SPAN_TERM}') AS parts FROM documents
            ),
            e AS (
              SELECT doc_id, len(parts) AS n,
                     generate_subscripts(parts, 1) - 1 AS pos, unnest(parts) AS part
              FROM p
            )
            SELECT doc_id, pos AS occ,
                   CAST(sum(length(part)) OVER (PARTITION BY doc_id ORDER BY pos)
                        + pos * {L} AS BIGINT) AS start
            FROM e QUALIFY pos < n - 1 ORDER BY doc_id, occ
        """,
        "sliding_chunks": f"""
            WITH t AS (
              SELECT doc_id, {T.tokenize_sql('text', lowered=False)} AS toks FROM documents
            ),
            c AS (
              SELECT doc_id,
                     list_transform(
                       range(1, greatest(1, len(toks) - {CHUNK_OVERLAP}) + 1, {CHUNK_SIZE - CHUNK_OVERLAP}),
                       s -> toks[s : least(len(toks), s + {CHUNK_SIZE - 1})]
                     ) AS chunks
              FROM t
            )
            SELECT doc_id, CAST(generate_subscripts(chunks, 1) - 1 AS INT) AS chunk_idx,
                   CAST(len(unnest(chunks)) AS BIGINT) AS n_tokens,
                   unnest(chunks)[1] AS first_token
            FROM c ORDER BY doc_id, chunk_idx
        """,
        "autocomplete_rank": f"""
            WITH toks AS (
              SELECT DISTINCT unnest(list_distinct({T.tokenize_sql('text')})) AS tok FROM documents
            )
            SELECT tok, CASE WHEN starts_with(tok, 'a') THEN 0 ELSE 1 END AS grp,
                   {T.truncate_ellipsis_sql('tok', 6)} AS preview
            FROM toks WHERE contains(tok, 'a')
            ORDER BY grp, tok LIMIT 15
        """,
        "patch_append": """
            WITH allrows AS (
              SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS version FROM orders
              UNION ALL
              SELECT o_orderkey, 'X', o_totalprice * 1.1, 1 FROM orders WHERE o_orderkey % 1000 = 0
            ),
            latest AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
                FROM allrows
              ) WHERE rn = 1
            )
            SELECT o_orderstatus, COUNT(*) AS n, round(sum(o_totalprice), 2) AS total
            FROM latest GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        "substring_search": """
            SELECT lang, COUNT(*) AS n_docs FROM documents
            WHERE contains(lower(text), 'hash join')
            GROUP BY lang ORDER BY lang
        """,
        "indexed_search": """
            SELECT doc_id, lang FROM documents
            WHERE contains(lower(text), 'hash join')
            ORDER BY doc_id
        """,
        "facet_filter": f"""
            SELECT event_type, COUNT(*) AS n FROM events
            WHERE event_type IN ({facet_types}) AND user_id IN ({facet_users})
              AND props IS NOT NULL AND props <> ''
            GROUP BY event_type ORDER BY event_type
        """,
        "likelihood_filter": """
            WITH s AS (
              SELECT doc_id,
                     round(0.5 * (CASE WHEN contains(lower(text), 'spark') THEN 1.0 ELSE 0.0 END)
                         + 0.3 * ((n_chars % 97) / 96.0)
                         + 0.2 * least(len(list_filter(['hash', 'query', 'stream', 'table', 'vector', 'window'], k -> contains(lower(text), k))) / 3.0, 1.0),
                       3) AS score
              FROM documents
            ),
            lab AS (
              SELECT doc_id,
                     CASE WHEN score >= 0.75 THEN 'very likely'
                          WHEN score >= 0.45 THEN 'somewhat likely'
                          ELSE 'unlikely' END AS likelihood
              FROM s
            )
            SELECT likelihood, COUNT(*) AS n FROM lab
            WHERE likelihood IN ('very likely', 'somewhat likely')
            GROUP BY likelihood ORDER BY likelihood
        """,
        "cc_components": f"""
            WITH RECURSIVE g(term_id, title, aliases) AS (
              SELECT * FROM (VALUES {_alias_gaz_sql()}) v(term_id, title, aliases)
            ),
            base AS (
              SELECT term_id, lower({canon}) AS canonical, aliases FROM g
            ),
            raw_edges AS (
              SELECT canonical AS src, lower(trim(a)) AS dst
              FROM (SELECT canonical, unnest(aliases) AS a FROM base)
              WHERE a IS NOT NULL AND trim(a) <> ''
              UNION ALL
              SELECT 'term:' || term_id, canonical FROM base
            ),
            sym AS (
              SELECT DISTINCT src AS a, dst AS b FROM raw_edges
              UNION SELECT dst, src FROM raw_edges
            ),
            reach(a, b) AS (
              SELECT a, b FROM sym
              UNION
              SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
            )
            SELECT a AS node, least(a, min(b)) AS component
            FROM reach GROUP BY a ORDER BY node
        """,
        "predicate_triples": f"""
            WITH t AS ({_DOC_TRANSCRIPTS_SQL}),
            w AS (
              SELECT conv_id, turn_idx, role, tool,
                     lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_role,
                     lead(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_tool,
                     lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role,
                     lag(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_idx
              FROM t
            ),
            trip AS (
              SELECT conv_id || ':' || CAST(turn_idx AS VARCHAR) AS subj, 'uses_tool' AS pred,
                     'tool:' || next_tool AS obj
              FROM w WHERE role = 'assistant' AND next_role = 'tool' AND next_tool IS NOT NULL
              UNION ALL
              SELECT conv_id || ':' || CAST(turn_idx AS VARCHAR), 'replies_to',
                     conv_id || ':' || CAST(prev_idx AS VARCHAR)
              FROM w WHERE role = 'assistant' AND prev_role = 'user'
            )
            SELECT subj, pred, obj FROM trip ORDER BY pred, subj, obj
        """,
        "scored_candidates": _scored_candidates_sql(),
        "ner_training_export": " ".join(
            ["WITH "]
            + [
                f"""sp_{i} AS (
                  SELECT doc_id, CAST(sum(length(part)) OVER (PARTITION BY doc_id ORDER BY pos)
                         + pos * {len(term)} AS INT) AS start,
                         CAST(len(parts) AS BIGINT) AS n, pos
                  FROM (
                    SELECT doc_id, parts, generate_subscripts(parts, 1) - 1 AS pos,
                           unnest(parts) AS part
                    FROM (SELECT doc_id, str_split(text, '{term}') AS parts FROM documents)
                  )
                  QUALIFY pos < n - 1
                ),"""
                for i, term in enumerate(NER_EXPORT_TERMS)
            ]
            + [
                "allspans AS ("
                + " UNION ALL ".join(
                    f"SELECT doc_id, start, start + {len(term)} AS \"end\", '{term}' AS label FROM sp_{i}"
                    for i, term in enumerate(NER_EXPORT_TERMS)
                )
                + ")",
                """
                SELECT doc_id,
                       string_agg(CAST(start AS VARCHAR) || ':' || CAST("end" AS VARCHAR) || ':' || label,
                                  ',' ORDER BY start, "end", label) AS spans_csv,
                       COUNT(*) AS n_spans
                FROM allspans GROUP BY doc_id ORDER BY doc_id
                """,
            ]
        ),
        "salted_collect": """
            SELECT user_id,
                   array_to_string(list(event_id ORDER BY event_id), ',') AS ids_csv,
                   COUNT(*) AS n_ids
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id ORDER BY user_id
        """,
        "graph_edges": f"""
            WITH t AS ({_DOC_TRANSCRIPTS_SQL}),
            m AS (
              SELECT DISTINCT t.conv_id, t.turn_idx, g.term_id
              FROM t CROSS JOIN (VALUES {gaz_values}) g(term_id, rx)
              WHERE len(regexp_extract_all(t.text, g.rx, 0, 'i')) > 0
            )
            SELECT conv_id AS src, term_id AS dst, COUNT(*) AS weight
            FROM m GROUP BY conv_id, term_id ORDER BY src, dst
        """,
    }


ORACLES = _oracles()
