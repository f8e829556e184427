"""Deterministic cardinality and frequency sketches.

Heavy hitters: the two-pass Misra-Gries scheme — per-partition MG
summaries of capacity k = ceil(1/support) produce a candidate set that
PROVABLY contains every token with global frequency >= support * N (a
token absent from every partition's summary has total count <=
N/(k+1) < support * N), then an exact recount of candidates only. The
output is the exact heavy-hitter set with exact counts, independent of
partitioning — which is what makes it a hash-verified contract value
even though the sketch pass itself is partition-dependent.

KMV (k-minimum-values) distinct-count estimation — the mergeable sketch
behind approx_count_distinct-style metrics, built here from first
principles so the estimate itself is a HASH-VERIFIED contract value:
both engines hash with md5, keep the k smallest hash values per group,
and apply the same estimator, so the result is bit-identical (Spark's
builtin approx_count_distinct uses HyperLogLog++ with
implementation-defined registers and cannot be cross-checked
value-exactly against another engine).

Why it scales: the per-group state is k 60-bit values regardless of
input size — the groupBy carries a bounded payload, and two KMV sketches
of the same column merge by keeping the k smallest of their union
(standard Beyer et al. PODS'07 semantics), which is what makes the
estimate computable per Iceberg partition and combined at the
coordinator without a second scan at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KMV_K = 32
_HASH_SPACE = float(1 << 60)  # 15 hex chars of md5 → value in [0, 2^60)


def _hval(col):
    """First 60 bits of md5 as a bigint — same bytes both engines."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def _hval_sql(expr: str) -> str:
    return f"CAST(('0x' || substring(md5(CAST({expr} AS VARCHAR)), 1, 15)) AS BIGINT)"


def kmv_distinct(
    df: DataFrame, group_col: str, value_col, k: int = KMV_K
) -> DataFrame:
    """Per-group exact distinct count + KMV estimate.

    ``value_col`` may be a column name or a Column expression (e.g. an
    exploded shingle). Estimator: with d ≤ k distinct values the sketch
    is lossless (estimate = d); otherwise estimate = (k-1) * 2^60 /
    h_(k) where h_(k) is the k-th smallest distinct hash value. The
    plan is one distinct on (group, value) — the only shuffle — then a
    window rank over the k smallest hashes per group; at scale the
    distinct is a partial-aggregated hash shuffle on exactly the key the
    table is bucketed by.

    The exact count is emitted next to the estimate so the contract row
    itself documents estimator error; both columns hash-match the
    DuckDB mirror. NOTE: materializing the full distinct set is the
    price of that n_exact column — this is the VERIFICATION twin. The
    form you run at 100 TB is :func:`kmv_sketch_only` (bounded
    per-partition partials, one merge groupBy, bit-identical estimate).

    NULL values are excluded from the distinct universe — standard SQL
    ``COUNT(DISTINCT)`` semantics. (Counting them would also be
    cross-engine-fragile: a NULL hashes to a NULL rank key, and Spark
    sorts NULLs first in an ascending window while DuckDB sorts them
    last, so the k-th smallest hash would silently differ; the explicit
    filter here and the ``val IS NOT NULL`` in the SQL twin pin ONE
    semantic, the one :func:`kmv_partials` already applies.)
    """
    vc = F.col(value_col) if isinstance(value_col, str) else value_col
    dv = (
        df.select(F.col(group_col).alias("grp"), vc.alias("val"))
        .filter(F.col("val").isNotNull())
        .dropDuplicates(["grp", "val"])
    )
    # n_exact counts distinct VALUES (pre-hash) — counting distinct hashes
    # instead would silently undercount on a 60-bit prefix collision, and
    # both engines would agree on the wrong number.
    n_ex = dv.groupBy("grp").agg(F.count(F.lit(1)).alias("n_exact"))
    hashed = dv.select("grp", _hval(F.col("val")).alias("h")).dropDuplicates(["grp", "h"])
    w = Window.partitionBy("grp").orderBy("h")
    ranked = hashed.withColumn("r", F.row_number().over(w))
    agg = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_hash"),
        F.max(F.when(F.col("r") == k, F.col("h"))).alias("hk"),
    )
    est = F.when(
        F.col("n_hash") <= k, F.col("n_hash").cast("double")
    ).otherwise(F.lit(float(k - 1)) * F.lit(_HASH_SPACE) / F.col("hk").cast("double"))
    return agg.join(n_ex, "grp").select(
        F.col("grp").alias(group_col),
        F.col("n_exact"),
        F.round(est, 4).alias("kmv_estimate"),
    )


def kmv_partials(df: DataFrame, group_col: str, value_col, k: int = KMV_K) -> DataFrame:
    """Per-partition KMV partial summaries: for each group, the k+1
    smallest DISTINCT hash values seen in that partition, via a bounded
    max-heap — a pure map stage whose state is at most k+1 longs per
    (partition, group) regardless of input size. k+1 (not k) so the
    merged sketch can distinguish \"exactly k distinct\" (lossless count)
    from \"more than k\" (estimator kicks in) — which is what makes the
    merged estimate bit-identical to :func:`kmv_distinct`'s.

    This is the sketch side the docstring above promises at 100 TB: the
    exchange after this stage carries <= (k+1) * n_partitions rows per
    group, never the full distinct-value set."""
    import heapq

    import pandas as pd

    vc = F.col(value_col) if isinstance(value_col, str) else value_col
    hashed = df.select(F.col(group_col).alias("grp"), _hval(vc).alias("h")).filter(
        F.col("h").isNotNull()
    )
    cap = k + 1
    grp_type = hashed.schema["grp"].dataType.simpleString()

    def summarize(batches):
        # per group: set of kept hashes + max-heap (negated) to evict the
        # largest once the summary exceeds k+1 entries
        kept: dict = {}
        for pdf in batches:
            for g, h in zip(pdf["grp"].values, pdf["h"].values):
                s = kept.get(g)
                if s is None:
                    s = kept[g] = (set(), [])
                members, heap = s
                h = int(h)
                if h in members:
                    continue
                if len(members) < cap:
                    members.add(h)
                    heapq.heappush(heap, -h)
                elif h < -heap[0]:
                    members.discard(-heapq.heappushpop(heap, -h))
                    members.add(h)
        yield pd.DataFrame(
            {
                "grp": [g for g, (m, _) in kept.items() for _ in m],
                "h": [h for _, (m, _) in kept.items() for h in m],
            }
        )

    return hashed.mapInPandas(summarize, f"grp {grp_type}, h long")


def kmv_sketch_only(
    df: DataFrame, group_col: str, value_col, k: int = KMV_K
) -> DataFrame:
    """Scale-shaped KMV estimate WITHOUT the exact-distinct twin: bounded
    per-partition partial summaries (:func:`kmv_partials`) merged by one
    groupBy that keeps the k+1 smallest of the union — standard
    mergeable-sketch semantics (Beyer et al. PODS'07). Unlike
    :func:`kmv_distinct` (the hash-verified contract form, which
    materializes the full distinct set to emit ``n_exact``), the
    exchange here carries at most k+1 hashes per (map partition, group)
    regardless of input size; the single merge node per group then holds
    at most (k+1) x n_map_partitions longs before the slice (k=32,
    10^4 partitions -> ~2.6 MB worst case — if that ever mattered, an
    intermediate repartition + re-summarize level makes the merge a
    tree). The estimate is bit-identical to ``kmv_distinct``'s
    ``kmv_estimate`` (parity-tested, including NULL-bearing inputs —
    both forms exclude NULL values), because the merged k+1-sketch
    determines both the \"<= k distinct\" lossless case and the k-th
    smallest hash exactly."""
    cap = k + 1
    merged = (
        kmv_partials(df, group_col, value_col, k)
        .groupBy("grp")
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, cap).alias("hs"))
    )
    n = F.size(F.col("hs"))
    est = F.when(n <= k, n.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(_HASH_SPACE) / F.element_at("hs", k).cast("double")
    )
    return merged.select(
        F.col("grp").alias(group_col), F.round(est, 4).alias("kmv_estimate")
    )


def kmv_overlap(
    df: DataFrame, group_col: str, value_col, k: int = KMV_K
) -> DataFrame:
    """Pairwise corpus-overlap estimation from KMV sketches — the
    mergeable-sketch ALGEBRA payoff: once each group (corpus slice,
    source, language) carries a bottom-k sketch, the Jaccard similarity,
    union cardinality, and intersection cardinality of ANY pair are
    computable from the two k-element sketches alone, never rescanning
    the data (Beyer et al. PODS'07 §4). The estimators:

      M        = k smallest of S_a ∪ S_b   (the union's own KMV sketch)
      J_est    = |M ∩ S_a ∩ S_b| / |M|     (bottom-k Jaccard)
      union_est = KMV estimate from M       (lossless when |M| < k)
      inter_est = J_est * union_est

    At 100 TB the per-group sketch comes from the bounded
    :func:`kmv_partials` path; here the contract form derives it with
    the same window-rank machinery as :func:`kmv_distinct` so the DuckDB
    twin is exact. Everything downstream of the hashes is integer-array
    arithmetic plus one division — bit-identical cross-engine. The
    pipeline use: train-slice overlap diagnostics (which sources share
    vocabulary, how much a new crawl overlaps the existing corpus) at
    sketch cost instead of a distinct-join over the corpus. The pair
    stage joins the G one-row-per-group sketches with a nested loop: G
    counts corpus slices, not data rows, so it costs O(G²k) whatever
    the corpus size.

    Output: one row per unordered group pair (grp_a < grp_b) with
    ``jaccard_est``, ``union_est``, ``inter_est`` (rounded 4dp both
    engines)."""
    vc = F.col(value_col) if isinstance(value_col, str) else value_col
    dv = (
        df.select(F.col(group_col).alias("grp"), vc.alias("val"))
        .filter(F.col("val").isNotNull())
        .dropDuplicates(["grp", "val"])
    )
    hashed = dv.select("grp", _hval(F.col("val")).alias("h")).dropDuplicates(
        ["grp", "h"]
    )
    w = Window.partitionBy("grp").orderBy("h")
    sk = (
        hashed.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k)
        .groupBy("grp")
        .agg(F.array_sort(F.collect_list("h")).alias("sk"))
    )
    a = sk.select(F.col("grp").alias("grp_a"), F.col("sk").alias("sa"))
    b = sk.select(F.col("grp").alias("grp_b"), F.col("sk").alias("sb"))
    pairs = a.join(b, F.col("grp_a") < F.col("grp_b"))
    m = F.slice(F.array_sort(F.array_union("sa", "sb")), 1, k)
    inter = F.size(F.array_intersect(F.array_intersect(m, F.col("sa")), F.col("sb")))
    msz = F.size(m)
    jacc = inter.cast("double") / msz.cast("double")
    union_est = F.when(msz < k, msz.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(_HASH_SPACE) / F.element_at(m, k).cast("double")
    )
    return pairs.select(
        F.col("grp_a").alias(f"{group_col}_a"),
        F.col("grp_b").alias(f"{group_col}_b"),
        F.round(jacc, 4).alias("jaccard_est"),
        F.round(union_est, 4).alias("union_est"),
        F.round(jacc * union_est, 4).alias("inter_est"),
    )


def kmv_overlap_sql(rel: str, group_col: str, k: int = KMV_K) -> str:
    """DuckDB twin of :func:`kmv_overlap`; ``rel`` must yield columns
    ``grp`` and ``val`` (pre-exploded)."""
    return f"""WITH _ko_dv AS (SELECT DISTINCT grp, val FROM ({rel}) WHERE val IS NOT NULL),
        _ko_h AS (SELECT DISTINCT grp, {_hval_sql('val')} AS h FROM _ko_dv),
        _ko_r AS (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS r FROM _ko_h),
        _ko_s AS (
          SELECT grp, list_sort(list(h)) AS sk FROM _ko_r WHERE r <= {k} GROUP BY grp
        ),
        _ko_p AS (
          SELECT a.grp AS grp_a, b.grp AS grp_b, a.sk AS sa, b.sk AS sb
          FROM _ko_s a JOIN _ko_s b ON a.grp < b.grp
        ),
        _ko_m AS (
          SELECT grp_a, grp_b, sa, sb,
                 list_sort(list_distinct(list_concat(sa, sb)))[1:{k}] AS m
          FROM _ko_p
        ),
        _ko_e AS (
          SELECT grp_a, grp_b,
                 len(list_intersect(list_intersect(m, sa), sb)) AS inter,
                 len(m) AS msz, m
          FROM _ko_m
        )
        SELECT grp_a AS {group_col}_a, grp_b AS {group_col}_b,
               round(CAST(inter AS DOUBLE) / CAST(msz AS DOUBLE), 4) AS jaccard_est,
               round(CASE WHEN msz < {k} THEN CAST(msz AS DOUBLE)
                          ELSE {float(k - 1)!r} * {_HASH_SPACE!r} / CAST(m[{k}] AS DOUBLE) END, 4) AS union_est,
               round((CAST(inter AS DOUBLE) / CAST(msz AS DOUBLE)) *
                     (CASE WHEN msz < {k} THEN CAST(msz AS DOUBLE)
                           ELSE {float(k - 1)!r} * {_HASH_SPACE!r} / CAST(m[{k}] AS DOUBLE) END), 4) AS inter_est
        FROM _ko_e"""


QS_K = 64
# (name, numerator, denominator) — quantiles as exact rationals so the
# nearest-rank index ceil(q*m) is pure integer arithmetic on both engines
# (a double 0.9*m can land a hair above the integer and ceil past it;
# consistent cross-engine, but integer math removes the question)
QS_QUANTILES = (("q50", 1, 2), ("q90", 9, 10))


def _qrank(num: int, den: int, m):
    """Nearest-rank (type-1) index ceil(num/den * m) as a Column, via
    integer ceil-division floor((num*m + den - 1)/den); clamped >= 1 so an
    m=0 group (impossible after the null filter, but cheap) stays in
    bounds. The double division is exact for any m < 2^50."""
    return F.greatest(
        F.lit(1), F.floor((F.lit(num) * m + F.lit(den - 1)) / F.lit(den))
    ).cast("int")


def _qrank_sql(num: int, den: int, m: str) -> str:
    return f"greatest(1, CAST(floor(({num} * {m} + {den - 1}) / {den}.0) AS INTEGER))"


def _q_est_cols(sample_sorted, qs):
    """Per-quantile value picks from a value-sorted sample array."""
    m = F.size(sample_sorted)
    return [
        F.element_at(sample_sorted, _qrank(num, den, m)).alias(f"{name}_est")
        for name, num, den in qs
    ]


def quantile_sketch(
    df: DataFrame,
    group_col: str,
    value_col,
    key_col: str,
    k: int = QS_K,
    qs=QS_QUANTILES,
) -> DataFrame:
    """Per-group exact quantiles + bottom-k-sample estimates — the KMV
    trick applied to order statistics (Cohen & Kaplan's bottom-k sample):
    hash each row's key, keep the k rows with the smallest hashes (a
    uniform without-replacement row sample that is deterministic,
    partitioning-independent, and MERGEABLE — the bottom-k of a union is
    the bottom-k of the per-part bottom-k's), and read nearest-rank
    quantiles off the sample next to the exact ones.

    This is the VERIFICATION twin (like :func:`kmv_distinct`): the exact
    columns force a full per-group sort, so the contract row documents
    estimator error and both engines hash-match. The 100 TB form is
    :func:`quantile_sketch_merged` — bounded per-partition partials, one
    merge groupBy, bit-identical estimates.

    Values are cast to long (nearest-rank on integers — no interpolation,
    so the picked value is bit-exact cross-engine); NULL values are
    excluded, mirroring SQL percentile semantics.
    """
    vc = F.col(value_col) if isinstance(value_col, str) else value_col
    base = df.select(
        F.col(group_col).alias("grp"),
        vc.cast("long").alias("val"),
        _hval(F.col(key_col).cast("string")).alias("h"),
    ).filter(F.col("val").isNotNull())
    agg = base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.array_sort(F.collect_list("val")).alias("vs"),
        F.slice(
            F.array_sort(F.collect_list(F.struct("h", "val"))), 1, k
        ).alias("hs"),
    )
    sample_sorted = F.array_sort(F.transform(F.col("hs"), lambda x: x["val"]))
    exact_cols = [
        F.element_at(F.col("vs"), _qrank(num, den, F.col("n_rows"))).alias(
            f"{name}_exact"
        )
        for name, num, den in qs
    ]
    return agg.select(
        F.col("grp").alias(group_col),
        "n_rows",
        *exact_cols,
        *_q_est_cols(sample_sorted, qs),
    )


def quantile_partials(
    df: DataFrame, group_col: str, value_col, key_col: str, k: int = QS_K
) -> DataFrame:
    """Per-partition bottom-k row sample: for each group, the k (hash,
    value) pairs with the smallest row-key hashes seen in that partition,
    via a bounded max-heap — a pure map stage whose state is at most k
    pairs per (partition, group). Duplicate rows (same key hash) are kept
    as distinct sample slots, matching the row_number semantics of the
    twin. The union of per-partition bottom-k's contains the global
    bottom-k, which is what makes the merged sample — and therefore the
    estimate — identical to :func:`quantile_sketch`'s."""
    import heapq

    import pandas as pd

    vc = F.col(value_col) if isinstance(value_col, str) else value_col
    base = df.select(
        F.col(group_col).alias("grp"),
        vc.cast("long").alias("val"),
        _hval(F.col(key_col).cast("string")).alias("h"),
    ).filter(F.col("val").isNotNull())
    grp_type = base.schema["grp"].dataType.simpleString()

    def summarize(batches):
        kept: dict = {}  # grp -> max-heap of negated (h, val) tuples
        for pdf in batches:
            for g, v, h in zip(
                pdf["grp"].values, pdf["val"].values, pdf["h"].values
            ):
                heap = kept.get(g)
                if heap is None:
                    heap = kept[g] = []
                item = (-int(h), -int(v))
                if len(heap) < k:
                    heapq.heappush(heap, item)
                elif item > heap[0]:
                    heapq.heappushpop(heap, item)
        yield pd.DataFrame(
            {
                "grp": [g for g, heap in kept.items() for _ in heap],
                "h": [-nh for _, heap in kept.items() for nh, _ in heap],
                "val": [-nv for _, heap in kept.items() for _, nv in heap],
            }
        )

    return base.mapInPandas(summarize, f"grp {grp_type}, h long, val long")


def quantile_sketch_merged(
    df: DataFrame,
    group_col: str,
    value_col,
    key_col: str,
    k: int = QS_K,
    qs=QS_QUANTILES,
) -> DataFrame:
    """Scale-shaped quantile estimate WITHOUT the exact twin: bounded
    per-partition bottom-k partials (:func:`quantile_partials`) merged by
    one groupBy that keeps the k hash-smallest of the union. The exchange
    carries at most k rows per (map partition, group) regardless of input
    size, and the merged sample is exactly the twin's sample, so the
    ``*_est`` columns are bit-identical to :func:`quantile_sketch`'s
    (parity-gated in tests and by the ``quantile_merge`` contract key)."""
    merged = (
        quantile_partials(df, group_col, value_col, key_col, k)
        .groupBy("grp")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("h", "val"))), 1, k
            ).alias("hs")
        )
    )
    sample_sorted = F.array_sort(F.transform(F.col("hs"), lambda x: x["val"]))
    return merged.select(
        F.col("grp").alias(group_col), *_q_est_cols(sample_sorted, qs)
    )


def quantile_sketch_sql(
    rel: str, group_col: str, k: int = QS_K, qs=QS_QUANTILES
) -> str:
    """DuckDB twin of :func:`quantile_sketch`; ``rel`` must yield columns
    ``grp``, ``val`` (integral), and ``key`` (string row key)."""
    exact = ", ".join(
        f"vs[{_qrank_sql(num, den, 'n_rows')}] AS {name}_exact"
        for name, num, den in qs
    )
    est = ", ".join(
        f"ss[{_qrank_sql(num, den, 'len(ss)')}] AS {name}_est"
        for name, num, den in qs
    )
    return f"""WITH _qs_b AS (
          SELECT grp, CAST(val AS BIGINT) AS val,
                 {_hval_sql('key')} AS h
          FROM ({rel}) WHERE val IS NOT NULL
        ),
        _qs_a AS (
          SELECT grp, count(*) AS n_rows,
                 list(val ORDER BY val) AS vs,
                 list_sort(list(val ORDER BY h, val)[1:{k}]) AS ss
          FROM _qs_b GROUP BY grp
        )
        SELECT grp AS {group_col}, CAST(n_rows AS BIGINT) AS n_rows, {exact}, {est}
        FROM _qs_a"""


HH_SUPPORT = 0.02  # default support threshold s: report tokens with freq >= s*N


def mg_update(counts: dict, tokens, k: int) -> None:
    """One Misra-Gries step per token, in place: increment a tracked
    counter, admit while below capacity ``k``, else decrement-all and
    drop zeros. Shared by the batch candidate pass and the streaming
    form (``streaming/stateful.heavy_hitters_stream``) so the summary
    semantics — and therefore the superset guarantee — are defined
    exactly once."""
    for t in tokens:
        if t in counts:
            counts[t] += 1
        elif len(counts) < k:
            counts[t] = 1
        else:
            dead = []
            for key in counts:
                counts[key] -= 1
                if counts[key] == 0:
                    dead.append(key)
            for key in dead:
                del counts[key]


def hh_recount(
    docs: DataFrame,
    cands: DataFrame,
    text_col: str = "text",
    support: float = HH_SUPPORT,
) -> DataFrame:
    """Exact recount pass shared by :func:`heavy_hitters` and the
    streaming parity key: broadcast the (deduplicated) candidate tokens,
    hash-join them against the exploded token stream map-side, and keep
    tokens with count >= support * N. Exact and partitioning-invariant
    provided ``cands`` is a superset of the true heavy hitters."""
    cands = cands.dropDuplicates(["token"])
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(_hh_token_re_lit()), 0
            )
        ).alias("token")
    )
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    counted = (
        toks.join(F.broadcast(cands), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counted.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.lit(support) * F.col("n_total"))
        .select("token", "cnt", "n_total")
    )


def _hh_token_re_lit() -> str:
    from entity_extractor_spark.functions.text import TOKEN_RE

    return TOKEN_RE


def heavy_hitters(
    docs: DataFrame,
    text_col: str = "text",
    support: float = HH_SUPPORT,
) -> DataFrame:
    """Exact corpus heavy hitters (tokens with count >= support * N
    total tokens) without a full-vocabulary shuffle.

    Pass 1 — candidates: one ``mapInPandas`` over the text column keeps a
    Misra-Gries summary of capacity k = ceil(1/support) PER PARTITION
    (bounded memory, pure map stage) and emits only the <= k surviving
    tokens. MG guarantees any token it evicts entirely from a partition
    has partition count <= n_p/(k+1); summing over partitions, a token
    in no summary has total count <= N/(k+1) < support*N — so the union
    of summaries is a superset of the true heavy hitters.

    Pass 2 — exact recount: broadcast the candidate tokens (<= k per
    partition — a few KB), hash-join them against the exploded token
    stream map-side, and aggregate only the survivors; the exchange
    carries at most (candidates x partitions) partial rows instead of
    the full vocabulary. The >= filter against the exact total token
    count N makes the result exact and partitioning-invariant.

    Reference basis: the reference's frequency analytics are full
    value_counts (`app.py:210-214`); this is the bounded-memory form
    those analytics need at 100 TB vocabulary sizes.
    """
    import math
    import re as _re

    import pandas as pd

    from entity_extractor_spark.functions.text import TOKEN_RE

    k = math.ceil(1.0 / support)
    # re.ASCII: Python's \w is Unicode-aware while the Java-regex explode
    # in the recount and the RE2 oracle tokenize ASCII-only; without it
    # the MG candidate pass tokenizes DIFFERENT units on non-ASCII text
    # and the superset guarantee (hence exactness) silently breaks.
    tok_re = _re.compile(TOKEN_RE, _re.ASCII)

    def _mg_partition(batches):
        counts: dict[str, int] = {}
        for pdf in batches:
            for text in pdf[text_col]:
                if text is None:
                    continue
                mg_update(counts, tok_re.findall(text.lower()), k)
        yield pd.DataFrame({"token": list(counts.keys())})

    cands = docs.select(text_col).mapInPandas(_mg_partition, "token string")
    return hh_recount(docs, cands, text_col, support)


def grouped_heavy_hitters(
    docs: DataFrame,
    group_col: str,
    text_col: str = "text",
    support: float = HH_SUPPORT,
) -> DataFrame:
    """Per-GROUP exact heavy hitters: tokens with count >= support *
    N_group within each group — :func:`heavy_hitters` generalized to the
    grouped form (per-language / per-source vocabulary analysis, the
    data-mixing diagnostic of an LLM pipeline).

    Same two-pass shape, with the MG superset guarantee applied PER
    (partition, group): pass 1 keeps an independent Misra-Gries summary
    of capacity k = ceil(1/support) for each group seen in the partition
    (state <= k tokens per (partition, group) — bounded, pure map
    stage); a token absent from every partition's summary for group g
    has total in-group count <= N_g/(k+1) < support*N_g, so the union is
    a per-group candidate superset. Pass 2 recounts candidates exactly
    via a broadcast join on (group, token) and filters against the exact
    per-group totals — exact and partitioning-invariant. Only the
    candidate set is ever a shuffle key, never the full per-group
    vocabulary."""
    import math
    import re as _re

    import pandas as pd

    from entity_extractor_spark.functions.text import TOKEN_RE

    k = math.ceil(1.0 / support)
    # re.ASCII: match the Java-regex token units of the recount/oracle
    # (see heavy_hitters)
    tok_re = _re.compile(TOKEN_RE, _re.ASCII)
    base = docs.select(F.col(group_col).alias("grp"), F.col(text_col).alias("text"))
    grp_type = base.schema["grp"].dataType.simpleString()

    def _mg_partition(batches):
        summaries: dict = {}  # grp -> MG counter dict
        for pdf in batches:
            for g, text in zip(pdf["grp"].values, pdf["text"]):
                if text is None:
                    continue
                counts = summaries.get(g)
                if counts is None:
                    counts = summaries[g] = {}
                mg_update(counts, tok_re.findall(text.lower()), k)
        yield pd.DataFrame(
            {
                "grp": [g for g, c in summaries.items() for _ in c],
                "token": [t for _, c in summaries.items() for t in c],
            }
        )

    cands = (
        base.mapInPandas(_mg_partition, f"grp {grp_type}, token string")
        .dropDuplicates(["grp", "token"])
    )
    toks = base.select(
        "grp",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
        ).alias("token"),
    )
    totals = toks.groupBy("grp").agg(F.count(F.lit(1)).alias("n_total"))
    counted = (
        toks.join(F.broadcast(cands), ["grp", "token"])
        .groupBy("grp", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counted.join(F.broadcast(totals), "grp")
        .filter(F.col("cnt") >= F.lit(support) * F.col("n_total"))
        .select(F.col("grp").alias(group_col), "token", "cnt", "n_total")
    )


def grouped_heavy_hitters_sql(
    rel: str, group_col: str, support: float = HH_SUPPORT
) -> str:
    """DuckDB twin of :func:`grouped_heavy_hitters`; ``rel`` must yield
    columns ``grp`` and ``text``."""
    from entity_extractor_spark.functions.text import tokenize_sql

    return f"""
        WITH _gh_tok AS (
          SELECT grp, unnest({tokenize_sql('text')}) AS token FROM ({rel})
        ),
        _gh_tot AS (SELECT grp, count(*) AS n_total FROM _gh_tok GROUP BY grp),
        _gh_c AS (SELECT grp, token, count(*) AS cnt FROM _gh_tok GROUP BY grp, token)
        SELECT c.grp AS {group_col}, c.token, CAST(c.cnt AS BIGINT) AS cnt,
               CAST(t.n_total AS BIGINT) AS n_total
        FROM _gh_c c JOIN _gh_tot t USING (grp)
        WHERE c.cnt >= {support} * t.n_total"""


def heavy_hitters_sql(rel: str = "documents", support: float = HH_SUPPORT) -> str:
    """Exact DuckDB twin of :func:`heavy_hitters` — the sketch pass has
    no oracle (it is only a candidate generator); the exact semantics
    (count >= support * N) are plain SQL."""
    from entity_extractor_spark.functions.text import tokenize_sql

    return f"""
        WITH _hh_tok AS (
          SELECT unnest({tokenize_sql('text')}) AS token FROM {rel}
        ),
        _hh_tot AS (SELECT count(*) AS n_total FROM _hh_tok),
        _hh_c AS (SELECT token, count(*) AS cnt FROM _hh_tok GROUP BY token)
        SELECT c.token, CAST(c.cnt AS BIGINT) AS cnt,
               CAST(t.n_total AS BIGINT) AS n_total
        FROM _hh_c c, _hh_tot t
        WHERE c.cnt >= {support} * t.n_total
        ORDER BY c.token
    """


def kmv_distinct_sql(rel: str, group_col: str, k: int = KMV_K) -> str:
    """DuckDB twin of :func:`kmv_distinct`; ``rel`` must yield columns
    ``grp`` and ``val`` (pre-exploded)."""
    return f"""WITH _kmv_dv AS (SELECT DISTINCT grp, val FROM ({rel}) WHERE val IS NOT NULL),
        _kmv_ne AS (SELECT grp, count(*) AS n_exact FROM _kmv_dv GROUP BY grp),
        _kmv_h AS (SELECT DISTINCT grp, {_hval_sql('val')} AS h FROM _kmv_dv),
        _kmv_r AS (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS r FROM _kmv_h),
        _kmv_a AS (
          SELECT grp, count(*) AS n_hash,
                 max(CASE WHEN r = {k} THEN h END) AS hk
          FROM _kmv_r GROUP BY grp
        )
        SELECT a.grp AS {group_col}, e.n_exact,
               round(CASE WHEN a.n_hash <= {k} THEN a.n_hash::DOUBLE
                          ELSE {float(k - 1)!r} * {_HASH_SPACE!r} / a.hk::DOUBLE END, 4) AS kmv_estimate
        FROM _kmv_a a JOIN _kmv_ne e ON a.grp = e.grp"""
