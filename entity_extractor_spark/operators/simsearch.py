"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — a broadcast join of the (small)
query set against the corpus, so the corpus never shuffles; ranking is a
per-query window top-k (Spark's TakeOrdered pattern, SURVEY A4/O4).

Scale path: sign-LSH bucketing — each vector hashes to a bucket via P
deterministic ±1 hyperplanes (functions/hashing.hyperplanes); candidates
are the query's bucket only, turning the O(N·Q) scan into an equi join on
bucket id. At 100 TB the bucket table is the thing you write to Iceberg,
bucketed by the LSH key, so probes are partition-pruned scans.

Embedding near-dup pairs (:func:`embedding_near_dups`) are the same
bucketing turned on the corpus itself. Their hot-bucket guard is the
window count of ``operators/dedup.blocked_pairs``, written out here
because the bucket join also carries the vectors.

The four top-k operators share one candidate -> verify -> rank core.
`_top_k` is the one per-query window top-k, ranked by
``(score desc, neighbor_id asc)``; `contract/curation._ANN_TAIL` is its
DuckDB twin. `_cosine_topk` is the exact verify of brute force,
sign-LSH and IVF: it projects both sides once (norms computed once per
row), broadcasts the queries, joins on the caller's candidate key (or
on every pair), drops each query from its own neighbours and scores
`paired_cosine`. The callers differ only in the key they add: none,
the LSH bucket, or the IVF cell. `sq8_topk` scores int8 codes instead
and shares only the rank step.

`cosine_expr` is the pure Catalyst cosine fold (zip_with + aggregate);
DuckDB mirrors the exact fold order, so the contract queries hash-match
bit for bit.

Reference basis: cosine scoring at `core_pipeline/embed.py:86-102`,
`score_filtered_contexts.py:59-60`; the reference ranks candidate
contexts by similarity but has no ANN index (driver-RAM dict lookups).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from entity_extractor_spark.functions.hashing import hyperplanes

N_PLANES = 6


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double (DuckDB-mirrored)."""
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def cosine_expr(a: Column, b: Column) -> Column:
    """F11: dot/(|a||b|), 0.0 when either norm is zero."""
    dot = _dot(a, b)
    na, nb = F.sqrt(_dot(a, a)), F.sqrt(_dot(b, b))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        f" z -> z[1]::DOUBLE * z[2]::DOUBLE), (acc, x) -> acc + x)"
    )


def cosine_sql(a: str, b: str) -> str:
    return (
        f"CASE WHEN sqrt({dot_sql(a, a)}) > 0 AND sqrt({dot_sql(b, b)}) > 0 "
        f"THEN {dot_sql(a, b)} / (sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)})) "
        f"ELSE 0.0 END"
    )


def norm_expr(vec: Column) -> Column:
    return F.sqrt(_dot(vec, vec))


def paired_cosine(qv: Column, cv: Column, qn: Column, cn: Column) -> Column:
    """cosine from PRE-COMPUTED per-row norms — cosine_expr would re-fold
    sqrt(dot(v,v)) once per PAIR, tripling the fold work of every
    pair-scoring join (measured 2-3x on the contract bench). Identical
    arithmetic, bit-identical doubles, so the DuckDB mirrors are
    unaffected."""
    return F.when((qn > 0) & (cn > 0), _dot(qv, cv) / (qn * cn)).otherwise(F.lit(0.0))


def _top_k(scored: DataFrame, k: int, by: str = "cos") -> DataFrame:
    """Each query's ``k`` best rows of ``scored`` ranked by ``(by desc,
    neighbor_id asc)``: (query_id, rank, neighbor_id, *rest), where rest
    is ``scored``'s other columns in order. One window partitioned by
    query_id, so its exchange is the only one a broadcast candidate join
    leaves."""
    rest = [c for c in scored.columns if c not in ("query_id", "neighbor_id")]
    w = Window.partitionBy("query_id").orderBy(F.desc(by), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", *rest)
    )


def _cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    key: tuple[str, Column] | None = None,
) -> DataFrame:
    """(query_id, rank, neighbor_id, cos): exact cosine top-k over the
    candidate pairs. ``key = (name, probes)``: each corpus row carries its
    candidate key in column ``name``, ``probes`` is the array of keys a
    query probes (an expression over the query's columns), and a
    candidate is a corpus row whose key its query probes: an equi join,
    so no cross product. With no ``key`` every corpus row is a candidate
    of every query. A query is never its own neighbour.

    ``queries`` is broadcast (the small side), so the corpus is scanned
    once with no shuffle before the per-query window. Norms are computed
    once per row, not per pair, and a query's before its probes are
    exploded."""
    norm = norm_expr(F.col("embedding"))
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        norm.alias("cn"),
        *([key[0]] if key else []),
    )
    # withColumns, not select: ``probes`` may read any of the query's columns
    q = queries.withColumns(
        {"query_id": F.col("vec_id"), "qv": F.col("embedding"), "qn": norm}
    )
    not_self = F.col("neighbor_id") != F.col("query_id")
    if key is None:
        cand = c.join(F.broadcast(q), not_self)
    else:
        name, probes = key
        q = q.withColumn(name, F.explode(probes))
        cand = c.join(F.broadcast(q), name).filter(not_self)
    cos = paired_cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
    return _top_k(cand.select("query_id", "neighbor_id", F.round(cos, 6).alias("cos")), k)


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """(query_id, rank, neighbor_id, cos) — exact top-k by cosine: every
    corpus row is a candidate of every query, the baseline the ANN
    indexes are measured against. The query side is broadcast, so the
    corpus is scanned once with no shuffle before the per-query window."""
    return _cosine_topk(corpus, queries, k)


def lsh_bucket(vec: Column, dim: int, n_planes: int = N_PLANES, offset: int = 0) -> Column:
    """Sign-LSH bucket id: bit p set iff dot(vec, plane_p) > 0."""
    planes = hyperplanes(n_planes, dim, offset)
    out = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        lit_plane = F.lit([float(v) for v in plane])
        bit = F.when(_dot(vec, lit_plane) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        out = out + bit.cast("long")
    return out


def lsh_bucket_sql(vec: str, dim: int, n_planes: int = N_PLANES, offset: int = 0) -> str:
    planes = hyperplanes(n_planes, dim, offset)
    terms = []
    for p, plane in enumerate(planes):
        lit = "[" + ", ".join(f"{v:.1f}" for v in plane) + "]"
        terms.append(f"(CASE WHEN {dot_sql(vec, lit)} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


PROBE_HAMMING = 2


def planes_for(n_rows: int, target_bucket: int = 1024) -> int:
    """The executable form of the near-dup scale rule: choose ``n_planes``
    so the EXPECTED bucket population n_rows / 2^planes stays at
    ``target_bucket`` — keeping per-bucket pair work (quadratic in bucket
    size) bounded as the corpus grows. Measured at sf1 (20k vectors):
    the sf0.1-tuned 6 planes scored ~10M candidate pairs; planes_for's
    answer re-bounds it (BENCH.md §sf1 stress). At 10^12 rows with
    target 10^4 this gives 27 planes — still one long column."""
    import math

    return max(1, math.ceil(math.log2(max(2.0, n_rows / target_bucket))))


def probe_masks(n_planes: int, probe_hamming: int) -> list[int]:
    """XOR masks enumerating every bucket within Hamming distance
    ``probe_hamming`` of a query's own bucket (mask 0 = the bucket
    itself). Deterministic, ordered by popcount then value."""
    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << i for i in range(n_planes)]
    if probe_hamming >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    if probe_hamming > 2:
        raise ValueError("probe_hamming > 2 not supported (probe count explodes)")
    return masks


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = N_PLANES,
    probe_hamming: int = PROBE_HAMMING,
) -> DataFrame:
    """Approximate top-k: candidates restricted to buckets within
    ``probe_hamming`` bit flips of the query's sign-LSH bucket
    (multi-probe LSH, Lv et al. VLDB'07 — the standard recall fix that
    keeps the single-table index).

    The equi join on ``bucket`` is the scale move — on a cluster the
    corpus side is pre-bucketed/partitioned by this key, so each query
    probes 1 + C(P,1) + C(P,2) partitions instead of scanning the
    corpus. Multi-probing happens on the tiny broadcast QUERY side (an
    explode over XOR masks), so the corpus is still touched exactly
    once with no shuffle. Measured on the driver's (near-random,
    adversarial) embeddings: recall@5 0.06 → 0.60 at n_planes=6 going
    from probe_hamming=0 → 2, while scanning ~34% of buckets; on
    clusterable data the same defaults sit ≥0.9 (tests/test_curation).
    """
    masks = F.lit([int(m) for m in probe_masks(n_planes, probe_hamming)]).cast("array<long>")
    bucket = lsh_bucket(F.col("embedding"), dim, n_planes)
    return _cosine_topk(
        corpus.withColumn("bucket", bucket),
        queries.withColumn("_own", bucket),
        k,
        key=("bucket", F.transform(masks, lambda m: F.col("_own").bitwiseXOR(m))),
    )


N_CENTROIDS = 16
# Default probe count chosen by the measured recall gate
# (tests/test_curation.py): on clusterable data n_probe=2 leaves boundary
# clusters split across cells (recall@5 0.72) while n_probe=4 recovers
# them all (1.0). 4/16 cells is the default; at scale n_centroids grows
# with the corpus so the probed fraction shrinks, and recall stays
# tunable per-query with no reindex.
N_PROBE = 4


def centroid_scores(
    vec: Column,
    dim: int,
    n_centroids: int = N_CENTROIDS,
    centroids: list[list[float]] | None = None,
) -> Column:
    """Array of per-centroid assignment scores (argmax = nearest cell).

    Default bank: the formula-derived ±1 vectors of
    :func:`functions.hashing.hyperplanes` — all have identical norm
    sqrt(dim), so argmax dot == argmax cosine and the raw dot is the
    score (the same literals are embedded in the oracle SQL, so this
    path must stay bit-stable).

    With LEARNED ``centroids`` (see :func:`train_centroids`) norms
    differ, so the score is the nearest-Euclidean form
    ``dot(v, c) - |c|^2 / 2`` (equivalent to argmin ||v - c||^2).
    """
    if centroids is None:
        cents = hyperplanes(n_centroids, dim)
        return F.array(*[_dot(vec, F.lit([float(v) for v in c])) for c in cents])
    scores = []
    for c in centroids:
        half_sq = sum(v * v for v in c) / 2.0
        scores.append(_dot(vec, F.lit([float(v) for v in c])) - F.lit(half_sq))
    return F.array(*scores)


def train_centroids(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = N_CENTROIDS,
    sample_size: int = 2048,
    n_iters: int = 8,
) -> list[list[float]]:
    """Deterministic k-means centroid bank for IVF — the standard
    web-scale recipe: fit on a bounded sample, assign the full corpus
    distributively.

    The sample is content-hash-ordered (md5 of the id — stable under
    repartitioning, same machinery as `operators/sampling.py`), so the
    result is seedless-deterministic. The collect is bounded by
    ``sample_size`` rows (~sample_size * dim * 8 bytes — a model fit on
    the driver, like the gazetteer broadcast; SURVEY S3/J2), never the
    corpus. Init = first ``n_centroids`` sample vectors in hash order;
    Lloyd iterations in numpy; empty cells keep their previous centroid.

    At 100 TB the returned bank is embedded as plan literals exactly like
    the fixed bank, so corpus assignment (`ivf_topk(centroids=...)`)
    remains a zero-shuffle map stage and the cell id is still the
    Iceberg partition key — training better centroids changes WHERE rows
    land, not how the plan scales.
    """
    import numpy as np

    s = (
        corpus.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
        .withColumn("_h", F.md5(F.col("_id").cast("string")))
        .orderBy("_h")
        .limit(sample_size)
    )
    X = np.array([list(r["_v"]) for r in s.collect()], dtype=np.float64)
    return _lloyd(X, n_centroids, n_iters)


def _lloyd(X, n_centroids: int, n_iters: int) -> list[list[float]]:
    """Deterministic Lloyd iterations shared by the Spark-sampled and
    local (oracle-side) trainers — identical float64 ops on an identical
    sample produce a bit-identical bank."""
    if len(X) < n_centroids:
        raise ValueError(f"sample ({len(X)}) smaller than n_centroids ({n_centroids})")
    C = X[:n_centroids].copy()
    for _ in range(n_iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(n_centroids):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return [[float(v) for v in row] for row in C]


def train_centroids_local(
    parquet_path: str,
    n_centroids: int = N_CENTROIDS,
    sample_size: int = 2048,
    n_iters: int = 8,
) -> list[list[float]]:
    """Driver-/oracle-side twin of :func:`train_centroids`: same
    content-hash sample order (md5 of the id string — what Spark's
    ``md5(cast(id as string))`` computes), same float32→float64
    widening, same Lloyd loop — so the returned bank is bit-identical
    to the Spark-sampled one on the same table. Exists so an oracle can
    embed the SAME plan literals the engine trains, without a Spark
    session."""
    import hashlib

    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_pylist()
    vecs = t.column("embedding").to_pylist()
    order = sorted(
        range(len(ids)),
        key=lambda i: hashlib.md5(str(ids[i]).encode()).hexdigest(),
    )[:sample_size]
    X = np.array([vecs[i] for i in order], dtype=np.float64)
    return _lloyd(X, n_centroids, n_iters)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = N_CENTROIDS,
    n_probe: int = N_PROBE,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus into
    ``n_centroids`` cells (nearest centroid, first-index tie-break),
    probe each query's best ``n_probe`` cells. Pass ``centroids`` from
    :func:`train_centroids` for a data-fitted bank (higher recall per
    probed cell on clustered corpora); the default fixed ±1 bank is the
    oracle-mirrored contract path.

    This is the third ANN path next to brute force (exact baseline) and
    sign-LSH: IVF is the standard web-scale layout — the cell id is the
    Iceberg partition key, so each query reads ``n_probe`` partitions of
    a 100 TB corpus instead of all of it, and recall is tuned by
    ``n_probe`` alone (no reindex). Assignment and probing are pure
    Catalyst folds over centroid literals; candidates come from an equi
    join on ``cell`` (plan-asserted: no cartesian, no BNLJ). The
    centroid scores ``_cs`` are a column of their own, so each row folds
    them once even though the cell and the probe list read them twice.
    """

    def with_cs(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "_cs", centroid_scores(F.col("embedding"), dim, n_centroids, centroids)
        )

    nearest = F.expr("CAST(array_position(_cs, array_max(_cs)) - 1 AS INT)")
    probe = F.expr(
        f"transform(slice(array_sort(transform(sequence(0, {n_centroids - 1}), "
        f"i -> struct(-_cs[i] AS ns, i AS cid))), 1, {n_probe}), x -> CAST(x.cid AS INT))"
    )
    return _cosine_topk(
        with_cs(corpus).withColumn("cell", nearest), with_cs(queries), k, key=("cell", probe)
    )


def centroid_scores_sql(vec: str, dim: int, n_centroids: int = N_CENTROIDS) -> str:
    """DuckDB twin of :func:`centroid_scores` (1-indexed list)."""
    cents = hyperplanes(n_centroids, dim)
    dots = ", ".join(
        dot_sql(vec, "[" + ", ".join(f"{v:.1f}" for v in c) + "]") for c in cents
    )
    return f"[{dots}]"


def centroid_scores_learned_sql(vec: str, centroids: list[list[float]]) -> str:
    """DuckDB twin of :func:`centroid_scores` with a LEARNED bank: the
    nearest-Euclidean score ``dot(v, c) - |c|^2 / 2`` per centroid.
    Literals are emitted with ``repr`` (shortest round-trip) FORCED to
    scientific notation: DuckDB types a bare decimal literal as
    DECIMAL, whose conversion to DOUBLE drops bits (~5% of random
    doubles measured); an exponent-suffixed literal is parsed directly
    as the exact DOUBLE Spark's ``F.lit`` carries."""

    def dlit(v: float) -> str:
        r = repr(float(v))
        return r if ("e" in r or "E" in r or "inf" in r or "nan" in r) else r + "e0"

    scores = []
    for c in centroids:
        half_sq = sum(v * v for v in c) / 2.0
        lit = "[" + ", ".join(dlit(v) for v in c) + "]"
        scores.append(f"({dot_sql(vec, lit)} - {dlit(half_sq)})")
    return "[" + ", ".join(scores) + "]"


def embedding_near_dups(
    corpus: DataFrame,
    dim: int,
    threshold: float,
    n_planes: int = N_PLANES,
    max_bucket: int = 100_000,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding near-duplicate pairs (i < j, cosine >= threshold) via
    sign-LSH bucketing — the SCALE path next to the exact all-pairs
    baseline (`contract embedding_dups`, which stays the verification
    oracle on bounded tables).

    Candidates come from an equi self-join on the LSH bucket — high-
    cosine pairs collide with high probability (sign-LSH collision
    P = (1 - θ/π)^planes) and the corpus never cross-joins. Recall is
    tuned by ``n_planes`` (fewer planes → bigger buckets → higher
    recall, more candidates); at 100 TB the bucket is the Iceberg
    partition key and each bucket's pairs compute locally.

    Pair count per bucket is still quadratic in bucket size, so two
    explicit scale controls apply (same rule as minhash_lsh_pairs'
    hot-bucket guard): ``n_planes`` must grow with corpus size so
    2^planes keeps the expected bucket population bounded, and
    ``max_bucket`` hard-drops degenerate buckets (a spike of duplicated
    or near-zero embeddings) BEFORE the self-join.

    ``n_tables`` is the RECALL control (OR-amplification): each row
    hashes into L independent plane banks, a pair is a candidate if it
    collides in ANY table, and duplicate candidates are collapsed before
    scoring. Sign-LSH collision is per-plane p = 1 - θ/π, so a table of
    P planes fires at p^P and L tables at 1-(1-p^P)^L — e.g. true dups
    at cosine 0.9 (p≈0.856): one 6-plane table catches 39%, four catch
    86%, eight 98%. The per-(table, bucket) layout keys the Iceberg
    partition at scale exactly like the single-table path; the cost is
    L× the signature compute and candidate volume, measured in
    BENCH.md §near-dup recall.

    The bucket join carries each row's vector and norm, so the cosine
    verify needs no second join. This is why the candidates do not come
    from ``operators/dedup.blocked_pairs``, which returns bare id pairs:
    joining the vectors back onto them measured slower
    (``embedding_dups_lsh`` at sf0.1, local[4] on a 4-vCPU VM: median
    2.59 → 3.15 s over 5 alternating pairs, 2 of 5 won). The hot-bucket
    guard is the same window count before the self-join.
    """
    b = corpus.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_v"),
        norm_expr(F.col("embedding")).alias("_nrm"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        lsh_bucket(
                            F.col("embedding"), dim, n_planes, offset=t * n_planes
                        ).alias("b"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("_tb"),
    ).select("_id", "_v", "_nrm", F.col("_tb.t").alias("_t"), F.col("_tb.b").alias("_bucket"))
    bucket_n = F.count(F.lit(1)).over(Window.partitionBy("_t", "_bucket"))
    b = b.withColumn("_n", bucket_n).filter(F.col("_n") <= max_bucket).drop("_n")
    a = b.select(F.col("_id").alias("i"), F.col("_v").alias("va"), F.col("_nrm").alias("na"), "_t", "_bucket")
    c = b.select(F.col("_id").alias("j"), F.col("_v").alias("vb"), F.col("_nrm").alias("nb"), "_t", "_bucket")
    cos = paired_cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    cand = a.join(c, ["_t", "_bucket"]).filter(F.col("i") < F.col("j"))
    if n_tables > 1:
        # collapse cross-table duplicate candidates BEFORE the cosine
        # fold — every copy carries identical vectors, so keep-any is safe
        cand = cand.dropDuplicates(["i", "j"])
    return (
        cand.select("i", "j", F.round(cos, 6).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


SQ8_MAX = 127


def sq8_quantize(vec: Column) -> Column:
    """Scalar int8 quantization: q_i = floor(v_i * 127 / max|v| + 0.5).

    Deterministic by construction — both factors of the affine map are
    correctly-rounded IEEE ops in a fixed order ((v*127)/m, then
    floor(x+0.5)), so Spark and DuckDB produce identical codes; an
    all-zero vector quantizes to all zeros.
    """
    m = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    return F.transform(
        vec,
        lambda x: F.when(m > 0, F.floor(x.cast("double") * F.lit(float(SQ8_MAX)) / m + F.lit(0.5)))
        .otherwise(F.lit(0))
        .cast("long"),
    )


def sq8_quantize_sql(vec: str) -> str:
    m = f"list_max(list_transform({vec}, x -> abs(x::DOUBLE)))"
    return (
        f"list_transform({vec}, x -> CAST(CASE WHEN {m} > 0 "
        f"THEN floor(x::DOUBLE * {float(SQ8_MAX)!r} / {m} + 0.5) ELSE 0 END AS BIGINT))"
    )


def _int_dot(a: Column, b: Column) -> Column:
    prod = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(prod, F.lit(0).cast("long"), lambda acc, x: acc + x)


def sq8_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """(query_id, rank, neighbor_id, score_q, cos_sq8) — top-k by INTEGER
    dot product of int8-quantized vectors.

    The 100 TB memory play: int8 codes are 4× smaller than float32 (the
    quantized corpus is what you materialize to Iceberg; re-ranking the
    shortlist against full-precision vectors is a bounded second read).
    Because the score accumulator is an exact int64 sum, ranking is
    independent of partitioning and engine — unlike float dot products,
    a reshuffled cluster returns the identical top-k, and the DuckDB
    oracle hash-matches. ``cos_sq8`` is the quantized-cosine estimate
    (int dot over the exact int-code norms, fixed op order). Plan shape
    matches brute_force_topk: broadcast query side, zero corpus shuffle,
    per-query window top-k (:func:`_top_k`, ranked by ``score_q``).
    """
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            sq8_quantize(F.col("embedding")).alias("qq"),
        ).withColumn("qn", F.sqrt(_int_dot(F.col("qq"), F.col("qq")).cast("double")))
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        sq8_quantize(F.col("embedding")).alias("cq"),
    ).withColumn("cn", F.sqrt(_int_dot(F.col("cq"), F.col("cq")).cast("double")))
    scored = (
        c.join(q, F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score_q", _int_dot(F.col("qq"), F.col("cq")))
        .select(
            "query_id",
            "neighbor_id",
            "score_q",
            F.round(
                F.when(
                    (F.col("qn") > 0) & (F.col("cn") > 0),
                    F.col("score_q").cast("double") / (F.col("qn") * F.col("cn")),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("cos_sq8"),
        )
    )
    return _top_k(scored, k, by="score_q")
