"""TF-IDF document similarity over the token inverted index.

The north rule substitutes deterministic TF-IDF/char-ngram similarity
for the reference's neural embeddings (`score_filtered_contexts.py:
59-60`); operators/scoring.py provides the char-ngram kernel, this
module the corpus-weighted token form — as the classic IR join plan:

  tokens -> per-(doc, token) counts -> per-token document frequency ->
  weighted postings -> query ⨝ postings on token -> groupBy pair -> cosine

Shuffle shape: two aggregations keyed on (doc, token) and (token) — both
high-cardinality, evenly distributed; the similarity join is an equi join
on token against the (small, broadcast) query postings. Never a cross
join.

Determinism across engines AND across runs: floating-point sums are
summation-order-dependent, and a groupBy's partial-aggregation order is
not stable — so weights are INTEGERS (tf count x an integer-scaled IDF
surrogate ``(N * IDF_SCALE) div df``; integer sums are order-free) and
floating point enters only in the final exactly-rounded division/sqrt.
The log() IDF is deliberately avoided: libm log differs across engines
in the last ulp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_extractor_spark.functions import text as T

IDF_SCALE = 1000


def weighted_postings(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc, token, w) integer-weighted postings list."""
    tok = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(T.tokenize(F.col(text_col))).alias("token"),
    )
    tf = tok.groupBy("doc", "token").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = docs.count()  # one scalar; scan is cheap relative to the aggs
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = df_t.select(
        "token", F.expr(f"({n_docs}L * {IDF_SCALE}L) div df").alias("idf_scaled")
    )
    return tf.join(idf, "token").select(
        "doc", "token", (F.col("tf") * F.col("idf_scaled")).cast("long").alias("w")
    )


def tfidf_topk(
    docs: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint: bool = True,
) -> DataFrame:
    """(query_id, rank, doc_id, cos) exact top-k TF-IDF cosine neighbors.

    The query-side postings are broadcast; the corpus postings are the
    probe side of a token equi join, so corpus data shuffles only into
    the pair aggregation.

    ``postings`` feeds three subtrees (norms, the broadcast query side,
    and the probe side), so it is materialized once behind a
    lineage cut (the ``_cut`` idiom of the graph operators) — without
    it the tokenize→tf→idf chain and its three exchanges replay per
    reference (the plan census read 17 exchanges; cut: one postings
    build plus the join/agg/window chain). Measured crossover: at
    sf0.1 (5k docs) the recompute is cheaper than the materialization
    (1.25 vs 1.54 s); at sf1 (50k) they tie (5.5–6.0 s both); past
    that the cut wins linearly in corpus size — it trades a bounded
    postings write for two full corpus re-tokenizations, the 100 TB
    side of the trade. The cut is eager: a lazy one is filled by the
    first job that reaches it, and the query-side broadcast job and the
    probe job both reach it, so two tasks could store the same block
    ("Block rdd_… already exists"). ``checkpoint=False`` keeps the logical plan
    visible for plan inspection (and is the faster choice for
    sub-sf1 interactive corpora)."""
    from pyspark.sql import Window

    postings = weighted_postings(docs, id_col, text_col)
    if checkpoint:
        postings = postings.localCheckpoint(eager=True)
    norms = postings.groupBy("doc").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    qp = F.broadcast(
        postings.filter(F.col("doc").isin(query_ids)).select(
            F.col("doc").alias("query_id"), "token", F.col("w").alias("qw")
        )
    )
    dots = (
        postings.join(qp, "token")
        .filter(F.col("doc") != F.col("query_id"))
        .groupBy("query_id", "doc")
        .agg(F.sum(F.col("w") * F.col("qw")).alias("dot"))
    )
    qn = norms.select(F.col("doc").alias("query_id"), F.col("n2").alias("qn2"))
    scored = (
        dots.join(norms, "doc")
        .join(F.broadcast(qn), "query_id")
        .select(
            "query_id",
            F.col("doc").alias("doc_id"),
            F.round(
                F.col("dot").cast("double") / (F.sqrt("n2") * F.sqrt("qn2")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "cos")
    )


def tfidf_topk_sql(query_ids: list[int], k: int = 5) -> str:
    """DuckDB twin of :func:`tfidf_topk` over the documents view."""
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
        WITH tok AS (
          SELECT doc_id AS doc, unnest({T.tokenize_sql("text")}) AS token FROM documents
        ),
        tf AS (SELECT doc, token, COUNT(*) AS tf FROM tok GROUP BY doc, token),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        idf AS (
          SELECT token, (n.n_docs * {IDF_SCALE}) // COUNT(DISTINCT doc) AS idf_scaled
          FROM tf CROSS JOIN n GROUP BY token, n.n_docs
        ),
        p AS (
          SELECT doc, tf.token, CAST(tf * idf_scaled AS BIGINT) AS w
          FROM tf JOIN idf ON tf.token = idf.token
        ),
        norms AS (SELECT doc, sum(w * w) AS n2 FROM p GROUP BY doc),
        qp AS (SELECT doc AS query_id, token, w AS qw FROM p WHERE doc IN ({ids})),
        dots AS (
          SELECT qp.query_id, p.doc, sum(p.w * qp.qw) AS dot
          FROM p JOIN qp ON p.token = qp.token AND p.doc <> qp.query_id
          GROUP BY qp.query_id, p.doc
        ),
        scored AS (
          SELECT d.query_id, d.doc AS doc_id,
                 round(CAST(d.dot AS DOUBLE) / (sqrt(nd.n2) * sqrt(nq.n2)), 6) AS cos
          FROM dots d
          JOIN norms nd ON nd.doc = d.doc
          JOIN norms nq ON nq.doc = d.query_id
        )
        SELECT query_id, rank, doc_id, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rank
          FROM scored
        ) WHERE rank <= {k} ORDER BY query_id, rank
    """
