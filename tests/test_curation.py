"""Unit tests for the training-data curation operators: dedup suite,
similarity search, text analysis, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_extractor_spark.operators import dedup as D
from entity_extractor_spark.operators import simsearch as S
from entity_extractor_spark.operators import textstats as X
from entity_extractor_spark.operators.multimodal import (
    attach_payloads,
    decode_assets,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog", "en"),
        (2, "THE QUICK  brown fox jumps over the lazy dog", "en"),  # exact dup after norm
        (3, "The quick brown fox jumps over the lazy cat today", "en"),  # near dup
        (4, "der Hund und die Katze sind mit dem Ball", "de"),
        (5, "completely unrelated text about spark query engines", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup_finds_normalized_dup(docs):
    out = {r["doc_id"]: r for r in D.exact_dedup(docs).collect()}
    assert out[2]["canonical_id"] == 1 and out[2]["is_dup"]
    assert not out[1]["is_dup"] and not out[3]["is_dup"]


def test_minhash_identical_docs_equal_signatures(docs):
    sigs = {r["doc_id"]: tuple(r[f"s{i}"] for i in range(8)) for r in D.minhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2]  # same token set
    assert sigs[1] != sigs[5]


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {(r["i"], r["j"]): r["jaccard"] for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs  # 8/10 shared distinct tokens
    assert (1, 5) not in pairs


def test_ngram_jaccard_pairs(docs):
    pairs = {(r["i"], r["j"]): r["jaccard"] for r in D.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    assert all(5 not in p for p in pairs)


def test_simhash_and_pairs(docs):
    fps = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    assert fps[1] == fps[2]
    assert 0 <= fps[1] < (1 << 32)
    pairs = {(r["i"], r["j"]): r["hamming"] for r in D.simhash_pairs(docs, max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0


def test_topk_ties_known_answer(spark):
    """Duplicate and collinear vectors tie on cosine, and a zero vector
    scores 0.0 against everything. Brute force, single-bucket LSH and
    all-cell IVF see every corpus row as a candidate, so all three must
    return the same rows: ties ranked by neighbor_id, every candidate
    when k exceeds their count, and never the query itself."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),  # duplicate of 0
        (2, [2.0, 0.0, 0.0, 0.0]),  # collinear with 0
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 3.0, 0.0, 0.0]),  # collinear with 3
        (5, [1.0, 1.0, 0.0, 0.0]),
        (6, [0.0, 0.0, 0.0, 0.0]),  # zero norm
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = e.filter(F.col("vec_id").isin(0, 3, 6))
    half = 0.707107  # round(cos 45°, 6)
    ranked = {
        0: [(1, 1.0), (2, 1.0), (5, half), (3, 0.0), (4, 0.0), (6, 0.0)],
        3: [(4, 1.0), (5, half), (0, 0.0), (1, 0.0), (2, 0.0), (6, 0.0)],
        6: [(n, 0.0) for n in (0, 1, 2, 3, 4, 5)],
    }
    want = sorted(
        (qid, rank, nid, cos)
        for qid, hits in ranked.items()
        for rank, (nid, cos) in enumerate(hits, start=1)
    )
    for op in (
        S.brute_force_topk(e, q, k=10),
        S.lsh_topk(e, q, dim=4, k=10, n_planes=0, probe_hamming=0),
        S.ivf_topk(e, q, dim=4, k=10, n_probe=S.N_CENTROIDS),
    ):
        got = sorted(tuple(r) for r in op.collect())
        assert got == want
        assert all(qid != nid for qid, _, nid, _ in got)


def test_lsh_topk_subset_of_bucket(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 3)
    rows = S.lsh_topk(e, q, dim=64, k=4).collect()
    # multi-probe: every returned neighbor must lie within PROBE_HAMMING
    # bit flips of the query's bucket; with probe_hamming=0 it must share
    # the bucket exactly
    buckets = {
        r["vec_id"]: r["b"]
        for r in e.select("vec_id", S.lsh_bucket(F.col("embedding"), 64).alias("b")).collect()
    }
    for r in rows:
        ham = bin(buckets[r["query_id"]] ^ buckets[r["neighbor_id"]]).count("1")
        assert ham <= S.PROBE_HAMMING
    strict = S.lsh_topk(e, q, dim=64, k=4, probe_hamming=0).collect()
    for r in strict:
        assert buckets[r["query_id"]] == buckets[r["neighbor_id"]]


def _clustered_embeddings(spark, n_clusters=8, per_cluster=25, dim=64, noise=0.15):
    """Deterministic clusterable corpus: ±1 cluster centers (distinct from
    the index's own hyperplane bank) + small seeded noise. This is the
    REPRESENTATIVE case for an ANN index — real embedding spaces cluster;
    the driver's random-vector table is the adversarial worst case."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.choice([-1.0, 1.0], size=(n_clusters, dim))
    rows = []
    for c in range(n_clusters):
        pts = centers[c] + noise * rng.standard_normal((per_cluster, dim))
        for i, p in enumerate(pts):
            rows.append((c * per_cluster + i, [float(v) for v in p]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ann_recall_defaults_on_clusterable_data(spark):
    """Retrieval-quality gate (round-3 VERDICT item 2), part 1: on
    clusterable data — the case an ANN index exists for — the DEFAULT
    settings must deliver high recall@5 vs exact brute force."""
    from entity_extractor_spark.operators.ann_eval import mean_recall

    e = _clustered_embeddings(spark).cache()
    q = e.filter(F.col("vec_id") < 10)
    exact = S.brute_force_topk(e, q, k=5).cache()
    r_lsh = mean_recall(S.lsh_topk(e, q, dim=64, k=5), exact, k=5)
    r_ivf = mean_recall(S.ivf_topk(e, q, dim=64, k=5), exact, k=5)
    assert r_lsh >= 0.9, f"sign-LSH default recall@5 {r_lsh:.3f} < 0.9 on clusterable data"
    assert r_ivf >= 0.9, f"IVF default recall@5 {r_ivf:.3f} < 0.9 on clusterable data"
    exact.unpersist()
    e.unpersist()


def test_ivf_learned_centroids_beat_fixed_bank(spark):
    """`train_centroids` (deterministic sample k-means) must produce a
    bank that matches or beats the fixed ±1 bank per probed cell on
    clusterable data: with 16 learned centroids over 8 true clusters,
    n_probe=1 should already be near-exact (each cluster owns >= 1
    centroid), whereas the fixed bank needed n_probe=4. Also pins
    determinism: two trainings yield identical banks."""
    from entity_extractor_spark.operators.ann_eval import mean_recall

    e = _clustered_embeddings(spark).cache()
    q = e.filter(F.col("vec_id") < 10)
    exact = S.brute_force_topk(e, q, k=5).cache()
    cents = S.train_centroids(e, dim=64, n_centroids=16, sample_size=120)
    assert cents == S.train_centroids(e, dim=64, n_centroids=16, sample_size=120)
    r_learned_p1 = mean_recall(
        S.ivf_topk(e, q, dim=64, k=5, n_probe=1, centroids=cents), exact, k=5
    )
    r_fixed_p1 = mean_recall(S.ivf_topk(e, q, dim=64, k=5, n_probe=1), exact, k=5)
    assert r_learned_p1 >= r_fixed_p1, (r_learned_p1, r_fixed_p1)
    assert r_learned_p1 >= 0.9, f"learned-centroid IVF n_probe=1 recall {r_learned_p1:.3f} < 0.9"
    exact.unpersist()
    e.unpersist()


def test_train_centroids_local_twin_bit_identical(spark):
    """The sessionless oracle-side trainer must reproduce the Spark
    trainer's bank to the last bit (same md5 sample order, same
    float32→float64 widening, same Lloyd loop) — what lets
    `ann_ivf_trained`'s oracle embed the engine's plan literals."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = S.train_centroids(e, dim=64, sample_size=256, n_iters=8)
    b = S.train_centroids_local(
        f"{SF_DIR}/embeddings.parquet", sample_size=256, n_iters=8
    )
    assert a == b

    # and the learned-score SQL emitter round-trips every literal as an
    # exact DOUBLE (bare decimals would be typed DECIMAL and drop bits)
    import duckdb

    from entity_extractor_spark.operators.simsearch import (
        centroid_scores_learned_sql,
    )

    sql = centroid_scores_learned_sql("v", a[:2])
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {sql} FROM (SELECT list_prepend(CAST(1.0 AS DOUBLE), "
        f"[CAST(0.25 AS DOUBLE) FOR _ IN range(63)]) AS v)"
    ).fetchone()[0]
    import numpy as np

    vec = np.array([1.0] + [0.25] * 63)
    for c, g in zip(a[:2], got):
        want = float(np.dot(vec, np.array(c, dtype=np.float64)) - np.dot(c, c) / 2.0)
        assert abs(g - want) < 1e-9


def test_ann_recall_adversarial_floor_and_limits(spark):
    """Part 2: the driver embeddings are near-random (5th-NN cosine
    ≈ 0.3) — the worst case for any ANN index, where recall ≈ fraction
    of corpus scanned. Floors here pin the measured multi-probe curve
    (BENCH.md §ANN recall); the limit cases (probe every cell / single
    bucket) must be EXACTLY 1.0, which pins the evaluation harness."""
    from entity_extractor_spark.operators.ann_eval import mean_recall

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    exact = S.brute_force_topk(e, q, k=5).cache()

    # Default multi-probe (n_planes=6, probe_hamming=2): measured 0.60.
    r_lsh = mean_recall(S.lsh_topk(e, q, dim=64, k=5), exact, k=5)
    assert r_lsh >= 0.55, f"multi-probe LSH recall@5 {r_lsh:.3f} < 0.55"
    # Single-probe collapses on random data (measured 0.06) — the reason
    # probe_hamming=2 is the default.
    r_lsh0 = mean_recall(S.lsh_topk(e, q, dim=64, k=5, probe_hamming=0), exact, k=5)
    assert r_lsh0 <= r_lsh
    # IVF: recall grows monotonically with n_probe; 8/16 cells ≥ 0.6.
    r_p2 = mean_recall(S.ivf_topk(e, q, dim=64, k=5, n_probe=2), exact, k=5)
    r_p8 = mean_recall(S.ivf_topk(e, q, dim=64, k=5, n_probe=8), exact, k=5)
    assert r_p8 >= 0.6, f"IVF n_probe=8 recall@5 {r_p8:.3f} < 0.6"
    assert r_p2 <= r_p8

    # Limit cases must be exact.
    r_ivf_all = mean_recall(
        S.ivf_topk(e, q, dim=64, k=5, n_probe=S.N_CENTROIDS), exact, k=5
    )
    r_lsh_one = mean_recall(
        S.lsh_topk(e, q, dim=64, k=5, n_planes=0, probe_hamming=0), exact, k=5
    )
    assert r_ivf_all == 1.0, f"IVF with n_probe=n_centroids must be exact, got {r_ivf_all}"
    assert r_lsh_one == 1.0, f"LSH with 0 planes must be exact, got {r_lsh_one}"
    exact.unpersist()


def test_embedding_dups_lsh_pair_recall(spark):
    """Pair recall of the LSH near-dup scale path vs the exact all-pairs
    baseline (round-3 VERDICT item 4). No false positives are possible
    (candidates are re-scored exactly), so recall is the only quality
    axis; n_planes=0 (single bucket) must recover every pair."""
    from entity_extractor_spark.operators.ann_eval import pair_recall

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    nrm = S.norm_expr(F.col("embedding"))
    a = e.select(F.col("vec_id").alias("i"), F.col("embedding").alias("va"), nrm.alias("na"))
    b = e.select(F.col("vec_id").alias("j"), F.col("embedding").alias("vb"), nrm.alias("nb"))
    cos = S.paired_cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    exact = (
        a.join(b, F.col("i") < F.col("j"))
        .select("i", "j", F.round(cos, 6).alias("cos"))
        .filter(F.col("cos") >= 0.4)
        .cache()
    )
    approx = S.embedding_near_dups(e, dim=64, threshold=0.4, n_planes=6)
    r_default = pair_recall(approx, exact)
    r_exhaust = pair_recall(S.embedding_near_dups(e, dim=64, threshold=0.4, n_planes=0), exact)
    assert r_exhaust == 1.0, f"single-bucket LSH must recover all pairs, got {r_exhaust}"
    # Driver pairs sit barely above the 0.4 threshold (random vectors), so a
    # single 6-plane table fires at ≈(1-acos(0.4)/π)^6 ≈ 0.06 — the measured
    # 0.106 matches theory. OR-amplification (n_tables) is the recall dial:
    # 4 tables must strictly dominate 1, and all tables of 0 planes is
    # exhaustive again.
    assert r_default >= 0.05, f"n_planes=6 pair recall {r_default:.3f} below theory floor"
    r_l4 = pair_recall(
        S.embedding_near_dups(e, dim=64, threshold=0.4, n_planes=6, n_tables=4), exact
    )
    assert r_l4 > r_default, f"4-table OR-amplified recall {r_l4:.3f} <= single-table {r_default:.3f}"
    # fewer planes -> bigger buckets -> recall must not decrease
    r_fewer = pair_recall(S.embedding_near_dups(e, dim=64, threshold=0.4, n_planes=3), exact)
    assert r_fewer >= r_default - 1e-9
    exact.unpersist()


def test_planes_for_scale_rule():
    assert S.planes_for(2_000, target_bucket=31) == 7
    assert S.planes_for(20_000, target_bucket=20) == 10
    assert S.planes_for(10**12, target_bucket=10**4) == 27
    assert S.planes_for(10, target_bucket=1024) == 1  # never below 1
    # monotone in corpus size
    assert S.planes_for(10**9) >= S.planes_for(10**6) >= S.planes_for(10**3)


def test_embedding_dups_lsh_recall_on_planted_dups(spark):
    """True near-duplicates (cosine ≥ 0.9 — the case dedup exists for)
    must be caught reliably by multi-table LSH: plant 30 dup pairs on a
    random background and require ≥0.9 recall at n_tables=8, monotone in
    the table count."""
    import numpy as np

    from entity_extractor_spark.operators.ann_eval import pair_recall

    rng = np.random.default_rng(11)
    base = rng.standard_normal((120, 64))
    rows = [(i, [float(v) for v in base[i]]) for i in range(120)]
    # 30 planted dups: copy of row i with 5% noise -> cosine ≈ 0.97+
    for d in range(30):
        noisy = base[d] + 0.05 * rng.standard_normal(64)
        rows.append((1000 + d, [float(v) for v in noisy]))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    nrm = S.norm_expr(F.col("embedding"))
    a = e.select(F.col("vec_id").alias("i"), F.col("embedding").alias("va"), nrm.alias("na"))
    b = e.select(F.col("vec_id").alias("j"), F.col("embedding").alias("vb"), nrm.alias("nb"))
    cos = S.paired_cosine(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    exact = (
        a.join(b, F.col("i") < F.col("j"))
        .select("i", "j", F.round(cos, 6).alias("cos"))
        .filter(F.col("cos") >= 0.9)
        .cache()
    )
    assert exact.count() >= 30  # the planted pairs are all there
    r1 = pair_recall(S.embedding_near_dups(e, dim=64, threshold=0.9, n_planes=6, n_tables=1), exact)
    r8 = pair_recall(S.embedding_near_dups(e, dim=64, threshold=0.9, n_planes=6, n_tables=8), exact)
    assert r8 >= 0.9, f"8-table LSH recall on planted dups {r8:.3f} < 0.9"
    assert r1 <= r8
    exact.unpersist()
    e.unpersist()


def test_language_id(spark):
    rows = [
        (1, "the cat is on the mat and it is happy"),
        (2, "der Hund ist mit der Katze und dem Ball"),
        (3, "el perro y el gato en la casa es un amigo"),
        (4, "xyzzy plugh qwerty"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r["lang"] for r in df.select("id", X.language_id(F.col("text")).alias("lang")).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "es" and out[4] == "und"


def test_quality_score_ordering(spark):
    rows = [
        (1, "the cat sat on the mat with a dog and the bird went to the park in a sunny day for fun"),
        (2, "@#$% ^^ !!"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r["q"] for r in df.select("id", X.quality_score(F.col("text")).alias("q")).collect()}
    assert out[1] > out[2]
    assert 0.0 <= out[2] <= out[1] <= 1.0


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "hello world, 42 times!")], "id long, text string")
    tc = X.token_counts(F.col("text"))
    r = df.select(tc["n_ws_tokens"].alias("ws"), tc["n_bpe_tokens"].alias("bpe")).first()
    assert r["ws"] == 4
    # hello / world / , / 42 / times / !
    assert r["bpe"] == 6


def test_fingerprint_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "omega psi chi phi")],
        "id long, text string",
    )
    rows = {r["id"]: (r["fp0"], r["fp1"]) for r in df.select("id", *X.doc_fingerprint(F.col("text"))).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_multimodal_roundtrip(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    assets = attach_payloads(docs)
    dec = decode_assets(assets)
    rows = dec.collect()
    assert len(rows) == 50
    assert set(dec.columns) == {"asset_id", "kind", "width", "height", "n_frames", "checksum"}
    for r in rows:
        assert 16 <= r["width"] <= 256 and 16 <= r["height"] <= 256
        assert (r["n_frames"] == 1) == (r["kind"] == "image")


def test_wav_codec_roundtrip_known_values(spark):
    """REAL audio codec: a known string encodes to a genuine RIFF/WAVE
    container whose stdlib-wave decode returns hand-computable features
    (samples = utf-8 bytes, rms = exact integer isqrt of mean square)."""
    import math

    from entity_extractor_spark.operators.multimodal import (
        WAV_RATE,
        decode_wav,
        wav_payloads,
    )

    text = "abc"
    b = text.encode("utf-8")
    expected_ss = sum(((x - 128) * 256) ** 2 for x in b)
    docs = spark.createDataFrame([(7, text), (8, "")], "doc_id long, text string")
    payloads = {r["asset_id"]: bytes(r["payload"]) for r in wav_payloads(docs).collect()}
    # genuine RIFF/WAVE container bytes
    assert payloads[7][:4] == b"RIFF" and payloads[7][8:12] == b"WAVE"
    rows = {r["asset_id"]: r for r in decode_wav(wav_payloads(docs)).collect()}
    r = rows[7]
    assert (r["sample_rate"], r["n_channels"], r["sample_width"]) == (WAV_RATE, 1, 2)
    assert r["n_samples"] == len(b)
    assert r["rms"] == math.isqrt(expected_ss // len(b))
    # 'abc' bytes 97/98/99 are all < 128: max |b-128| = 31, no sign flip
    assert r["peak"] == 31 * 256
    assert r["zero_cross"] == 0
    # 'aXa' with X > 127 flips sign twice: a(97) -> é(233 as latin? use
    # a 2-byte utf-8 char: 'aéa' bytes 97, 195, 169, 97 -> flips at
    # 97->195 and 169->97 (195,169 both >= 128, no flip between them)
    docs2 = spark.createDataFrame([(9, "aéa")], "doc_id long, text string")
    r9 = decode_wav(wav_payloads(docs2)).collect()[0]
    assert r9["n_samples"] == 4 and r9["zero_cross"] == 2
    # empty payload: zero samples, zero rms/peak/crossings, no crash
    assert rows[8]["n_samples"] == 0 and rows[8]["rms"] == 0
    assert rows[8]["peak"] == 0 and rows[8]["zero_cross"] == 0


def test_bmp_codec_roundtrip_known_values(spark):
    """REAL image codec: a known string encodes to a genuine 24-bit BMP
    whose struct/numpy decode returns hand-computable pixel statistics.
    Header fields are asserted byte-for-byte against the spec for the
    'AB' case (w=6, h=1, stride=20, file size 74)."""
    import struct

    from entity_extractor_spark.operators.multimodal import bmp_payloads, decode_bmp

    docs = spark.createDataFrame(
        [(1, "AB"), (2, ""), (3, "x" * 30)], "doc_id long, text string"
    )
    payloads = {r["asset_id"]: bytes(r["payload"]) for r in bmp_payloads(docs).collect()}
    p = payloads[1]  # b'AB': 2 bytes -> w = 4 + 2 % 13 = 6, h = 1
    magic, fsize, _, _, off = struct.unpack_from("<2sIHHI", p, 0)
    hsz, w, h, planes, bpp = struct.unpack_from("<IiiHH", p, 14)
    assert (magic, off, hsz, planes, bpp) == (b"BM", 54, 40, 1, 24)
    assert (w, h) == (6, 1)
    assert fsize == 54 + 20 and len(p) == fsize  # stride((6*3+3)//4*4) = 20
    # first pixel bottom row = 'A' (65) replicated across BGR
    assert p[54:60] == bytes([65, 65, 65, 66, 66, 66])

    rows = {r["asset_id"]: r for r in decode_bmp(bmp_payloads(docs)).collect()}
    r = rows[1]
    assert (r["width"], r["height"], r["bpp"], r["n_px"]) == (6, 1, 24, 6)
    assert r["px_sum"] == 3 * (65 + 66)
    assert r["px_max"] == 66
    assert r["n_zero_px"] == 4  # 6 pixels - 2 text bytes, no NULs
    # empty text: 4x1 all-black image
    r2 = rows[2]
    assert (r2["width"], r2["height"], r2["px_sum"], r2["n_zero_px"]) == (4, 1, 0, 4)
    # 30 bytes -> w = 4 + 30 % 13 = 8, h = ceil(30/8) = 4 (multi-row:
    # exercises the bottom-up scanline + row-padding parse path)
    r3 = rows[3]
    assert (r3["width"], r3["height"]) == (8, 4)
    assert r3["px_sum"] == 3 * 30 * ord("x")
    assert r3["n_zero_px"] == 8 * 4 - 30


def test_avi_codec_roundtrip_known_values(spark):
    """REAL video codec: a known string encodes to a genuine uncompressed
    RIFF/AVI whose RIFF-walk decode returns hand-computable per-video and
    per-frame statistics. Container structure is asserted byte-for-byte
    for the 'AB' case (w=6, h=5, one frame)."""
    from entity_extractor_spark.operators.multimodal import (
        avi_payloads,
        decode_avi,
        sample_avi_frames,
    )

    docs = spark.createDataFrame(
        [(1, "AB"), (2, ""), (3, "x" * 100)], "doc_id long, text string"
    )
    payloads = {r["asset_id"]: bytes(r["payload"]) for r in avi_payloads(docs).collect()}
    p = payloads[1]  # 'AB': w = 4 + 2%5 = 6, h = 3 + 2%7 = 5, nf = 1
    assert p[:4] == b"RIFF" and p[8:12] == b"AVI "
    assert b"avih" in p and b"strh" in p and b"strf" in p and b"00db" in p
    assert b"vids" in p and b"DIB " in p

    rows = {r["asset_id"]: r for r in decode_avi(avi_payloads(docs)).collect()}
    r = rows[1]
    assert (r["width"], r["height"], r["n_frames"], r["fps"]) == (6, 5, 1, 10)
    assert r["px_sum"] == 3 * (65 + 66) and r["px_max"] == 66 and r["motion"] == 0
    # empty text: one all-black 4x3 frame
    r2 = rows[2]
    assert (r2["width"], r2["height"], r2["n_frames"]) == (4, 3, 1)
    assert (r2["px_sum"], r2["px_max"], r2["motion"]) == (0, 0, 0)
    # 100 bytes of 'x': w=4, h=5, fpx=20 -> 5 full constant frames;
    # motion = 0 (identical frames), duration 5 frames at 10 fps = 500 ms
    r3 = rows[3]
    assert (r3["width"], r3["height"], r3["n_frames"]) == (4, 5, 5)
    assert r3["px_sum"] == 3 * 100 * ord("x") and r3["motion"] == 0
    assert r3["duration_ms"] == 500

    # frame sampling: every 2nd frame of the 5-frame video -> idx 0, 2, 4
    frames = sample_avi_frames(avi_payloads(docs), every_k=2).collect()
    by_asset = {}
    for fr in frames:
        by_asset.setdefault(fr["asset_id"], []).append(fr)
    assert [f["frame_idx"] for f in sorted(by_asset[3], key=lambda x: x["frame_idx"])] == [0, 2, 4]
    f0 = by_asset[3][0]
    assert f0["gray_sum"] == 20 * ord("x") and f0["gray_max"] == ord("x")
    assert len(by_asset[1]) == 1 and by_asset[1][0]["ts_ms"] == 0
    # motion is real: 35 bytes -> w=4, h=3, fpx=12, 3 frames
    # f0 = 12 x \x01, f1 = 12 x \x03, f2 = 11 x \x05 + 1 black pad px
    # motion = 3ch * (12*|3-1| + 11*|5-3| + 1*|0-3|) = 3 * 49
    docs2 = spark.createDataFrame(
        [(9, "\x01" * 12 + "\x03" * 12 + "\x05" * 11)], "doc_id long, text string"
    )
    r9 = decode_avi(avi_payloads(docs2)).collect()[0]
    assert r9["n_frames"] == 3 and r9["motion"] == 3 * 49


def test_multimodal_real_decode_is_stubbed(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(2)
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        decode_assets(attach_payloads(docs), fake=False).collect()


def test_deterministic_sampling_stability(spark):
    from entity_extractor_spark.operators.sampling import (
        assign_split,
        deterministic_sample,
        pack_sequences,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    s1 = {r["doc_id"] for r in deterministic_sample(docs, "doc_id", 0.2).collect()}
    # repartitioning must not change membership (df.sample would)
    s2 = {
        r["doc_id"]
        for r in deterministic_sample(docs.repartition(13), "doc_id", 0.2).collect()
    }
    assert s1 == s2 and 0.1 < len(s1) / docs.count() < 0.3
    # split partitions the corpus, fractions roughly honored
    splits = (
        docs.select("doc_id", assign_split(F.col("doc_id")).alias("s"))
        .groupBy("s").count().collect()
    )
    by = {r["s"]: r["count"] for r in splits}
    n = sum(by.values())
    assert set(by) == {"train", "val", "test"} and by["train"] / n > 0.7
    # packing: per-shard bins respect the running-count definition
    packed = pack_sequences(docs.limit(50), 512).collect()
    by_shard: dict[int, list] = {}
    for r in packed:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(by_shard) > 1  # default really shards (not one global stream)
    for shard, rows in by_shard.items():
        cum = 0
        for r in sorted(rows, key=lambda r: r["doc_id"]):
            assert r["bin"] == cum // 512, (shard, r)
            cum += r["n_tokens"]


def test_pack_sequences_plan_is_sharded(spark):
    """The default packing window must NOT be a single-partition sort —
    the round-1 scale-killer (VERDICT item 3)."""
    from entity_extractor_spark.operators.sampling import pack_sequences

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = pack_sequences(docs, 512)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    # opt-in global stream still collapses to one partition
    plan1 = pack_sequences(docs, 512, n_shards=1)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in plan1 or "hashpartitioning" in plan1


def test_multimodal_resize_and_frame_sample(spark):
    """Resize/frame-sample plumbing: schemas, determinism, fan-out shape,
    and the stubbed real-codec path."""
    from entity_extractor_spark.operators.multimodal import (
        attach_payloads,
        resize_assets,
        sample_frames,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    assets = attach_payloads(docs)

    resized = resize_assets(assets, target_w=32, target_h=32).collect()
    assert len(resized) == 20
    assert all(r["width"] == 32 and r["height"] == 32 for r in resized)
    out_len = 32 * 32 // 64
    assert all(len(r["payload"]) <= out_len for r in resized)
    # deterministic: same input -> same bytes
    again = {r["asset_id"]: bytes(r["payload"]) for r in resize_assets(assets, 32, 32).collect()}
    assert all(bytes(r["payload"]) == again[r["asset_id"]] for r in resized)

    frames = sample_frames(assets, max_frames=4).collect()
    by_asset: dict[int, list] = {}
    for r in frames:
        by_asset.setdefault(r["asset_id"], []).append(r)
    kinds = {r["asset_id"]: r["kind"] for r in assets.select("asset_id", "kind").collect()}
    for aid, rows in by_asset.items():
        assert [r["frame_idx"] for r in sorted(rows, key=lambda r: r["frame_idx"])] == list(range(len(rows)))
        if kinds[aid] == "image":
            assert len(rows) == 1  # non-temporal kinds emit one frame
        assert all(r["ts_ms"] == r["frame_idx"] * 1000 for r in rows)

    with pytest.raises(Exception, match="NotImplementedError|real resize"):
        resize_assets(assets, fake=False).collect()
    with pytest.raises(Exception, match="NotImplementedError|real frame"):
        sample_frames(assets, fake=False).collect()


def test_embedding_lsh_hot_bucket_guard_boundary(spark):
    """The max_bucket guard must (a) keep a bucket of exactly max_bucket
    (<= boundary), (b) drop a larger one, and (c) agree with the DuckDB
    oracle mirror at both boundaries (round-2 review: at contract scale
    the guard never trips, so this forces it)."""
    import duckdb
    import pandas as pd

    dim = 8
    # 10 identical vectors -> one bucket of size 10; 3 vectors of another
    # direction -> a second bucket (orthogonal-ish so cosine < threshold
    # across groups doesn't matter — they're in different buckets anyway)
    rows = [(i, [1.0] * dim) for i in range(10)] + [
        (100 + i, [1.0] + [-1.0] * (dim - 1)) for i in range(3)
    ]
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    e = spark.createDataFrame(pdf)

    def spark_pairs(max_bucket):
        return {
            (r["i"], r["j"])
            for r in S.embedding_near_dups(
                e, dim=dim, threshold=0.9, max_bucket=max_bucket
            ).collect()
        }

    def duck_pairs(max_bucket):
        con = duckdb.connect()
        con.register("embeddings", pdf)
        sql = f"""
            WITH b0 AS (
              SELECT vec_id, embedding,
                     {S.lsh_bucket_sql('embedding', dim)} AS bucket
              FROM embeddings
            ),
            b AS (
              SELECT vec_id, embedding, bucket FROM (
                SELECT *, count(*) OVER (PARTITION BY bucket) AS _n FROM b0
              ) WHERE _n <= {max_bucket}
            )
            SELECT a.vec_id AS i, c.vec_id AS j
            FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
            WHERE {S.cosine_sql('a.embedding', 'c.embedding')} >= 0.9
        """
        return {(r[0], r[1]) for r in con.execute(sql).fetchall()}

    kept = spark_pairs(10)  # bucket size == max_bucket: KEPT
    assert len(kept) == 45 + 3  # C(10,2) identical pairs + C(3,2)
    assert kept == duck_pairs(10)

    dropped = spark_pairs(9)  # the 10-bucket exceeds the guard: DROPPED
    assert len(dropped) == 3  # only the size-3 bucket survives
    assert dropped == duck_pairs(9)


# --------------------------------------------------------------------------- dup clusters


def test_dup_clusters_transitive_merge(spark):
    # J(1,2) = J(2,3) = 14/16 = 0.875 >= 0.8 but J(1,3) = 13/17 = 0.765
    # < 0.8: doc 3 reaches doc 1's cluster only through the transitive
    # edge via doc 2 — the exact case pair lists cannot resolve
    w = [f"word{i:02d}" for i in range(18)]
    rows = [
        (1, " ".join(w[:15])),
        (2, " ".join(w[:14] + [w[15]])),
        (3, " ".join(w[:13] + [w[15], w[16]])),
        (9, "totally disjoint vocabulary over here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["i"], r["j"])
        for r in D.minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    assert (1, 2) in pairs and (2, 3) in pairs and (1, 3) not in pairs
    got = {r["doc_id"]: r for r in D.dup_clusters(docs, threshold=0.8).collect()}
    assert got[1]["cluster_id"] == got[2]["cluster_id"] == got[3]["cluster_id"] == 1
    assert got[9]["cluster_id"] == 9  # singleton keeps itself
    keeps = {d for d, r in got.items() if r["keep"]}
    assert keeps == {1, 9}  # one representative per cluster (min id)


def test_dup_clusters_filter_keep_is_dedup(spark):
    rows = [(i, "identical text body repeated verbatim") for i in range(6)] + [
        (10, "another distinct document entirely different words")
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.dup_clusters(docs, threshold=0.8)
    kept = [r["doc_id"] for r in out.filter(F.col("keep")).collect()]
    assert sorted(kept) == [0, 10]


# --------------------------------------------------------------------------- repetition signals


def test_repetition_signals_distinct_vs_degenerate(spark):
    docs = spark.createDataFrame(
        [
            (1, "one two three four five six"),
            (2, "spam spam spam spam spam spam"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in X.repetition_signals(docs).collect()}
    assert got[1]["distinct_ratio"] == 1.0
    assert got[1]["top_bigram_frac"] == 0.2  # 5 distinct bigrams, max count 1
    assert got[1]["dup_trigram_frac"] == 0.0
    assert got[2]["distinct_ratio"] == pytest.approx(1 / 6, abs=1e-6)
    assert got[2]["top_bigram_frac"] == 1.0
    assert got[2]["dup_trigram_frac"] == 1.0


def test_repetition_signals_short_doc_zero_fracs(spark):
    # fewer tokens than the n-gram orders: fractions default 0, no crash
    docs = spark.createDataFrame(
        [(1, "solo"), (2, "")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in X.repetition_signals(docs).collect()}
    assert got[1]["n_tokens"] == 1 and got[1]["top_bigram_frac"] == 0.0
    assert got[2]["n_tokens"] == 0 and got[2]["dup_trigram_frac"] == 0.0


def test_pii_scrub_redacts_and_counts(spark):
    from entity_extractor_spark.operators.pii import scrub_pii

    docs = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-1.co.uk then 10.0.255.7 call 555-123-4567"),
            (2, "no pii here, just 1.2 floats and version 3.4.5"),
            (3, "x@y.z is not an email (one-letter TLD); 999.999.999.999 is ip-shaped"),
            (4, "two mails a@b.io c@d.org and 555-000-1111 555-222-3333"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    assert got[1]["n_email"] == 1 and got[1]["n_ip"] == 1 and got[1]["n_phone"] == 1
    assert got[1]["clean_text"] == "mail [EMAIL] then [IP] call [PHONE]"
    # zero-match docs pass through byte-identical
    assert got[2]["clean_text"] == docs.collect()[1]["text"]
    assert (got[2]["n_email"], got[2]["n_ip"], got[2]["n_phone"]) == (0, 0, 0)
    # loose-pattern edges: 1-letter TLD not an email; dotted quad IS redacted
    # (patterns favor recall — over-redaction is the safe failure mode)
    assert got[3]["n_email"] == 0 and got[3]["n_ip"] == 1
    assert "x@y.z" in got[3]["clean_text"] and "[IP]" in got[3]["clean_text"]
    assert got[4]["n_email"] == 2 and got[4]["n_phone"] == 2
    assert got[4]["clean_text"] == "two mails [EMAIL] [EMAIL] and [PHONE] [PHONE]"


def test_pii_scrub_is_shuffle_free(spark):
    from entity_extractor_spark import plans as P
    from entity_extractor_spark.operators.pii import scrub_pii

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    plan = P.formatted_plan(scrub_pii(docs))
    assert P.count_exchanges(plan) == 0, plan
    assert "BatchEvalPython" not in plan and "Python" not in plan, plan


def test_prefix_jaccard_lossless_and_fewer_candidates(spark):
    """The prefix filter must find exactly the naive all-pairs result,
    while generating strictly fewer candidate rows than the
    every-shared-shingle join on a corpus with common boilerplate."""
    from pyspark.sql import functions as F

    from entity_extractor_spark.functions import text as T
    from entity_extractor_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_jaccard_pairs,
    )

    common = "the shared boilerplate header appears in every document here"
    rows = [(i, f"{common} unique tail {i} alpha beta gamma delta") for i in range(20)]
    rows += [(100, "a planted duplicate pair of this exact sentence body"),
             (101, "a planted duplicate pair of this exact sentence body x")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r["i"], r["j"]): r["jaccard"]
        for r in prefix_jaccard_pairs(docs, t_num=4, t_den=5).collect()
    }
    # naive ground truth computed in-Spark at the same threshold
    naive = {
        (r["i"], r["j"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
        if r["jaccard"] >= 0.8
    }
    assert got == naive
    assert (100, 101) in got

    # candidate volume: prefix postings touch only the rarest ~20% of
    # each doc's shingles, so the candidate join must be smaller than
    # the all-shared-shingle join's pair fan-out
    sh = docs.select(
        F.col("doc_id").alias("i"),
        F.explode(F.array_distinct(T.word_shingles(T.tokenize(F.col("text")), 3))).alias("sh"),
    )
    full_fanout = (
        sh.join(sh.select(F.col("i").alias("j"), "sh"), "sh")
        .filter(F.col("i") < F.col("j"))
        .count()
    )
    # reproduce the operator's internal prefix to measure its fan-out
    from pyspark.sql import Window

    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    sizes = sh.groupBy("i").agg(F.count(F.lit(1)).alias("sz"))
    w = Window.partitionBy("i").orderBy("_df", "sh")
    ranked = sh.join(dfreq, "sh").withColumn("r", F.row_number().over(w)).join(sizes, "i")
    need = F.floor((F.lit(4) * F.col("sz") + F.lit(4)) / F.lit(5)).cast("long")
    prefix = ranked.filter(F.col("r") <= F.col("sz") - need + 1).select("i", "sh")
    prefix_fanout = (
        prefix.join(prefix.select(F.col("i").alias("j"), "sh"), "sh")
        .filter(F.col("i") < F.col("j"))
        .count()
    )
    assert prefix_fanout < full_fanout / 4


def test_prefix_jaccard_df_cap_boundary(spark):
    """max_prefix_df guard: candidates through hot shingles are skipped
    — the capped Spark result must equal the capped SQL mirror exactly
    (both sides make the SAME documented recall cut), the cap must
    actually bind on this corpus (a boilerplate-only pair disappears),
    and unaffected pairs must survive."""
    import duckdb

    from entity_extractor_spark.operators.dedup import (
        prefix_jaccard_pairs,
        prefix_jaccard_pairs_sql,
    )

    # 6 docs that are near-identical pure boilerplate (every shingle has
    # df >= 6) + one genuinely unique near-dup pair (rare shingles).
    boiler = "shared license header text repeated across the corpus body"
    rows = [(i, f"{boiler} tail{i}") for i in range(6)]
    rows += [(100, "zq unique sentence about wombats eating roots at dawn"),
             (101, "zq unique sentence about wombats eating roots at dusk")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    lossless = {
        (r["i"], r["j"]) for r in prefix_jaccard_pairs(docs, t_num=1, t_den=2).collect()
    }
    capped = {
        (r["i"], r["j"])
        for r in prefix_jaccard_pairs(docs, t_num=1, t_den=2, max_prefix_df=3).collect()
    }
    # the guard binds: boilerplate clone pairs exist losslessly but are
    # cut when their only shared prefix shingles exceed the cap
    assert any(i < 100 and j < 100 for i, j in lossless)
    assert not any(i < 100 and j < 100 for i, j in capped)
    # the rare-shingle pair is unaffected
    assert (100, 101) in capped

    # both engines make the identical cut
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") AS v(doc_id, text)"
    )
    ora = {
        (r[0], r[1], r[2])
        for r in con.execute(
            prefix_jaccard_pairs_sql("documents", t_num=1, t_den=2, max_prefix_df=3)
        ).fetchall()
    }
    got = {
        (r["i"], r["j"], r["jaccard"])
        for r in prefix_jaccard_pairs(
            docs, t_num=1, t_den=2, max_prefix_df=3
        ).collect()
    }
    assert got == ora and got
