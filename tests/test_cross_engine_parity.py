"""Property parity: the shared Spark/DuckDB expression twins must agree
byte-for-byte on adversarial random inputs, not just the driver corpus.

These guard the whole oracle strategy: if Java-regex vs RE2 semantics,
lower() unicode behavior, or hash arithmetic ever diverge, the contract's
value-hash comparisons would fail mysteriously at a later scale — this
pins the divergence to the exact primitive.
"""

from __future__ import annotations

import random
import string

import duckdb
import pandas as pd
import pytest

from entity_extractor_spark.functions import hashing as H
from entity_extractor_spark.functions import text as T
from entity_extractor_spark.operators import textstats as X

ALPHABET = (
    string.ascii_letters + string.digits + "   --__..,,!?:;()[]'\"\n\t" + "éüñßαπ漢字"
)


def _random_texts(n: int = 250, seed: int = 1234) -> list[str]:
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        ln = rng.randint(0, 120)
        out.append("".join(rng.choice(ALPHABET) for _ in range(ln)))
    # adversarial fixed cases
    out += [
        "", " ", "--", "a-b-c", "-lead trail-", "tab\tsep", "nl\nsep",
        "UPPER lower MiXeD", "é ü ñ", "word's", "a  double  space", "漢字 text",
        "the the the", ":" * 5, "a:b:c", "  padded  ",
    ]
    return out


@pytest.fixture(scope="module")
def texts():
    return _random_texts()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


def _spark_eval(spark, texts, col_builder, out_type_cast=None):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pd.DataFrame({"i": range(len(texts)), "t": texts}))
    c = col_builder(F.col("t"))
    if out_type_cast:
        c = c.cast(out_type_cast)
    rows = df.select("i", c.alias("v")).orderBy("i").collect()
    return [r["v"] for r in rows]


def _duck_eval(duck, texts, sql_expr):
    duck.register("texts_df", pd.DataFrame({"i": range(len(texts)), "t": texts}))
    rows = duck.execute(
        f"SELECT {sql_expr.replace('__T__', 't')} AS v FROM texts_df ORDER BY i"
    ).fetchall()
    duck.unregister("texts_df")
    return [r[0] for r in rows]


def _compare(spark_vals, duck_vals, texts, label):
    bad = [
        (t, s, d)
        for t, s, d in zip(texts, spark_vals, duck_vals)
        if (s != d and not (s is None and d is None))
    ]
    assert not bad, f"{label}: {len(bad)} divergences, first 3: {bad[:3]}"


def test_tokenize_parity(spark, duck, texts):
    from pyspark.sql import functions as F

    sv = _spark_eval(spark, texts, lambda t: F.array_join(T.tokenize(t), "\x1f"))
    # coalesce: DuckDB array_to_string([]) is NULL where Spark array_join is ''
    dv = _duck_eval(duck, texts, f"coalesce(array_to_string({T.tokenize_sql('__T__')}, chr(31)), '')")
    _compare(sv, dv, texts, "tokenize")


def test_normalize_parity(spark, duck, texts):
    sv = _spark_eval(spark, texts, T.normalize_text)
    dv = _duck_eval(duck, texts, T.normalize_text_sql("__T__"))
    _compare(sv, dv, texts, "normalize")


def test_token_hash_parity(spark, duck, texts):
    sv = _spark_eval(spark, texts, H.token_hash)
    dv = _duck_eval(duck, texts, H.token_hash_sql("__T__"))
    _compare(sv, dv, texts, "token_hash")


def test_quality_score_parity(spark, duck, texts):
    nonempty = [t for t in texts if t.strip()]
    sv = _spark_eval(spark, nonempty, X.quality_score)
    dv = _duck_eval(duck, nonempty, X.quality_score_sql("__T__"))
    _compare(sv, dv, nonempty, "quality_score")


def test_language_id_parity(spark, duck, texts):
    sv = _spark_eval(spark, texts, X.language_id)
    dv = _duck_eval(duck, texts, X.language_id_sql("__T__"))
    _compare(sv, dv, texts, "language_id")


def test_canonical_name_parity(spark, duck, texts):
    sv = _spark_eval(spark, texts, T.canonical_name)
    dv = _duck_eval(duck, texts, T.canonical_name_sql("__T__"))
    _compare(sv, dv, texts, "canonical_name")


def test_truncate_parity(spark, duck, texts):
    sv = _spark_eval(spark, texts, lambda t: T.truncate_ellipsis(t, 20))
    dv = _duck_eval(duck, texts, T.truncate_ellipsis_sql("__T__", 20))
    _compare(sv, dv, texts, "truncate")
    # highlight (F15) is display-only with no SQL twin: a known answer
    # pins the ** wrapping, case-insensitive matching, and escaping of a
    # regex-special term (unescaped, "c++" would match every lone "c")
    hl = _spark_eval(spark, ["C++ and c++ but not c"], lambda t: T.highlight(t, "c++"))
    assert hl == ["**C++** and **c++** but not c"], hl


def test_charngram_cosine_parity(spark, duck, texts):
    """The scored_candidates oracle primitive: the numpy hashed byte-
    3-gram cosine kernel vs its hex-trick SQL mirror must agree EXACTLY
    (==, not approx) on adversarial random pairs incl. multi-byte
    utf-8, empty, and sub-3-byte strings."""
    from pyspark.sql import functions as F

    from entity_extractor_spark.operators.scoring import (
        charngram_cosine,
        charngram_cosine_sql,
    )

    pairs = pd.DataFrame(
        {"i": range(len(texts)), "a": texts, "b": list(reversed(texts))}
    )
    sdf = spark.createDataFrame(pairs)
    sv = [
        r["c"]
        for r in sdf.select("i", charngram_cosine(F.col("a"), F.col("b")).alias("c"))
        .orderBy("i")
        .collect()
    ]
    duck.register("cc_pairs", pairs)
    dv = [
        r[1]
        for r in duck.execute(
            "SELECT i, cos FROM "
            + charngram_cosine_sql("SELECT i, a, b FROM cc_pairs", ["i"], "a", "b")
            + " ORDER BY i"
        ).fetchall()
    ]
    bad = [
        (t_a, t_b, s, d)
        for t_a, t_b, s, d in zip(pairs["a"], pairs["b"], sv, dv)
        if s != d
    ]
    assert not bad, f"{len(bad)} divergences, first 3: {bad[:3]}"
