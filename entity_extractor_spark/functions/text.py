"""Text scalar functions (SURVEY.md §2.8 F1-F17) as pure Catalyst columns.

Each mirrors a reference behavior (file:line cited per function); none
uses Python UDFs, so they all stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_RE = r"[\w\-]+"  # F1 — `batch_filter.py:48` (\b anchors are implicit for extract-all)


def tokenize(text: Column, lowered: bool = True) -> Column:
    """F1: `re.findall(r"\\b[\\w\\-]+\\b", text)` (`batch_filter.py:48`)."""
    src = F.lower(text) if lowered else text
    return F.regexp_extract_all(src, F.lit(TOKEN_RE), 0)


def tokenize_sql(expr: str, lowered: bool = True) -> str:
    src = f"lower({expr})" if lowered else expr
    return f"regexp_extract_all({src}, '[\\w\\-]+')"


def normalize_text(text: Column) -> Column:
    """F6: `re.sub(r'\\s+',' ', text.lower().strip())` (`core_pipeline/utils.py:60-63`)."""
    return F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))


def normalize_text_sql(expr: str) -> str:
    # DuckDB regexp_replace needs the explicit 'g' flag (Spark is global by default)
    return f"lower(regexp_replace(trim({expr}), '\\s+', ' ', 'g'))"


def canonical_name(title: Column) -> Column:
    """F3: canonical surface = text before the first colon, stripped
    (`extraction_engine.py:51`, `load_inputs.py:63`)."""
    return F.when(
        title.contains(":"), F.trim(F.split(title, ":").getItem(0))
    ).otherwise(F.trim(title))


def canonical_name_sql(expr: str) -> str:
    return (
        f"CASE WHEN contains({expr}, ':') THEN trim(str_split({expr}, ':')[1]) "
        f"ELSE trim({expr}) END"
    )


def char_window(text: Column, start: Column, end: Column, w: int = 50) -> Column:
    """F5: `text[max(0,start-w) : end+w]` (`core_pipeline/utils.py:53-57`).
    1-based substring; length clamps implicitly at string end."""
    lo = F.greatest(F.lit(1), start - F.lit(w) + 1)
    return F.substring(text, lo.cast("int"), (end + F.lit(w) - lo + 1).cast("int"))


def word_shingles(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles, space-joined; empty array when < n tokens.

    Built as a zip_with reduction over the n shifted slices of the token
    array, NOT as ``transform(sequence(...), i -> slice(tokens, i, n))``:
    an expression referenced inside a higher-order-function lambda BODY is
    re-evaluated once per array element, so when callers pass ``tokens``
    as an unmaterialized expression (always ``tokenize(col)`` here — a
    regexp_extract_all), the old form re-ran the regex once per shingle
    position. zip_with's array arguments are evaluated once per ROW; the
    lambda only touches its own arguments. Measured at sf0.1 local[32]:
    shingle build 5.4 s -> 3.1 s, repetition_signals 13.9 s -> 6.0 s warm
    (the remainder is the single-row-group scan of the small test file).
    """
    m = F.size(tokens) - F.lit(n - 1)
    # slice length m >= 1 is guaranteed by the when-guard (CaseWhen only
    # evaluates the branch it takes)
    joined = F.slice(tokens, 1, m)
    for k in range(1, n):
        joined = F.zip_with(
            joined, F.slice(tokens, k + 1, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(F.size(tokens) >= n, joined).otherwise(F.array().cast("array<string>"))


def word_shingles_sql(tokens_expr: str, n: int = 3) -> str:
    parts = " || ' ' || ".join(f"({tokens_expr})[i + {k}]" for k in range(n))
    return f"list_transform(range(1, len({tokens_expr}) - {n - 2}), i -> {parts})"


def sliding_chunks(tokens: Column, size: int, overlap: int) -> Column:
    """F10: fixed-size word chunks with overlap (`app.py:175-187`,
    `oeg_ner.py:13-22`): starts at 0, step = size - overlap.

    Structurally safe against the lambda-body re-evaluation trap (see
    :func:`word_shingles`): the whole computation is wrapped in a
    transform over a ONE-element array holding ``tokens``, so the token
    expression is a higher-order-function ARGUMENT (evaluated once per
    row) and the inner slicing only ever references the outer lambda's
    variable — callers may pass a raw ``tokenize(col)`` expression
    without paying one regex evaluation per chunk."""
    step = size - overlap

    def chunks_of(t: Column) -> Column:
        starts = F.sequence(
            F.lit(1), F.greatest(F.lit(1), F.size(t) - F.lit(overlap)), F.lit(step)
        )
        return F.transform(starts, lambda s: F.concat_ws(" ", F.slice(t, s, size)))

    return F.get(F.transform(F.array(tokens), chunks_of), F.lit(0))


def truncate_ellipsis(text: Column, n: int = 100) -> Column:
    """F14: preview truncation (`result_tables.py:111-113`)."""
    return F.when(
        F.length(text) > n, F.concat(F.substring(text, 1, n), F.lit("..."))
    ).otherwise(text)


def truncate_ellipsis_sql(expr: str, n: int = 100) -> str:
    return (
        f"CASE WHEN length({expr}) > {n} THEN substring({expr}, 1, {n}) || '...' "
        f"ELSE {expr} END"
    )


def extract_url_key(url: Column) -> Column:
    """F7: `abs/([^/?#]+)` key extraction (`preprocessing.py:23-30`)."""
    return F.regexp_extract(url, r"abs/([^/?#]+)", 1)


def highlight(text: Column, term: str) -> Column:
    """F15: wrap case-insensitive matches in ** ** (`core_pipeline/utils.py:66-70`)."""
    import re

    return F.regexp_replace(text, f"(?i)({re.escape(term)})", r"**$1**")
