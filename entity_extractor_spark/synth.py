"""Deterministic synthetic transcript + gazetteer generator (seed-fixed).

Implements FIXTURES.md §1-2: a `transcripts(conv_id, turn_idx, role, text,
tool, ts)` corpus with planted gazetteer surface forms (exact case,
case-variant, hyphenated, phrase, colon-prefixed) plus decoy pseudo-words,
and a `gazetteer(term_id, title, description, aliases, source,
positive_convs, negative_convs)` registry. Skew knobs per SURVEY R6: one
hot entity planted in ~30% of turns and one hot conversation with ~100x
the median turn count.

Everything derives from a numpy Generator seeded explicitly; the same
(seed, sizes) always yields byte-identical tables so P/R comparisons and
bench runs are stable.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)

# Filler vocabulary: plain prose words that can never collide with gazetteer
# names (names always carry a 'q'/'x'/'z' syllable, fillers never do).
_FILLER = (
    "the of and to in a is that for on with as are be this from at by an "
    "it we our they can will has have was were into over under about after "
    "before between during each few more most other some such only own same "
    "then than too very just also may might must shall should could would "
    "data result method model value table figure section analysis run step "
    "turn agent user reply answer prompt message detail note plan goal item "
    "work case time part form kind side fact point group number order level"
).split()

_NAME_HEADS = ["zor", "qua", "xen", "vex", "zyl", "qig", "xar", "zeb", "qua", "xil", "zon", "qel"]
_NAME_TAILS = ["plex", "tron", "quant", "zor", "flux", "xis", "mancer", "queue", "zilla", "xform"]
_TOOLS = ["search", "browser", "python", "calculator", "file_io", "sql", "shell", "editor"]
_ROLES = np.array(["user", "assistant", "system", "tool"])
_ROLE_P = np.array([0.40, 0.40, 0.05, 0.15])

_KEYWORD_PHRASES = [
    "software", "tool", "package", "library", "framework", "code",
    "algorithm", "model", "program", "application",
]


def _make_name(rng: np.random.Generator, style: int) -> str:
    head = _NAME_HEADS[rng.integers(len(_NAME_HEADS))]
    tail = _NAME_TAILS[rng.integers(len(_NAME_TAILS))]
    base = (head + tail).capitalize()
    if style == 0:  # single word
        return base
    if style == 1:  # hyphenated
        return f"{base}-{rng.integers(2, 99)}"
    # phrase (two words)
    head2 = _NAME_HEADS[rng.integers(len(_NAME_HEADS))]
    return f"{base} {(head2 + _NAME_TAILS[rng.integers(len(_NAME_TAILS))]).capitalize()}"


@dataclass
class SynthConfig:
    seed: int = 42
    n_terms: int = 64
    n_convs: int = 200
    mean_turns: int = 8
    plant_rate: float = 0.45  # fraction of turns that carry >=1 planted mention
    hot_entity_rate: float = 0.30  # fraction of turns that mention the hot entity
    hot_conv_factor: int = 100  # hot conversation turn multiplier


def make_gazetteer(cfg: SynthConfig) -> pd.DataFrame:
    rng = np.random.default_rng(cfg.seed)
    rows = []
    used: set[str] = set()
    i = 0
    while len(rows) < cfg.n_terms:
        style = i % 3
        name = _make_name(rng, style)
        i += 1
        if name.lower() in used:
            continue
        used.add(name.lower())
        term_id = f"term-{len(rows):04d}"
        kws = rng.choice(_KEYWORD_PHRASES, size=2, replace=False)
        desc_words = rng.choice(_FILLER, size=14)
        description = f"{name} is a {kws[0]} {kws[1]} " + " ".join(desc_words)
        # colon-prefixed title per reference convention (canonical = pre-colon)
        title = f"{name}: {description}"
        aliases = [name.upper(), name.lower()]
        if "-" in name:
            aliases.append(name.replace("-", " "))
        rows.append(
            {
                "term_id": term_id,
                "title": title,
                "description": description,
                "aliases": aliases,
                "source": "ASCL" if len(rows) % 2 == 0 else "OntoSoft",
                "positive_convs": [f"conv-{int(c):06d}" for c in rng.integers(0, cfg.n_convs, 3)],
                "negative_convs": [f"conv-{int(c):06d}" for c in rng.integers(0, cfg.n_convs, 2)],
            }
        )
    return pd.DataFrame(rows)


def _decoys(rng: np.random.Generator, gaz_names: set[str], n: int = 40) -> list[str]:
    out = []
    while len(out) < n:
        d = _make_name(rng, int(rng.integers(0, 3)))
        if d.lower() not in gaz_names:
            out.append(d)
    return out


def make_transcripts(cfg: SynthConfig, gazetteer: pd.DataFrame | None = None) -> pd.DataFrame:
    """Generate the transcripts table as pandas (caller converts to Spark)."""
    gaz = gazetteer if gazetteer is not None else make_gazetteer(cfg)
    rng = np.random.default_rng(cfg.seed + 1)
    names = [t.split(":")[0].strip() for t in gaz["title"]]
    gaz_lowered = {n.lower() for n in names}
    decoys = _decoys(rng, gaz_lowered)
    hot_name = names[0]

    conv_turn_counts = rng.geometric(1.0 / cfg.mean_turns, size=cfg.n_convs).clip(2, 60)
    conv_turn_counts[cfg.n_convs // 2] = int(np.median(conv_turn_counts)) * cfg.hot_conv_factor

    recs: list[tuple] = []
    for ci in range(cfg.n_convs):
        recs.extend(
            _gen_conv_records(rng, cfg, names, decoys, hot_name, ci, int(conv_turn_counts[ci]))
        )
    return _records_frame(recs)


def _gen_conv_records(
    rng: np.random.Generator,
    cfg: SynthConfig,
    names: list[str],
    decoys: list[str],
    hot_name: str,
    ci: int,
    n_turns: int,
) -> list[tuple]:
    """One conversation's rows — shared by the driver-side and the
    distributed generator (identical planting logic)."""
    recs: list[tuple] = []
    base_ts = np.datetime64("2026-01-01T00:00:00")
    conv_id = f"conv-{ci:06d}"
    roles = rng.choice(_ROLES, size=n_turns, p=_ROLE_P)
    roles[0] = "user"
    for ti in range(n_turns):
        n_words = int(rng.integers(8, 60))
        words = list(rng.choice(_FILLER, size=n_words))
        if rng.random() < cfg.plant_rate:
            k = int(rng.integers(1, 4))
            for _ in range(k):
                name = names[int(rng.integers(len(names)))]
                variant = int(rng.integers(0, 4))
                if variant == 1:
                    name = name.upper()
                elif variant == 2:
                    name = name.lower()
                elif variant == 3 and " " not in name:
                    name = name + ","  # punctuation-adjacent occurrence
                words.insert(int(rng.integers(0, len(words) + 1)), name)
        if rng.random() < cfg.hot_entity_rate:
            words.insert(int(rng.integers(0, len(words) + 1)), hot_name)
        if rng.random() < 0.25:
            words.insert(int(rng.integers(0, len(words) + 1)), decoys[int(rng.integers(len(decoys)))])
        # occasional double space / newline to exercise the reference's
        # char->word drift quirk
        text = " ".join(words)
        if rng.random() < 0.15:
            cut = int(rng.integers(1, max(2, len(text))))
            text = text[:cut] + "\n " + text[cut:]
        role = str(roles[ti])
        tool = _TOOLS[int(rng.integers(len(_TOOLS)))] if role == "tool" else None
        ts = base_ts + np.timedelta64(ci * 3600 + ti * 30, "s")
        recs.append((conv_id, np.int32(ti), role, text, tool, ts))
    return recs


def _records_frame(recs: list[tuple]) -> pd.DataFrame:
    df = pd.DataFrame.from_records(
        recs, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def make_transcripts_distributed(spark, cfg: SynthConfig, parallelism: int | None = None):
    """Executor-side corpus generation for multi-million-turn benches.

    Each conversation derives its own ``default_rng((seed, ci))``, so the
    corpus is byte-identical for a given cfg REGARDLESS of partitioning
    or cluster size — the property driver-side generation can't scale to
    (one pandas frame) and naive per-partition seeding can't guarantee.
    NOTE: per-conv streams differ from make_transcripts' single-stream
    corpus; the two generators produce statistically identical but not
    byte-identical data.
    """
    from collections.abc import Iterator

    gaz = make_gazetteer(cfg)
    rng0 = np.random.default_rng(cfg.seed + 1)
    names = [t.split(":")[0].strip() for t in gaz["title"]]
    decoys = _decoys(rng0, {n.lower() for n in names})
    hot_name = names[0]
    bc = spark.sparkContext.broadcast((cfg, names, decoys, hot_name))
    par = parallelism or spark.sparkContext.defaultParallelism * 4

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cfg_, names_, decoys_, hot_ = bc.value
        for pdf in batches:
            recs: list[tuple] = []
            for ci in pdf["id"].tolist():
                rng = np.random.default_rng((cfg_.seed, ci))
                n_turns = int(np.clip(rng.geometric(1.0 / cfg_.mean_turns), 2, 60))
                if ci == cfg_.n_convs // 2:
                    n_turns = cfg_.mean_turns * cfg_.hot_conv_factor
                recs.extend(
                    _gen_conv_records(rng, cfg_, names_, decoys_, hot_, int(ci), n_turns)
                )
            yield _records_frame(recs)

    return spark.range(0, cfg.n_convs, 1, par).mapInPandas(gen, TRANSCRIPT_SCHEMA)


def to_spark(spark, pdf: pd.DataFrame, gaz: bool = False):
    from pyspark.sql import types as T

    if gaz:
        schema = T.StructType(
            [
                T.StructField("term_id", T.StringType(), False),
                T.StructField("title", T.StringType(), False),
                T.StructField("description", T.StringType(), True),
                T.StructField("aliases", T.ArrayType(T.StringType()), True),
                T.StructField("source", T.StringType(), True),
                T.StructField("positive_convs", T.ArrayType(T.StringType()), True),
                T.StructField("negative_convs", T.ArrayType(T.StringType()), True),
            ]
        )
    else:
        schema = TRANSCRIPT_SCHEMA
    return spark.createDataFrame(pdf, schema=schema)
