"""Seeded input generator for the KG-job benchmark.

Writes one workload's transcript corpus as parquet plus its gazetteer as
JSON, once per (corpus, seed, version of this file), into a cache
directory inside the checkout. It deliberately does not import the
package's own synthetic generator, so editing the package cannot change
a workload.

Corpora:

* ``bulk``: mention-dense. About 45% of turns carry 1-3 planted gazetteer
  names, about 30% carry the hot entity, and one hot conversation has
  ~40x the median turn count.
* ``sparse``: mention-sparse, long and tool-heavy conversations with
  about 20x fewer mentions per turn than ``bulk``.

The gazetteer has 256 terms with descriptions and aliases, so every stage
of the pipeline runs. Names always carry a q/x/z syllable and filler
words never do, so names and prose cannot collide.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_TERMS = 256
WORDS_PER_TURN = (8, 60)  # filler words per turn, [lo, hi)

FILLER = (
    "the of and to in a is that for on with as are be this from at by an "
    "it we our they can will has have was were into over under about after "
    "before between during each few more most other some such only own same "
    "then than too very just also may might must shall should could would "
    "data result method model value table figure section analysis run step "
    "turn agent user reply answer prompt message detail note plan goal item "
    "work case time part form kind side fact point group number order level "
    "software tool package library framework code algorithm program system"
).split()

_SYL_A = ["zor", "qua", "xen", "vex", "zyl", "qig", "xar", "zeb", "qel", "xil", "zon", "qim"]
_SYL_B = ["pla", "tro", "ni", "ma", "lo", "ru", "de", "ka", "fi", "so"]
_SYL_C = ["plex", "tron", "quant", "flux", "xis", "mancer", "queue", "zilla", "xform", "zoid"]
_KEYWORDS = ["software", "tool", "package", "library", "framework", "code", "algorithm", "model"]
_TOOLS = ["search", "browser", "python", "calculator", "file_io", "sql", "shell", "editor"]
_ROLES = np.array(["user", "assistant", "system", "tool"])


@dataclass(frozen=True)
class CorpusSpec:
    n_convs: int
    n_turns: int  # exact corpus size, the same for every seed
    mean_turns: int
    max_turns: int
    hot_conv_factor: int  # hot conversation = median turns x this
    plant_rate: float  # share of turns with 1-3 planted names
    hot_entity_rate: float  # share of turns naming the hot entity
    role_p: tuple[float, float, float, float]  # user, assistant, system, tool


CORPORA = {
    "bulk": CorpusSpec(
        n_convs=1500, n_turns=13000, mean_turns=8, max_turns=60, hot_conv_factor=40,
        plant_rate=0.45, hot_entity_rate=0.30,
        role_p=(0.40, 0.40, 0.05, 0.15),
    ),
    "sparse": CorpusSpec(
        n_convs=300, n_turns=12000, mean_turns=40, max_turns=160, hot_conv_factor=8,
        plant_rate=0.025, hot_entity_rate=0.01,
        role_p=(0.20, 0.40, 0.02, 0.38),
    ),
}


def _base(rng: np.random.Generator) -> str:
    return (
        _SYL_A[rng.integers(len(_SYL_A))]
        + _SYL_B[rng.integers(len(_SYL_B))]
        + _SYL_C[rng.integers(len(_SYL_C))]
    ).capitalize()


def _name(rng: np.random.Generator, style: int, base: str) -> str:
    if style == 0:
        return base
    if style == 1:
        return f"{base}-{rng.integers(2, 99)}"
    second = (_SYL_A[rng.integers(len(_SYL_A))] + _SYL_C[rng.integers(len(_SYL_C))]).capitalize()
    return f"{base} {second}"


def make_gazetteer(seed: int) -> list[dict]:
    """256 terms: single-word, hyphenated and two-word names, each with a
    colon-prefixed title, a description and case/hyphen aliases. No two
    terms share a first word, so no name matches inside another."""
    rng = np.random.default_rng([seed, 0])
    rows: list[dict] = []
    used: set[str] = set()
    while len(rows) < N_TERMS:
        base = _base(rng)
        if base in used:
            continue
        used.add(base)
        name = _name(rng, len(rows) % 3, base)
        kws = rng.choice(_KEYWORDS, size=2, replace=False)
        description = f"{name} is a {kws[0]} {kws[1]} " + " ".join(rng.choice(FILLER, size=14))
        aliases = [name.upper(), name.lower()]
        if "-" in name:
            aliases.append(name.replace("-", " "))
        rows.append(
            {
                "term_id": f"term-{len(rows):04d}",
                "title": f"{name}: {description}",
                "description": description,
                "aliases": aliases,
            }
        )
    return rows


def _variant(rng: np.random.Generator, name: str) -> str:
    v = int(rng.integers(4))
    if v == 1:
        return name.upper()
    if v == 2:
        return name.lower()
    if v == 3 and " " not in name:
        return name + ","
    return name


def make_corpus(spec: CorpusSpec, gazetteer: list[dict], seed: int) -> tuple[pa.Table, str]:
    """The transcripts table and the id of its hot conversation."""
    rng = np.random.default_rng([seed, 1])
    names = [g["title"].split(":")[0] for g in gazetteer]
    # name-like decoys: every word ends in "o", which no gazetteer word
    # does, so a decoy never matches
    decoys = [
        re.sub(r"([A-Za-z]+)", r"\1o", _name(rng, int(rng.integers(3)), _base(rng)))
        for _ in range(40)
    ]
    hot_name = names[int(rng.integers(len(names)))]

    turns = rng.geometric(1.0 / spec.mean_turns, size=spec.n_convs).clip(2, spec.max_turns)
    hot_conv = int(rng.integers(spec.n_convs))
    turns[hot_conv] = int(np.median(turns)) * spec.hot_conv_factor
    others = np.delete(np.arange(spec.n_convs), hot_conv)
    while (diff := spec.n_turns - int(turns.sum())) != 0:
        pick = rng.choice(others, size=min(abs(diff), len(others)), replace=False)
        turns[pick] = np.clip(turns[pick] + np.sign(diff), 2, spec.max_turns)
    total = spec.n_turns

    conv_ids: list[str] = []
    turn_idx = np.concatenate([np.arange(n, dtype=np.int32) for n in turns])
    for ci, n in enumerate(turns):
        conv_ids.extend([f"conv-{ci:06d}"] * int(n))
    roles = rng.choice(_ROLES, size=total, p=list(spec.role_p))
    roles[turn_idx == 0] = "user"
    n_words = rng.integers(WORDS_PER_TURN[0], WORDS_PER_TURN[1], size=total)
    plant = rng.random(total) < spec.plant_rate
    hot = rng.random(total) < spec.hot_entity_rate
    decoy = rng.random(total) < 0.25
    breaks = rng.random(total) < 0.15
    filler = rng.choice(FILLER, size=int(n_words.sum()))

    texts: list[str] = []
    tools: list[str | None] = []
    pos = 0
    for i in range(total):
        words = list(filler[pos : pos + n_words[i]])
        pos += n_words[i]
        if plant[i]:
            for _ in range(int(rng.integers(1, 4))):
                name = _variant(rng, names[int(rng.integers(len(names)))])
                words.insert(int(rng.integers(len(words) + 1)), name)
        if hot[i]:
            words.insert(int(rng.integers(len(words) + 1)), hot_name)
        if decoy[i]:
            words.insert(int(rng.integers(len(words) + 1)), decoys[int(rng.integers(len(decoys)))])
        text = " ".join(words)
        if breaks[i]:  # whitespace runs exercise the context-window drift
            cut = int(rng.integers(1, len(text)))
            text = text[:cut] + "\n " + text[cut:]
        texts.append(text)
        tools.append(_TOOLS[int(rng.integers(len(_TOOLS)))] if roles[i] == "tool" else None)

    conv_start = np.repeat(np.arange(spec.n_convs, dtype=np.int64) * 3600, turns)
    ts = (np.datetime64("2026-01-01T00:00:00", "s") + conv_start + turn_idx.astype(np.int64) * 30)
    table = pa.table(
        {
            "conv_id": pa.array(conv_ids, pa.string()),
            "turn_idx": pa.array(turn_idx, pa.int32()),
            "role": pa.array(roles.tolist(), pa.string()),
            "text": pa.array(texts, pa.string()),
            "tool": pa.array(tools, pa.string()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
        }
    )
    return table, f"conv-{hot_conv:06d}"


def ensure_inputs(cache_dir: str, corpus: str, seed: int, n_files: int = 8) -> dict:
    """Generate (or reuse) the inputs for ``corpus`` at ``seed``.

    Returns the paths of the transcripts parquet directory and the
    gazetteer JSON plus the corpus facts in ``meta.json``: ``turns``,
    ``conv_ids`` and ``hot_conv``. Files are written to a temporary directory
    and renamed into place, so a killed run never leaves a partial cache
    entry. The entry's name carries a digest of this file, so a changed
    generator never reuses inputs made by an older one.
    """
    with open(__file__, "rb") as f:
        version = hashlib.sha1(f.read()).hexdigest()[:12]
    out = os.path.join(cache_dir, f"{corpus}-{seed}-{version}")
    meta_path = os.path.join(out, "meta.json")
    if not os.path.exists(meta_path):
        gaz = make_gazetteer(seed)
        spec = CORPORA[corpus]
        table, hot_conv = make_corpus(spec, gaz, seed)
        tmp = f"{out}.tmp{os.getpid()}"
        os.makedirs(os.path.join(tmp, "transcripts"))
        step = -(-table.num_rows // n_files)
        for i in range(n_files):
            pq.write_table(
                table.slice(i * step, step),
                os.path.join(tmp, "transcripts", f"part-{i:03d}.parquet"),
            )
        with open(os.path.join(tmp, "gazetteer.json"), "w") as f:
            json.dump(gaz, f)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            meta = {
                "turns": table.num_rows,
                "conv_ids": [f"conv-{i:06d}" for i in range(spec.n_convs)],
                "hot_conv": hot_conv,
            }
            json.dump(meta, f)
        os.makedirs(cache_dir, exist_ok=True)
        try:
            os.rename(tmp, out)
        except OSError:  # a concurrent run won the race; use its copy
            import shutil

            shutil.rmtree(tmp)
    with open(meta_path) as f:
        meta = json.load(f)
    return {
        "transcripts": os.path.join(out, "transcripts"),
        "gazetteer": os.path.join(out, "gazetteer.json"),
        **meta,
    }
