"""Seeded input generator for the KG-build benchmark.

Owned by the benchmark on purpose: it does not use
``arabicner_spark.sources.synth``, so a change to the program can never
change the inputs it is measured on.  Everything derives from
``(workload, seed)`` through one numpy ``Generator``; the same pair gives
byte-identical parquet files.

Each workload writes, under its input directory:

  transcripts/part-NNNNN.parquet  (conv_id, turn_idx, role, text, tool, ts)
  gazetteer.parquet               (phrase, type, level_hint)
  alias.parquet                   (alias, entity_id, entity_type, weight)

The program receives only these.  The planted-variant truth (variant
surface -> true entity) stays with the benchmark, in ``Inputs.truth``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable, Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Letters that the program's Arabic normalization leaves unchanged, so a
# generated surface is already in normalized form.
LETTERS = list("ابتثجحخدذرزسشصضطظعغفقكلمنهوي")
TYPES = ["DATE", "EVENT", "FAC", "GPE", "LOC", "OCC", "ORG", "PERS"]
# (subject, object) type pairs the program's default predicate table
# relates; a pair planted side by side yields a triple
PAIRS = [
    ("PERS", "ORG"), ("PERS", "OCC"), ("ORG", "GPE"), ("ORG", "LOC"),
    ("FAC", "GPE"), ("FAC", "LOC"), ("EVENT", "DATE"),
]
ROLES = np.array(["user", "assistant", "tool"], dtype=object)
TOOLS = np.array(["search", "retrieve", "calc", "translate"], dtype=object)
EPOCH_US = int(datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp() * 1_000_000)

TRANSCRIPTS = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])
GAZETTEER = pa.schema([
    ("phrase", pa.string()), ("type", pa.string()), ("level_hint", pa.int32()),
])
ALIAS = pa.schema([
    ("alias", pa.string()), ("entity_id", pa.string()),
    ("entity_type", pa.string()), ("weight", pa.float64()),
])


@dataclass
class Inputs:
    transcripts: pa.Table                  # schema TRANSCRIPTS
    gazetteer: List[Tuple[str, str, int]]  # (phrase, type, level_hint)
    alias: List[Tuple[str, str, str, float]]
    n_files: int
    truth: Dict[str, str] = field(default_factory=dict)  # variant -> entity_id

    def rows(self) -> List[tuple]:
        """(conv_id, turn_idx, role, text) per turn, for the serial oracle."""
        t = self.transcripts
        return list(zip(*(t.column(c).to_pylist() for c in ("conv_id", "turn_idx", "role", "text"))))


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    make: Callable[[np.random.Generator, int], Inputs]


# ------------------------------------------------------------- helpers


def _words(rng: np.random.Generator, n: int, lo: int, hi: int, taken: set) -> List[str]:
    """n distinct pseudo-words of lo..hi letters, none in ``taken``."""
    out: List[str] = []
    while len(out) < n:
        k = n - len(out)
        lens = rng.integers(lo, hi + 1, k)
        letters = rng.integers(0, len(LETTERS), (k, hi))
        for ln, row in zip(lens, letters):
            w = "".join(LETTERS[i] for i in row[:ln])
            if w not in taken:
                taken.add(w)
                out.append(w)
    return out


def _entities(rng, n_per_type: int, taken: set) -> Dict[str, List[str]]:
    """{type: [phrase]} with 2-token phrases of 5-8 letter tokens: long
    enough that one typo keeps char-3gram Jaccard well above 0.5, and
    random enough that distinct entities share almost no 3-grams."""
    toks = iter(_words(rng, 2 * n_per_type * len(TYPES), 5, 8, taken))
    return {typ: [f"{next(toks)} {next(toks)}" for _ in range(n_per_type)] for typ in TYPES}


def _typo(rng, phrase: str) -> str:
    """One edit near the end of the phrase (where it costs the fewest
    3-grams): replace, drop or double the last letter, or replace the
    one before it."""
    kind = int(rng.integers(0, 4))
    c = LETTERS[int(rng.integers(0, len(LETTERS)))]
    if kind == 0:
        return phrase[:-1] + c
    if kind == 1:
        return phrase[:-1]
    if kind == 2:
        return phrase + phrase[-1]
    return phrase[:-2] + c + phrase[-1]


def _variants(rng, ents: Dict[str, List[str]], per_type: Dict[str, int]) -> Dict[str, str]:
    """{variant: canonical phrase} for the first ``per_type[typ]``
    entities of each type; no variant equals any other phrase."""
    seen = {p for ps in ents.values() for p in ps}
    out: Dict[str, str] = {}
    for typ, k in per_type.items():
        for p in ents[typ][:k]:
            v = _typo(rng, p)
            while v in seen:
                v = _typo(rng, p)
            seen.add(v)
            out[v] = p
    return out


def _dictionary(ents: Dict[str, List[str]], variants: Dict[str, str]):
    """Gazetteer (every canonical phrase plus every variant, so the
    tagger detects both) and alias rows (canonical phrases only, so the
    variants miss the dictionary and must be rescued by LSH)."""
    gaz, alias, eid_of, type_of = [], [], {}, {}
    for lvl, typ in enumerate(TYPES):
        for p in ents[typ]:
            eid = f"E{len(alias):06d}"
            eid_of[p], type_of[p] = eid, typ
            gaz.append((p, typ, lvl))
            alias.append((p, eid, typ, 1.0))
    for v, canon in variants.items():
        gaz.append((v, type_of[canon], TYPES.index(type_of[canon])))
    truth = {v: eid_of[canon] for v, canon in variants.items()}
    return gaz, alias, truth


def _pairs(rng, by_type: Dict[str, List[str]], n: int) -> List[str]:
    """n related pairs, subject and object side by side (so each yields a
    triple); phrases drawn uniformly from ``by_type``."""
    out = []
    for j in rng.integers(0, len(PAIRS), n):
        s, o = PAIRS[j]
        out.append(
            by_type[s][int(rng.integers(0, len(by_type[s])))] + " "
            + by_type[o][int(rng.integers(0, len(by_type[o])))]
        )
    return out


def _transcripts(rng, conv_lens, n_fill, filler: List[str], plant_turn, plants: List[str],
                 tail_turn=(), tail_len: int = 0, tail: str = "") -> pa.Table:
    """The transcript table, built column-wise.

    Turn i holds ``n_fill[i]`` filler words with the phrases of
    ``plants`` (phrase k planted into turn ``plant_turn[k]``) inserted at
    random word boundaries.  Each turn in ``tail_turn`` then gets
    ``tail_len`` more filler words and the phrase ``tail`` at its end.
    """
    n = int(n_fill.shape[0])
    plant_turn = np.asarray(plant_turn, dtype=np.int64)
    tail_turn = np.asarray(tail_turn, dtype=np.int64)
    phrases = sorted(set(plants) | ({tail} if tail else set()))
    vocab = pa.array(filler + phrases)
    pid = {p: len(filler) + i for i, p in enumerate(phrases)}
    # Every unit (a filler word or a whole phrase) gets its turn and a
    # sort key: filler word j of a turn has key j; a plant has key g-0.5
    # for a random gap g, so it lands just before filler word g; tail
    # units sort after everything else.
    total = int(n_fill.sum())
    turn = np.concatenate([
        np.repeat(np.arange(n), n_fill), plant_turn,
        np.repeat(tail_turn, tail_len), tail_turn,
    ])
    key = np.concatenate([
        np.arange(total) - np.repeat(np.cumsum(n_fill) - n_fill, n_fill),
        rng.integers(0, n_fill[plant_turn] + 1) - 0.5,
        np.tile(np.arange(tail_len), len(tail_turn)) + 1e6,
        np.full(len(tail_turn), 2e6),
    ])
    unit = np.concatenate([
        rng.integers(0, len(filler), total),
        np.array([pid[p] for p in plants], dtype=np.int64),
        rng.integers(0, len(filler), len(tail_turn) * tail_len),
        np.full(len(tail_turn), pid.get(tail, 0), dtype=np.int64),
    ])
    order = np.lexsort((key, turn))
    offsets = np.concatenate([[0], np.cumsum(np.bincount(turn, minlength=n))])
    words = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), vocab.take(pa.array(unit[order])))

    conv_lens = np.asarray(conv_lens)
    turn_idx = np.arange(n) - np.repeat(np.cumsum(conv_lens) - conv_lens, conv_lens)
    role = ROLES[turn_idx % 3]
    ts = EPOCH_US + np.cumsum(rng.integers(1, 4000, n)) * 1000
    return pa.Table.from_arrays(
        [
            pa.array([f"c{c:06d}" for c in range(len(conv_lens))]).take(
                pa.array(np.repeat(np.arange(len(conv_lens)), conv_lens))
            ),
            pa.array(turn_idx, pa.int32()),
            pa.array(role, pa.string()),
            pc.binary_join(words, " "),
            pa.array(np.where(role == "tool", TOOLS[turn_idx % len(TOOLS)], None), pa.string()),
            pa.array(ts, pa.timestamp("us", tz="UTC")),
        ],
        schema=TRANSCRIPTS,
    )


def _conv_lens(rng, n_convs: int, median: int, hot_every: int, hot_mult: int):
    """Turns per conversation; every ``hot_every``-th conversation is
    ``hot_mult`` times the median length."""
    lens = rng.integers(median // 2, median * 3 // 2 + 1, n_convs)
    lens[hot_every // 2 :: hot_every] = hot_mult * median
    return lens


# ------------------------------------------------------------ workloads


def bulk_turns(rng, scale: int) -> Inputs:
    """About ``scale`` turns."""
    taken: set = set()
    filler = _words(rng, 3000, 2, 4, taken)
    ents = _entities(rng, 5, taken)
    # 39 conversations of ~8 turns and one of 480: ~20 turns on average
    lens = _conv_lens(rng, max(4, scale // 20), median=8, hot_every=40, hot_mult=60)
    n = int(lens.sum())
    # sparse mentions: a related pair in every other turn
    plant_turn = np.arange(0, n, 2)
    # Every 97th turn runs past the 510-subword budget: 600 more filler
    # words, then an entity wholly inside the truncated tail, which must
    # not be emitted.  Nothing is planted across the boundary, so
    # truncation never cuts a phrase into a new, unlinked surface.
    table = _transcripts(
        rng, lens, rng.integers(60, 181, n), filler, plant_turn, _pairs(rng, ents, len(plant_turn)),
        tail_turn=np.arange(0, n, 97), tail_len=600, tail=ents["GPE"][0],
    )
    gaz, alias, truth = _dictionary(ents, {})
    # at least one file per core, so NER keeps the scan splits as they are
    return Inputs(table, gaz, alias, n_files=max(8, len(os.sched_getaffinity(0))), truth=truth)


def open_vocab(rng, scale: int) -> Inputs:
    """``scale`` entities."""
    taken: set = set()
    filler = _words(rng, 500, 2, 4, taken)
    ents = _entities(rng, max(4, scale // len(TYPES)), taken)
    variants = _variants(rng, ents, {t: len(ents[t]) // 4 for t in TYPES})
    by_type = {t: list(ents[t]) for t in TYPES}
    type_of = {p: t for t in TYPES for p in ents[t]}
    for v, c in variants.items():
        by_type[type_of[c]].append(v)
    lens = _conv_lens(rng, max(2, scale // 8), median=6, hot_every=50, hot_mult=50)
    n = int(lens.sum())
    # one related pair per turn, plus every variant once more, so each
    # variant is a linking case
    vs = sorted(variants)
    plant_turn = np.concatenate([np.arange(n), np.arange(len(vs)) % n])
    table = _transcripts(rng, lens, rng.integers(3, 9, n), filler, plant_turn, _pairs(rng, by_type, n) + vs)
    gaz, alias, truth = _dictionary(ents, variants)
    return Inputs(table, gaz, alias, n_files=1, truth=truth)


WORKLOADS: Dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "bulk_turns",
            "many long sparse-mention turns, some past the subword budget, small gazetteer: NER does most of the work, LSH is bypassed",
            bulk_turns,
        ),
        Workload(
            "open_vocab",
            "thousands of entities, a quarter planted as typo variants missing from the alias dictionary, short turns: LSH linking dominates",
            open_vocab,
        ),
    )
}

# full-size scale per workload; the self-tests pass a toy scale instead
SCALE = {"bulk_turns": 28000, "open_vocab": 2400}


def generate(workload: str, seed: int, scale: int | None = None) -> Inputs:
    w = WORKLOADS[workload]
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    return w.make(rng, SCALE[workload] if scale is None else scale)


def _table(rows, schema: pa.Schema) -> pa.Table:
    cols = list(zip(*rows))
    return pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)


def write(inputs: Inputs, out_dir: str) -> None:
    """Write the three input tables; fixed file names and writer settings
    make the bytes a pure function of ``inputs``."""
    tdir = os.path.join(out_dir, "transcripts")
    os.makedirs(tdir, exist_ok=True)
    t = inputs.transcripts
    step = -(-t.num_rows // inputs.n_files)
    for k in range(inputs.n_files):
        pq.write_table(t.slice(k * step, step), os.path.join(tdir, f"part-{k:05d}.parquet"))
    pq.write_table(_table(inputs.gazetteer, GAZETTEER), os.path.join(out_dir, "gazetteer.parquet"))
    pq.write_table(_table(inputs.alias, ALIAS), os.path.join(out_dir, "alias.parquet"))
