"""Seeded transcript corpus with planted duplicate families.

The benchmark owns this generator so that the program under test only
ever sees a parquet path: editing the package's own fixture generator
cannot shift a workload. Output follows the engine's input schema
(conv_id, turn_idx, role, text, tool, ts).

Every conversation belongs to one *family*: a base conversation plus the
copies planted from it. Planted kinds:

- ``exact``: an identical copy of the base;
- ``near``: each word substituted with probability 0.005, 0.015 or 0.04
  (5-gram Jaccard about 0.95, 0.86 and 0.70);
- ``containment``: the base followed by two extra turns;
- ``crowd``: 40 to 80 identical copies of one base, so that every LSH
  band of the crowd holds more members than the verified path's
  ``pair_cap`` of 32.

Conversations from different families share no planted text, and the
vocabulary is large enough that unrelated conversations do not share
5-word shingles by chance.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NEAR_RATES = (0.005, 0.015, 0.04)
EXACT_RATE = 0.10
NEAR_RATE = 0.30
CONTAINMENT_RATE = 0.05
CROWD_SIZES = (40, 80)
N_FILES = 8

_ONSETS = "b c d f g h j k l m n p r s t v w z br ch dr gr kl pl sh st tr".split()
_VOWELS = "a e i o u ai ea io ou".split()
VOCAB = np.array(sorted({o + v + o2 + v2 for o in _ONSETS for v in _VOWELS
                         for o2 in _ONSETS[:8] for v2 in _VOWELS[:4]}))

SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


class _Builder:
    """Accumulates turns (as word-index arrays) and family labels."""

    def __init__(self) -> None:
        self.turns: list[tuple[str, int, np.ndarray]] = []
        self.family: dict[str, int] = {}
        self.pairs: list[tuple[str, str, str, float]] = []

    def emit(self, conv_id: str, family: int, turns: list[np.ndarray]) -> None:
        self.family[conv_id] = family
        self.turns.extend((conv_id, i, t) for i, t in enumerate(turns))


def _draw(rng: np.random.Generator, k: int, turns: tuple[int, int],
          words: tuple[int, int]) -> list[list[np.ndarray]]:
    """``k`` conversations, each a list of turns of random word indices;
    turn and word counts are drawn from the half-open ranges given."""
    n_turns = rng.integers(*turns, k)
    lens = rng.integers(*words, int(n_turns.sum()))
    flat = np.split(rng.integers(0, len(VOCAB), int(lens.sum())),
                    np.cumsum(lens)[:-1])
    ends = np.cumsum(n_turns)
    return [flat[e - n:e] for n, e in zip(n_turns.tolist(), ends.tolist())]


def _perturb(rng: np.random.Generator, turns: list[np.ndarray],
             rate: float) -> list[np.ndarray]:
    flat = np.concatenate(turns)
    hit = np.nonzero(rng.random(len(flat)) < rate)[0]
    if len(hit) == 0:  # a near copy is never an exact one
        hit = np.zeros(1, dtype=np.int64)
    # a different word at every hit: the shift keeps it off the original
    flat[hit] = (flat[hit] + rng.integers(1, len(VOCAB), len(hit))) % len(VOCAB)
    return np.split(flat, np.cumsum([len(t) for t in turns])[:-1])


def plan(n_conv: int, seed: int, crowds: int = 0) -> _Builder:
    """Draws ``n_conv`` conversations or a few more, ``crowds`` of them
    giant families."""
    rng = np.random.default_rng(seed)
    b = _Builder()
    sizes = rng.integers(CROWD_SIZES[0], CROWD_SIZES[1] + 1, crowds)
    for fam, (size, turns) in enumerate(zip(sizes.tolist(),
                                            _draw(rng, crowds, (2, 13), (5, 41)))):
        ids = [f"g{fam:02d}_{j:03d}" for j in range(size)]
        for cid in ids:
            b.emit(cid, fam, turns)
        b.pairs.extend((ids[0], cid, "crowd", 0.0) for cid in ids[1:])
    bases = _draw(rng, n_conv, (2, 13), (5, 41))
    kinds = rng.random(n_conv)
    n_near = 0
    for fam, (turns, r) in enumerate(zip(bases, kinds.tolist()), start=crowds):
        if len(b.family) >= n_conv:
            break
        base = f"c{fam:07d}"
        b.emit(base, fam, turns)
        if r < EXACT_RATE:
            b.emit(base + "x", fam, turns)
            b.pairs.append((base, base + "x", "exact", 0.0))
        elif r < EXACT_RATE + NEAR_RATE:
            # the rates take turns, so every corpus holds the same mix
            rate = NEAR_RATES[n_near % len(NEAR_RATES)]
            n_near += 1
            b.emit(base + "n", fam, _perturb(rng, turns, rate))
            b.pairs.append((base, base + "n", "near", rate))
        elif r < EXACT_RATE + NEAR_RATE + CONTAINMENT_RATE:
            extra = _draw(rng, 1, (2, 3), (5, 31))[0]
            b.emit(base + "s", fam, turns + extra)
            b.pairs.append((base, base + "s", "containment", 0.0))
    return b


def _table(b: _Builder, rng: np.random.Generator) -> pa.Table:
    order = rng.permutation(len(b.turns))
    conv = [b.turns[i][0] for i in order]
    idx = np.array([b.turns[i][1] for i in order], dtype=np.int32)
    # one join over every word, then a slice per turn
    words = [b.turns[i][2] for i in order]
    flat = np.concatenate(words)
    n_words = np.array([len(w) for w in words])
    widths = np.char.str_len(VOCAB)[flat] + 1
    ends = np.cumsum(widths)[np.cumsum(n_words) - 1] - 1
    starts = np.concatenate([[0], ends[:-1] + 1])
    joined = " ".join(VOCAB[flat].tolist())
    # capitalised first words and trailing punctuation exercise the cleaner
    text = [joined[s].upper() + joined[s + 1:e] + ("." if j % 3 else "?")
            for j, (s, e) in enumerate(zip(starts.tolist(), ends.tolist()))]
    tools = np.array(["search", "browser", "editor", None], dtype=object)
    tool = np.where(idx % 2 == 1, tools[rng.integers(0, 4, len(idx))], None)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + rng.integers(0, 10**7, len(idx)).astype("timedelta64[s]") \
        + idx.astype("timedelta64[m]")
    return pa.table({
        "conv_id": pa.array(conv, pa.string()),
        "turn_idx": pa.array(idx, pa.int32()),
        "role": pa.array(np.where(idx % 2 == 0, "user", "assistant")),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(tool.tolist(), pa.string()),
        "ts": pa.array(ts, pa.timestamp("us")).cast(pa.timestamp("us", tz="UTC")),
    }, schema=SCHEMA)


def write_corpus(out_dir: Path, n_conv: int, seed: int,
                 crowds: int = 0) -> dict:
    """Writes ``out_dir/turns`` (parquet, N_FILES files) and
    ``out_dir/truth.json`` once; later calls read the recorded truth.

    Returns the truth record: turn and conversation counts, the family of
    every conversation and the planted pairs."""
    truth_path = out_dir / "truth.json"
    if truth_path.exists():
        return json.loads(truth_path.read_text())
    b = plan(n_conv, seed, crowds)
    table = _table(b, np.random.default_rng([seed, 1]))
    turns_dir = out_dir / "turns"
    turns_dir.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // N_FILES)
    for k in range(N_FILES):
        pq.write_table(table.slice(k * step, step),
                       turns_dir / f"part-{k:05d}.parquet")
    truth = {
        "seed": seed,
        "turns": table.num_rows,
        "conversations": len(b.family),
        "family": b.family,
        "pairs": b.pairs,
    }
    tmp = truth_path.with_suffix(".tmp")
    tmp.write_text(json.dumps(truth))
    tmp.replace(truth_path)
    return truth
