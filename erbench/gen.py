"""Seeded entity-resolution profile generator.

Writes Parquet profiles plus a groundtruth of matching id pairs. The
same seed and sizes always give byte-identical files.

Two variants:

* dirty: one source ``profiles.parquet`` (id, name, brand, desc, code)
  holding entities, half of them with 1-3 noisy duplicates;
  groundtruth is every pair inside a cluster.
* clean: two sources with different schemas. A is
  (id, name, brand, desc, code); B is (id, title, details, sku), where
  title = name + brand tokens. 80% of A has one noisy copy in B, and
  B adds 10% unmatched entities; groundtruth is every (A id, B id)
  copy pair.

Tokens follow a Zipf-skewed vocabulary, so a few head tokens land in
thousands of profiles and form the oversized blocks that purging
exists for (see :class:`Gen` for how the seed enters). A copy drops
each token with ``P_DROP``, inserts a Zipf token after each kept one
with ``P_INS``, and loses its code with ``P_CODE_LOSS``.

Usage::

    python3 erbench/gen.py --variant dirty --entities 4000 --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_ONSETS = ["b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z", "br", "st", "tr"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ou"]
_CODE_CHARS = np.array(list("abcdefghjkmnpqrstuvwxyz23456789"))

VOCAB = 20000
BRANDS = 400
P_DROP, P_INS, P_CODE_LOSS = 0.15, 0.1, 0.3
COPIES = (0, 0, 0, 1, 2, 3)  # duplicates per dirty entity, dealt by the seed
MATCH_SHARE = 0.8  # share of clean source A copied into B
B_ONLY_SHARE = 0.1  # unmatched B entities, as a share of A


def _word(i: int) -> str:
    """Pronounceable word for vocabulary index ``i`` (unique per i)."""
    syl = []
    i += len(_ONSETS) * len(_VOWELS)  # at least two syllables
    while i:
        i, r = divmod(i, len(_ONSETS) * len(_VOWELS))
        syl.append(_ONSETS[r // len(_VOWELS)] + _VOWELS[r % len(_VOWELS)])
    return "".join(syl)


WORDS = [_word(i) for i in range(VOCAB)]
BRAND_WORDS = [f"{_word(i)}co" for i in range(BRANDS)]


class Gen:
    """One seeded generator of ``entities`` base entities.

    Token frequencies are exact: the name, brand and desc slots of all
    entities are filled from a bag that holds each vocabulary word the
    Zipf share of times (P(rank k) proportional to 1 / k**s), shuffled
    by the seed. So every seed gives the same block-size distribution
    and only which entity holds which word changes; purge thresholds
    and comparison counts stay put across seeds."""

    def __init__(self, seed: int, entities: int):
        self.rng = np.random.default_rng(seed)
        self.names = self._deal(WORDS, 0.7, [2 + e % 2 for e in range(entities)])
        self.brands = self._deal(BRAND_WORDS, 1.0, [1] * entities)
        self.descs = self._deal(WORDS, 1.05, [5 + e % 5 for e in range(entities)])
        w = 1.0 / np.arange(1, VOCAB + 1, dtype=np.float64) ** 1.05
        self._noise_cdf = np.cumsum(w) / w.sum()

    def _deal(self, words: list[str], s: float, lengths: list[int]) -> list[list[str]]:
        total = sum(lengths)
        w = 1.0 / np.arange(1, len(words) + 1, dtype=np.float64) ** s
        exact = total * w / w.sum()
        counts = np.floor(exact).astype(np.int64)
        short = total - int(counts.sum())
        counts[np.argsort(counts - exact, kind="stable")[:short]] += 1
        bag = np.repeat(np.arange(len(words)), counts)
        self.rng.shuffle(bag)
        cuts = np.cumsum(lengths)[:-1]
        return [[words[i] for i in part] for part in np.split(bag, cuts)]

    def entity(self, e: int) -> dict:
        return {
            "name": self.names[e],
            "brand": self.brands[e],
            "desc": self.descs[e],
            "code": ["".join(self.rng.choice(_CODE_CHARS, 7))],
        }

    def noisy(self, tokens: list[str]) -> list[str]:
        out = []
        for t in tokens:
            if self.rng.random() >= P_DROP:
                out.append(t)
            if self.rng.random() < P_INS:
                out.append(WORDS[int(np.searchsorted(self._noise_cdf, self.rng.random()))])
        return out

    def copy(self, e: dict) -> dict:
        c = {k: self.noisy(v) for k, v in e.items() if k != "code"}
        c["code"] = [] if self.rng.random() < P_CODE_LOSS else list(e["code"])
        return c


def _write(path: str, rows: list[dict], columns: list[str]) -> None:
    table = pa.table(
        {c: pa.array([r[c] for r in rows], type=pa.string()) for c in columns}
    )
    pq.write_table(table, path, compression="snappy")


def _join(tokens: list[str]) -> str | None:
    return " ".join(tokens) or None


def dirty(seed: int, entities: int) -> tuple[list[dict], list[tuple]]:
    """Profiles (dict rows) and groundtruth id pairs of a dirty source."""
    g = Gen(seed, entities)
    copies = g.rng.permutation(np.resize(COPIES, entities))
    rows, gt = [], []
    for e in range(entities):
        base = g.entity(e)
        members = [base] + [g.copy(base) for _ in range(int(copies[e]))]
        ids = [f"e{e:06d}m{m}" for m in range(len(members))]
        for pid, m in zip(ids, members):
            rows.append({"id": pid, **{k: _join(v) for k, v in m.items()}})
        gt.extend((a, b) for i, a in enumerate(ids) for b in ids[i + 1:])
    # interleave cluster members so row order carries no match signal
    order = g.rng.permutation(len(rows))
    return [rows[i] for i in order], gt


def clean(seed: int, entities: int):
    """(A rows, B rows, groundtruth) of a clean-clean pair of sources."""
    b_only = int(entities * B_ONLY_SHARE)
    g = Gen(seed, entities + b_only)
    matched = set(g.rng.permutation(entities)[: int(entities * MATCH_SHARE)].tolist())
    a_rows, b_rows, gt = [], [], []

    def b_row(bid: str, e: dict) -> dict:
        return {
            "id": bid,
            "title": _join(e["name"] + e["brand"]),
            "details": _join(e["desc"]),
            "sku": _join(e["code"]),
        }

    for e in range(entities):
        base = g.entity(e)
        aid = f"a{e:06d}"
        a_rows.append({"id": aid, **{k: _join(v) for k, v in base.items()}})
        if e in matched:
            bid = f"b{e:06d}"
            b_rows.append(b_row(bid, g.copy(base)))
            gt.append((aid, bid))
    for e in range(entities, entities + b_only):
        b_rows.append(b_row(f"b{e:06d}", g.entity(e)))
    order = g.rng.permutation(len(b_rows))
    return a_rows, [b_rows[i] for i in order], gt


A_COLUMNS = ["id", "name", "brand", "desc", "code"]
B_COLUMNS = ["id", "title", "details", "sku"]


def generate(variant: str, seed: int, entities: int, out: str, batches: int = 0) -> dict:
    """Write one workload's inputs under ``out`` and return its manifest.

    ``batches`` > 0 (dirty only) writes the first 80% of profiles to
    ``index.parquet`` and the rest to ``new.parquet``, and lists the ids
    of each of that many equal arrival batches in the manifest.
    """
    os.makedirs(out, exist_ok=True)
    files: dict[str, object] = {}
    if variant == "dirty":
        rows, gt = dirty(seed, entities)
        if batches:
            n_new = (len(rows) // 5) // batches * batches
            n_old = len(rows) - n_new
            _write(os.path.join(out, "index.parquet"), rows[:n_old], A_COLUMNS)
            _write(os.path.join(out, "new.parquet"), rows[n_old:], A_COLUMNS)
            size = n_new // batches
            files.update(index="index.parquet", new="new.parquet", index_rows=n_old)
            files["batch_ids"] = [[r["id"] for r in rows[n_old + b * size:n_old + (b + 1) * size]] for b in range(batches)]
        else:
            _write(os.path.join(out, "profiles.parquet"), rows, A_COLUMNS)
            files["profiles"] = "profiles.parquet"
            files["profile_rows"] = len(rows)
    elif variant == "clean":
        a_rows, b_rows, gt = clean(seed, entities)
        _write(os.path.join(out, "a.parquet"), a_rows, A_COLUMNS)
        _write(os.path.join(out, "b.parquet"), b_rows, B_COLUMNS)
        files.update(a="a.parquet", b="b.parquet", a_rows=len(a_rows), b_rows=len(b_rows))
    else:
        raise ValueError(f"unknown variant: {variant}")
    pq.write_table(
        pa.table({"id1": [p[0] for p in gt], "id2": [p[1] for p in gt]}),
        os.path.join(out, "gt.parquet"),
        compression="snappy",
    )
    manifest = {"variant": variant, "seed": seed, "entities": entities, "gt": "gt.parquet", "gt_rows": len(gt), **files}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--variant", choices=["dirty", "clean"], required=True)
    ap.add_argument("--entities", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--batches", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.variant, a.seed, a.entities, a.out, a.batches)))


if __name__ == "__main__":
    main()
