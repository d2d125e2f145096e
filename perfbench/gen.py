"""Seeded corpus generators with planted ground truth.

Every document belongs to a planted *family*: the documents a perfect
deduplicator may put in one component. Within a family, the truth is
the set of document pairs whose exact shingle Jaccard (computed with
``functions.hashing``, the pipeline's own verification oracle) is at
least the threshold τ. Recall is measured against those pairs and
precision against the family ids.

Two shapes:

- ``chains``: ~100-token docs. 60% sit in edit-chain families of 8
  (each version edits 4 tokens of the one before, so the true Jaccard
  falls under τ after a few steps and connected components must join
  each chain over several hops), 40% are unique, plus one hot family of
  near-identical docs (each one fresh token longer) 2.5 ×
  ``max_bucket_size`` strong that overflows the LSH bucket cap
  (excluded from recall).
- ``bulk``: ~200-token docs in the r6 headline mix -- 5% one
  boilerplate content, 5% exact-copy classes, 10% near-dup pairs at
  J≈0.8, 10% bridge-ready pairs (two docs under τ of each other that a
  later append batch can bridge), the rest unique.

Append batches (``append_batches``) carry new unique docs, exact copies
and near-variants of base docs, and bridges that merge two base
components, with fids that continue the base numbering.

Corpora are written as four parquet files (one per core) in the
pipeline's contract-table schema, plus ``truth.json``; both are cached
by (workload, seed, size) so generation never lands in a timed span.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import defaultdict
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from deduplidog_spark.functions import hashing as H

WORDS = (
    "def return import class self for in if else while lambda yield from "
    "with try except raise assert pass none true false print len range "
    "open data value result index count total buffer stream token parse "
    "node tree hash key map fold scan emit"
).split()
# object dtype: a fixed-width string array would truncate the longer
# tokens that edit() writes into copies, and truncated tokens collide
VOCAB = np.array([f"{w}{i}" for w in WORDS for i in range(40)], dtype=object)
HOT_FAMILY = "H"
N_FILES = 4  # parquet files per corpus: one input partition per core


@dataclass
class Doc:
    id: int
    family: str
    tokens: np.ndarray


class _Gen:
    """Token-level document factory for one seed."""

    def __init__(self, seed: int, tag: int):
        self.rng = np.random.default_rng([seed, tag])
        self.seed = seed
        self.tag = tag
        self.fresh = 0

    def random(self, n_tokens: int) -> np.ndarray:
        return VOCAB[self.rng.integers(0, len(VOCAB), n_tokens)]

    def token(self) -> str:
        """A token no other doc has, nor any long part of it: tokens
        sharing a prefix would share the shingles inside it."""
        self.fresh += 1
        return hashlib.blake2b(f"{self.seed}/{self.tag}/{self.fresh}".encode(), digest_size=4).hexdigest()

    def edit(self, toks: np.ndarray, n_edit: int) -> np.ndarray:
        """Copy of ``toks`` with ``n_edit`` positions replaced by tokens
        no other doc has."""
        out = toks.copy()
        for p in self.rng.choice(len(toks), n_edit, replace=False):
            out[p] = self.token()
        return out


def chains_docs(n: int, seed: int, max_bucket_size: int = 200) -> list[Doc]:
    g = _Gen(seed, 1)
    T = 100
    docs: list[Doc] = []
    hot = g.random(T)
    for _ in range(int(2.5 * max_bucket_size)):
        # one fresh token appended each: a copy keeps every shingle of
        # the others, so in each band it either shares the family's value
        # (a bucket over the cap) or, where a new shingle wins a bin, has
        # one of its own. Edits that drop shingles would instead join
        # copies edited near each other, into components whose size and
        # depth -- and so the verify and CC work -- vary with the seed.
        docs.append(Doc(len(docs), HOT_FAMILY, np.append(hot, g.token())))
    n_fam = int(0.6 * n) // 8
    for f in range(n_fam):
        toks = g.random(T)
        for _v in range(8):
            docs.append(Doc(len(docs), f"C{f}", toks))
            toks = g.edit(toks, 4)
    while len(docs) < n:
        docs.append(Doc(len(docs), f"U{len(docs)}", g.random(T)))
    return docs


def bulk_docs(n: int, seed: int) -> list[Doc]:
    g = _Gen(seed, 2)
    T = 200
    boiler = g.random(T)
    exact: dict[int, np.ndarray] = {}
    docs: list[Doc] = []
    for i in range(n):
        m = i % 20
        if m == 0:
            docs.append(Doc(i, "B", boiler))
        elif m == 1:
            if i // 100 not in exact:
                exact[i // 100] = g.random(T)
            docs.append(Doc(i, f"E{i // 100}", exact[i // 100]))
        elif m in (2, 4):
            docs.append(Doc(i, f"N{i}", g.random(T)))
        elif m == 3:
            # near-dup pair at J≈0.8
            docs.append(Doc(i, f"N{i - 1}", g.edit(docs[-1].tokens, T // 16)))
        elif m == 5:
            # bridge partner: under τ of its base, so the two are
            # separate components until a batch doc halfway between
            # them arrives (see append_batches)
            docs.append(Doc(i, f"N{i - 1}", g.edit(docs[-1].tokens, T // 6)))
        else:
            docs.append(Doc(i, f"U{i}", g.random(T)))
    return docs


def append_batches(base: list[Doc], n_batches: int, n_batch: int, seed: int) -> list[list[Doc]]:
    g = _Gen(seed, 3)
    by_id = {d.id: d for d in base}
    bridges = [(by_id[i - 1], by_id[i]) for i in by_id if i % 20 == 5]
    g.rng.shuffle(bridges)
    next_id = max(by_id) + 1
    out = []
    for _b in range(n_batches):
        batch = []
        for k in range(n_batch):
            r = k % 20
            if r == 0 and bridges:
                # halfway between a bridge-ready pair: the q-edits on
                # even positions only, so J to both sides is above τ
                p, q = bridges.pop()
                diff = np.flatnonzero(p.tokens != q.tokens)
                toks = p.tokens.copy()
                toks[diff[::2]] = q.tokens[diff[::2]]
                batch.append(Doc(next_id, p.family, toks))
            elif r in (1, 2):
                src = base[g.rng.integers(len(base))]
                batch.append(Doc(next_id, src.family, src.tokens))
            elif r in (3, 4, 5):
                src = base[g.rng.integers(len(base))]
                batch.append(Doc(next_id, src.family, g.edit(src.tokens, len(src.tokens) // 16)))
            else:
                batch.append(Doc(next_id, f"U{next_id}", g.random(200)))
            next_id += 1
        out.append(batch)
    return out


def fid_of(i: int) -> str:
    return f"repo_{i % 50:03d}/src/m{i:07d}.py"


def write_corpus(docs: list[Doc], path: str, seed: int) -> None:
    """Contract-table parquet, rows in a seeded shuffled order so family
    members do not sit next to each other in one input split."""
    order = np.random.default_rng([seed, 9]).permutation(len(docs))
    rows = [docs[j] for j in order]
    fids = [fid_of(d.id) for d in rows]
    table = pa.table(
        {
            "repo": [f.split("/", 1)[0] for f in fids],
            "path": [f.split("/", 1)[1] for f in fids],
            "commit": ["c0"] * len(rows),
            "lang": ["py"] * len(rows),
            "content": [" ".join(d.tokens.tolist()) for d in rows],
            "mtime": pa.array(
                np.full(len(rows), np.datetime64("2026-01-01T00:00:00", "us")),
                pa.timestamp("us", tz="UTC"),
            ),
            "is_symlink": [False] * len(rows),
        }
    )
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // N_FILES)
    for k in range(N_FILES):
        pq.write_table(table.slice(k * step, step), f"{path}/part-{k}.parquet")


def truth_of(docs: list[Doc], k: int, tau: float) -> dict:
    """Per family: member fids grouped by identical content, and the
    content-group pairs whose exact shingle Jaccard is ≥ τ (a group
    paired with itself stands for its identical copies)."""
    fams: dict[str, dict[str, list[str]]] = defaultdict(dict)
    for d in docs:
        text = " ".join(d.tokens.tolist())
        fams[d.family].setdefault(text, []).append(fid_of(d.id))
    out = {}
    for fam, groups in fams.items():
        contents = list(groups)
        pairs = [[i, i] for i, c in enumerate(contents) if len(groups[c]) > 1]
        if fam != HOT_FAMILY and len(contents) > 1:
            sets = [H.shingle_set_u32(c, k) for c in contents]
            pairs += [
                [i, j]
                for i in range(len(sets))
                for j in range(i + 1, len(sets))
                # == jaccard_of_texts(contents[i], contents[j], k), with
                # each doc's shingle set built once
                if H.jaccard_of_sets(sets[i], sets[j]) >= tau
            ]
        out[fam] = {"groups": [groups[c] for c in contents], "pairs": pairs}
    return out


def _cached(path: str, build) -> str:
    """``path`` holding whatever ``build(path)`` writes, built once."""
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        os.makedirs(path, exist_ok=True)
        build(path)
        open(done, "w").close()
    return path


def _save_truth(docs: list[Doc], path: str, k: int, tau: float) -> None:
    with open(os.path.join(path, "truth.json"), "w") as fh:
        json.dump(truth_of(docs, k, tau), fh)


def chains_inputs(root: str, seed: int, n: int, k: int, tau: float) -> str:
    """Dir with ``corpus/``, its split into ``base/`` and ``batch/`` (a
    seeded 5% of the docs, for the traced run's append), and
    ``truth.json``."""

    def build(path):
        docs = chains_docs(n, seed)
        write_corpus(docs, f"{path}/corpus", seed)
        pick = set(np.random.default_rng([seed, 5]).permutation(len(docs))[: n // 20].tolist())
        write_corpus([d for i, d in enumerate(docs) if i not in pick], f"{path}/base", seed)
        write_corpus([d for i, d in enumerate(docs) if i in pick], f"{path}/batch", seed)
        _save_truth(docs, path, k, tau)

    return _cached(os.path.join(root, f"chains-s{seed}-n{n}"), build)


def append_inputs(
    root: str, seed: int, n_base: int, n_batch: int, n_batches: int, k: int, tau: float
) -> str:
    """Dir with ``base/``, ``batch0/`` … and ``truth.json`` over all."""

    def build(path):
        base = bulk_docs(n_base, seed)
        batches = append_batches(base, n_batches, n_batch, seed)
        write_corpus(base, f"{path}/base", seed)
        for i, b in enumerate(batches):
            write_corpus(b, f"{path}/batch{i}", seed)
        _save_truth(base + [d for b in batches for d in b], path, k, tau)

    return _cached(
        os.path.join(root, f"append-s{seed}-n{n_base}-b{n_batch}x{n_batches}"), build
    )


def load_truth(path: str) -> dict:
    with open(os.path.join(path, "truth.json")) as fh:
        return json.load(fh)
