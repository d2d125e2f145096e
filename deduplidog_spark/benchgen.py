"""Distributed synthetic corpus generator for benchmarks (Corpus C at
scale, FIXTURES.md §3).

Content is a pure function of the row id, so generation is
embarrassingly parallel (``spark.range`` → ``mapInPandas``) — no
driver-side loop, no data movement; a 100 TB corpus would be generated
the same way. Planted duplicate classes by id arithmetic:

- id % 20 == 0       → boilerplate (one shared content, 5% of rows —
                       the skew group that exercises sha collapse +
                       bucket caps)
- id % 20 == 1       → exact-copy classes (content keyed by id // 100:
                       one copy per 100-block)
- id % 20 == 2       → near-dup base
- id % 20 == 3       → near-dup variant of (id - 1) at ~0.8 Jaccard
- otherwise          → unique

Ground-truth relations are recomputable from the same arithmetic.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_VOCAB = np.array(
    [
        f"{w}{i}"
        for w in (
            "def return import class self for in if else while lambda yield "
            "from with try except raise assert pass none true false print "
            "len range open data value result index count total buffer "
            "stream token parse node tree hash key map fold scan emit"
        ).split()
        for i in range(40)
    ]
)

_SCHEMA = (
    "repo string, path string, commit string, lang string, content string, "
    "mtime timestamp, is_symlink boolean"
)


def _gen_tokens(seed: int, n: int) -> np.ndarray:
    rng = np.random.RandomState(seed % (2**31 - 1))
    return _VOCAB[rng.randint(0, len(_VOCAB), n)]


def _content_for(i: int, doc_tokens: int) -> str:
    m = i % 20
    if m == 0:
        toks = _gen_tokens(999_999, doc_tokens)
    elif m == 1:
        toks = _gen_tokens(1_000_000 + (i // 100), doc_tokens)
    elif m == 2:
        toks = _gen_tokens(i, doc_tokens)
    elif m == 3:
        toks = _gen_tokens(i - 1, doc_tokens).copy()
        rng = np.random.RandomState(i % (2**31 - 1))
        n_edit = max(doc_tokens // 9, 1)  # ~11% token edits → J ≈ 0.8
        pos = rng.choice(doc_tokens, n_edit, replace=False)
        toks[pos] = [f"edit_{i}_{p}" for p in pos]
    else:
        toks = _gen_tokens(2_000_000 + i, doc_tokens)
    return " ".join(toks.tolist())


def synth_corpus(
    spark: SparkSession,
    n_rows: int,
    doc_tokens: int = 250,
    n_repos: int = 100,
    partitions: int | None = None,
) -> DataFrame:
    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            out = pd.DataFrame(
                {
                    "repo": [f"repo_{int(i) % n_repos:04d}" for i in ids],
                    "path": [f"src/f_{int(i):08d}.py" for i in ids],
                    "commit": "c0",
                    "lang": "py",
                    "content": [_content_for(int(i), doc_tokens) for i in ids],
                    "mtime": pd.Timestamp("2026-01-01"),
                    "is_symlink": False,
                }
            )
            yield out

    return spark.range(n_rows).repartition(parts).mapInPandas(gen, _SCHEMA)


def near_truth_pairs(spark: SparkSession, n_rows: int, n_repos: int = 100) -> DataFrame:
    """The planted near-dup pairs implied by the id arithmetic
    (id % 20 == 3 is a variant of id-1): (id_a, id_b) fids. The bench
    filters these by true Jaccard ≥ τ (the variant edit positions make
    a few pairs land under the threshold) and measures co-clustering
    recall against that truth set."""

    def fid(col):
        return F.format_string(
            "repo_%04d/src/f_%08d.py", F.pmod(col, F.lit(n_repos)), col
        )

    ids = spark.range(3, n_rows, 20)
    return ids.select(
        fid(F.col("id") - 1).alias("id_a"), fid(F.col("id")).alias("id_b")
    )
