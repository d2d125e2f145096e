"""MinHash signatures + LSH banding (SURVEY §2.4 J5, §2.11.1-2).

Replaces the reference's O(n·m) ignore_name cross join
(deduplidog.py:109-110,492) with the standard MinHash-LSH pipeline.
There is ONE signing kernel, ``functions.hashing.oph_signatures``:
char-k-shingle hashes → a ``num_perm``-bin one-permutation-hashing
signature, with the NULL / F6 ``hash_max_size`` gate. Two paths call
it:

1. ``banded_ingest_scan`` — the pipeline's scan stage: one
   ``mapInPandas`` pass computes the ingest stats, signs, and bands in
   numpy (``band_hashes_from_sigs``), so only B band hashes per row
   reach the JVM.
2. ``with_signatures`` → ``with_band_hashes`` — the ``sig`` column
   (Arrow-batched pandas UDF) for callers that read it (the
   signature-agreement gate, the driver queries), banded JVM-side with
   ``xxhash64`` — bit-identical to the numpy banding (tested).

``explode_bands`` then yields (band_id, band_hash) rows for the LSH
equi-join (operators/candidates.py).

Two docs with shingle-Jaccard j collide in ≥1 band with probability
1-(1-j^r)^B; defaults (B=32, r=4) put the S-curve threshold near
(1/B)^(1/r) ≈ 0.42 — recall ≥0.99 at j ≥ 0.7 (north_rule).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from deduplidog_spark.config import DedupConfig
from deduplidog_spark.functions import hashing as H


def make_minhash_udf(cfg: DedupConfig):
    k = cfg.shingle_k
    max_size = cfg.hash_max_size
    num_perm = cfg.num_perm

    @pandas_udf(T.ArrayType(T.LongType()))
    def minhash_sig(content: pd.Series) -> pd.Series:
        sigs, ok = H.oph_signatures(content.tolist(), k, num_perm, max_size)
        return pd.Series([sigs[i] if ok[i] else None for i in range(len(ok))])

    return minhash_sig


def with_signatures(files: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Adds ``sig`` (array<long>, num_perm wide). Gate rows through the
    F6 size filter before paying the UDF (SURVEY §4: compute signatures
    only for rows that enter the LSH stage)."""
    from deduplidog_spark.ingest import widen_small_scan

    return widen_small_scan(files).withColumn(
        "sig", make_minhash_udf(cfg)(F.col("content"))
    )


def banded_ingest_scan(raw: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Ingest + signatures + banding in ONE ``mapInPandas`` pass over
    the raw contract table — the minhash pipeline's scan stage (r6).

    Produces exactly the columns of ``ingest(raw, cfg)`` minus
    ``content`` plus ``band_hashes``. The content-derived values
    (size = UTF-8 octet length, n_lines = newline count + 1, sha =
    sha256 hex, the quarantine flag) are computed in the same Python
    batch that shingles and bands the content, so content never
    re-enters the JVM: a scalar signing UDF evaluates content-bearing
    rows through ``ArrowEvalPython``, whose passthrough queue buffers
    every input row — content included — until its Python result
    returns, and the JVM then still pays sha256 + the line split. One
    pass, measured 5.4s → 1.8s for the 200k-row bench scan stage, rows
    identical to ``with_band_hashes(with_signatures(ingest(raw)))``
    (regression-pinned).

    The path-derived columns (filename/ext/stem/norm keys) and the
    row filters are the SAME Catalyst expressions as ``ingest`` —
    applied above the Python node, where content no longer exists —
    so K1-K6 normalization and F1-F4 filter semantics cannot drift.
    """
    from deduplidog_spark.ingest import (
        apply_row_filters,
        widen_small_scan,
        with_path_columns,
    )

    raw = widen_small_scan(raw)
    passthrough = [f for f in raw.schema.fields if f.name != "content"]
    names = [f.name for f in passthrough]
    schema = T.StructType(
        list(passthrough)
        + [
            T.StructField("size", T.LongType()),
            T.StructField("n_lines", T.LongType()),
            T.StructField("sha", T.StringType()),
            T.StructField("quarantined", T.BooleanType()),
            T.StructField("band_hashes", T.ArrayType(T.LongType())),
        ]
    )
    k = cfg.shingle_k
    max_size = cfg.hash_max_size
    num_perm = cfg.num_perm
    n_bands = cfg.lsh_bands
    n_rows = cfg.lsh_rows

    def gen(batches):
        import hashlib

        for pdf in batches:
            contents = pdf["content"].tolist()
            n = len(contents)
            size = [None] * n
            n_lines = [None] * n
            sha = [None] * n
            quar = [False] * n
            for i, text in enumerate(contents):
                if text is None:
                    quar[i] = True  # P2 quarantine: NULL stats, no bands
                    continue
                bts = text.encode("utf-8", "surrogatepass")
                size[i] = len(bts)
                n_lines[i] = text.count("\n") + 1
                sha[i] = hashlib.sha256(bts).hexdigest()
            sigs, ok = H.oph_signatures(contents, k, num_perm, max_size)
            bands = H.band_hashes_from_sigs(sigs, n_bands, n_rows)
            out = pd.DataFrame({nm: pdf[nm] for nm in names})
            out["size"] = pd.array(size, dtype="Int64")
            out["n_lines"] = pd.array(n_lines, dtype="Int64")
            out["sha"] = sha
            out["quarantined"] = quar
            out["band_hashes"] = [bands[i] if ok[i] else None for i in range(n)]
            yield out

    stats = raw.mapInPandas(gen, schema)
    return apply_row_filters(with_path_columns(stats, cfg), cfg)


def with_band_hashes(df: DataFrame, cfg: DedupConfig, sig_col: str = "sig") -> DataFrame:
    """JVM-side banding: band b = xxhash64(sig[b*r+1], …, sig[b*r+r]).

    The band count is a plan-time constant, so each band hash is a
    flat ``xxhash64`` over r long element lookups — no array slicing,
    no string building, stays in whole-stage codegen (the first
    version concat_ws'd stringified slices: ~4× slower per row)."""
    r = cfg.lsh_rows
    bands = F.array(
        *[
            F.xxhash64(
                *[F.element_at(F.col(sig_col), b * r + i + 1) for i in range(r)]
            )
            for b in range(cfg.lsh_bands)
        ]
    )
    # F6 gate / null content ⇒ sig is NULL; xxhash64(NULL,…,NULL) is a
    # CONSTANT, so without this guard every gated row would collide
    # into the same bucket in every band and be emitted as a mutual
    # duplicate. A NULL array yields no posexplode rows: gated rows are
    # excluded from near-dup candidates by construction.
    return df.withColumn(
        "band_hashes", F.when(F.col(sig_col).isNotNull(), bands)
    )


def explode_bands(df: DataFrame, id_col: str = "fid") -> DataFrame:
    """(band_id, band_hash, fid) rows — input to the LSH self-join."""
    return df.select(
        F.col(id_col),
        F.posexplode("band_hashes").alias("band_id", "band_hash"),
    )


def signature_agreement(sig_a, sig_b) -> "F.Column":
    """Estimated Jaccard = fraction of agreeing MinHash components —
    computed JVM-side with zip_with + aggregate (no UDF). Measured
    (700k synthetic 128-wide pairs, noop sink): this HOF form runs in
    ~1s; an unrolled 128-term comparison chain was 6× SLOWER — the
    generated method exceeds the codegen size limits and falls back to
    interpreted per-node evaluation of a 128-deep tree."""
    matches = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return matches.cast("double") / F.size(sig_a)
