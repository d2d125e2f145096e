"""SimHash mode (SURVEY §2.5 V4 analog).

The reference's perceptual aHash is a 64-bit signature compared by
Hamming distance (helpers.py:44-53, deduplidog.py:758-760:
``abs(h0-h1) <= accepted_img_hash_diff``). The text analog is Charikar
SimHash over char-shingle hashes: near-identical content differs in few
bits.

Candidate generation is bit-sampling LSH by the pigeonhole principle:
split the 64 bits into q = max_hamming + 1 chunks; two signatures
within Hamming distance ≤ max_hamming must agree exactly on at least
one chunk — so an equi-join on (chunk_id, chunk_value) has recall 1.0
for the distance bound, no cross join. Verification is
``bit_count(a ^ b) <= max_hamming``, a built-in (JVM, codegen).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from deduplidog_spark.config import DedupConfig
from deduplidog_spark.functions import hashing as H


def make_simhash_udf(cfg: DedupConfig):
    k = cfg.shingle_k
    max_size = cfg.hash_max_size

    @pandas_udf(T.LongType())
    def simhash_sig(content: pd.Series) -> pd.Series:
        out = []
        for text in content:
            if text is None or (max_size is not None and len(text) > max_size):
                out.append(None)
                continue
            out.append(H.simhash64(H.shingle_hashes_u64(text, k)))
        return pd.Series(out, dtype="object")

    return simhash_sig


def with_simhash(files: DataFrame, cfg: DedupConfig) -> DataFrame:
    from deduplidog_spark.ingest import widen_small_scan

    return widen_small_scan(files).withColumn(
        "simhash", make_simhash_udf(cfg)(F.col("content"))
    )


def hamming_chunks(col, max_hamming: int):
    """q = max_hamming+1 equal bit chunks of a 64-bit signature
    (pigeonhole: two values within Hamming distance ``max_hamming``
    agree exactly on at least one chunk — equi-joining any chunk has
    recall 1.0 for the radius). One kernel for the text-simhash and
    media-phash paths. JVM longs are signed, so the all-ones mask for
    the q=1 (exact match) case is -1, not 2^64-1 — a raw
    ``F.lit(2**64 - 1)`` overflows at plan build."""
    if not 0 <= max_hamming < 64:
        raise ValueError(f"max_hamming={max_hamming} must be in [0, 64)")
    q = max_hamming + 1
    width = 64 // q
    mask = (1 << width) - 1
    if mask >= 1 << 63:
        mask -= 1 << 64  # two's-complement view of the 64-bit all-ones
    return F.array(
        *[
            F.shiftrightunsigned(col, i * width).bitwiseAND(F.lit(mask))
            for i in range(q)
        ]
    )


def hamming_band_exprs(col, max_hamming: int):
    """Band-value array for the symmetric (grouped-bucket) Hamming LSH
    join, recall 1.0 at the radius with a NON-degenerate key space:

    - radius ≤ 3: q = max_hamming+1 single chunks (width ≥ 16 bits) —
      the plain pigeonhole split;
    - 4 ≤ radius ≤ 8: q = max_hamming+1 single chunks would shrink to
      ≤ 12 bits (the media-path round-3 failure mode: at radius 8 the
      key space collapses to 9 × 2^7 values and every bucket goes
      corpus-sized). Instead AND-amplify: split into q narrower chunks
      and band on every r-combination (r = q − max_hamming ≥ 2,
      packed into one long per combination). Two signatures within the
      radius differ in ≤ max_hamming chunks, so they AGREE on
      ≥ q − max_hamming ≥ r chunks and share at least one whole
      r-combination — pigeonhole recall 1.0 with r·width ≥ 12 key
      bits per band and C(q, r) ≤ 45 band rows per doc. This is the
      symmetric fix; the media path uses asymmetric multi-probe
      instead because its two sides are built independently, while
      this path's bands feed the shared bucket self-join
      (candidates.lsh_candidate_pairs), which has no probe side.
    - radius > 8: falls back to single chunks — combination width
      degrades below usefulness there too, and radii that wide on a
      64-bit simhash are near-meaningless; the bucket cap remains the
      (lossy, logged) guard.

    Positions in the returned array are the band ids, so the exprs
    drop into the existing (band_id, band_hash) machinery unchanged."""
    if not 4 <= max_hamming <= 8:
        return hamming_chunks(col, max_hamming)
    from itertools import combinations
    from math import comb

    for q in range(max_hamming + 2, 17):
        r = q - max_hamming
        width = 64 // q
        if r >= 2 and r * width >= 12 and comb(q, r) <= 64:
            break
    mask = (1 << width) - 1
    chunk = [
        F.shiftrightunsigned(col, i * width).bitwiseAND(F.lit(mask))
        for i in range(q)
    ]
    bands = [
        # pack the combination's chunk values into one long:
        # r·width ≤ 20 bits, always positive
        sum(
            (F.shiftleft(chunk[c], pos * width) for pos, c in enumerate(combo[1:], 1)),
            chunk[combo[0]],
        )
        for combo in combinations(range(q), r)
    ]
    return F.array(*bands)


def with_simhash_chunks(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Split the 64-bit signature into recall-1.0 band keys
    (hamming_band_exprs: plain chunks ≤ radius 3, r-combination
    AND-amplification for radius 4-8; JVM-side shifts/masks)."""
    chunks = hamming_band_exprs(F.col("simhash"), cfg.simhash_max_hamming)
    # gated rows (simhash NULL) must yield NO band rows, not an array of
    # NULL chunk values — NULL chunk rows never equi-join but still pay
    # the explode + bucket-count shuffle; see minhash.with_band_hashes
    return df.withColumn(
        "band_hashes", F.when(F.col("simhash").isNotNull(), chunks)
    )


def hamming_distance(a, b) -> "F.Column":
    return F.bit_count(a.bitwiseXOR(b))


def hamming_filter(pairs: DataFrame, slim: DataFrame, cfg: DedupConfig) -> DataFrame:
    """V4 verify: keep candidate pairs whose simhashes are within
    ``cfg.simhash_max_hamming``. Shared by the full pipeline and the
    incremental append path so the verify semantics cannot diverge."""
    ha = slim.select(F.col("fid").alias("id_a"), F.col("simhash").alias("sh_a"))
    hb = slim.select(F.col("fid").alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        pairs.join(ha, "id_a")
        .join(hb, "id_b")
        .filter(
            hamming_distance(F.col("sh_a"), F.col("sh_b"))
            <= cfg.simhash_max_hamming
        )
        .select("id_a", "id_b")
    )
