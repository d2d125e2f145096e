"""Vectorized hashing primitives shared by the signature operators.

All numpy, all batch — these run inside Arrow-batched pandas UDFs
(BASELINE.json input_hint: "no per-row Python"; the per-document numpy
kernels below are the vectorized replacement for the reference's
per-file PIL/zlib calls, helpers.py:43-53, utils.py:21-32).

Scheme: 64-bit polynomial rolling hash over UTF-8 bytes for char
k-shingles (mod 2^64 via uint64 wraparound); MinHash signatures are
one-permutation hashing over those hashes (``oph_signatures``), and the
exact-Jaccard sets fold them to 31 bits.
"""

from __future__ import annotations

import numpy as np

_B = np.uint64(1099511628211)  # FNV-64 prime as the polynomial base


# modular inverse of the odd base mod 2^64: B * _B_INV ≡ 1, so window
# hashes can be recovered from prefix sums without per-window slices
_B_INV = np.uint64(pow(int(_B), -1, 1 << 64))

# power tables B^i / B^(-i), grown geometrically and sliced per call:
# the two multiplicative scans that built them per document were ~40%
# of the shingle kernel (they depend only on the document LENGTH, not
# its bytes — same values every call). Read-only after growth; worker
# processes each grow their own copy (no cross-task mutation hazard:
# growth replaces the module reference atomically and slices of the
# old array remain valid).
_PW = np.ones(1, dtype=np.uint64)
_IPW = np.ones(1, dtype=np.uint64)


def _powers(n: int) -> tuple[np.ndarray, np.ndarray]:
    global _PW, _IPW
    if len(_PW) < n + 1:
        size = max(n + 1, 2 * len(_PW))
        pw = np.ones(size, dtype=np.uint64)
        np.multiply.accumulate(np.full(size - 1, _B, dtype=np.uint64), out=pw[1:])
        ipw = np.ones(size, dtype=np.uint64)
        np.multiply.accumulate(
            np.full(size - 1, _B_INV, dtype=np.uint64), out=ipw[1:]
        )
        _PW, _IPW = pw, ipw
    return _PW, _IPW


def shingle_hashes_u64(text: str, k: int) -> np.ndarray:
    """All k-byte-shingle rolling hashes of ``text`` (with multiplicity),
    uint64. A text shorter than k yields one hash of the whole text so
    byte-identical short strings still collide.

    O(n) time and memory for ANY k (prefix-sum form of the polynomial
    hash): window i's hash sum_j b[i+j]·B^j equals
    (C[i+k] − C[i]) · B^(−i) with C the cumulative sum of b[j]·B^j —
    everything elementwise uint64 (mod 2^64; B odd ⇒ invertible). The
    earlier sliding_window_view formulation materialized an
    (n−k+1) × k matrix: fine for shingle-sized k, an O(n²)-byte
    allocation when the LCS binary search probes k ~ n/2 on large
    documents. Bit-identical output to the windowed form."""
    b = np.frombuffer(text.encode("utf-8", errors="surrogatepass"), dtype=np.uint8)
    n = len(b)
    if n == 0:
        return np.zeros(1, dtype=np.uint64)
    if n < k:
        k = n
    # pw[i] = B^i, ipw[i] = B^(-i) — sliced from the cached tables
    pw, ipw = _powers(n)
    c = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(b.astype(np.uint64) * pw[:n], out=c[1:])
    h = (c[k:] - c[: n - k + 1]) * ipw[: n - k + 1]
    # avalanche (xorshift-multiply) so low-entropy inputs spread
    h ^= h >> np.uint64(33)
    h *= np.uint64(0xFF51AFD7ED558CCD)
    h ^= h >> np.uint64(33)
    return h


def shingle_set_u32(text: str, k: int) -> np.ndarray:
    """Distinct shingle hashes folded into [0, 2^31): the set the exact
    Jaccard verify (``jaccard_of_sets``) intersects."""
    h = shingle_hashes_u64(text, k)
    folded = (h ^ (h >> np.uint64(31))) & np.uint64(0x7FFFFFFF)
    return np.unique(folded)


def oph_signature(shingle_hashes_u64: np.ndarray, num_perm: int) -> np.ndarray:
    """One-Permutation-Hashing MinHash with rotation densification
    (Shrivastava & Li, ICML'14 "Densifying One Permutation Hashing via
    Rotation"): one pass over the shingles — each hash is routed to
    bin h mod P and the bin keeps its minimum — instead of P passes.
    O(m) vs the classic O(P·m): at P=128 this removes ~99% of the
    signature stage's FLOPs and memory traffic, which is what the
    whole pipeline's scaling is bound by.

    Empty bins (rare for m ≫ P) borrow the value of the nearest
    filled bin to the right (cyclic) plus an offset, so identical
    shingle sets still produce identical signatures and collision
    probabilities stay unbiased."""
    h = shingle_hashes_u64
    bins = (h % np.uint64(num_perm)).astype(np.int64)
    vals = ((h >> np.uint64(33)) & np.uint64(0x7FFFFFFF)).astype(np.uint64)
    maxv = np.uint64(0xFFFFFFFFFFFFFFFF)
    sig = np.full(num_perm, maxv, dtype=np.uint64)
    np.minimum.at(sig, bins, vals)
    empty = sig == maxv
    if empty.any():
        if empty.all():
            return np.zeros(num_perm, dtype=np.int64)
        idx = np.arange(num_perm)
        for shift in range(1, num_perm):
            src = sig[(idx + shift) % num_perm]
            fill = empty & (src != maxv)
            if fill.any():
                sig[fill] = src[fill] + np.uint64(shift)
                empty = sig == maxv
            if not empty.any():
                break
    return sig.astype(np.int64)


def oph_signatures(
    texts, k: int, num_perm: int, max_size: int | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """The MinHash kernel of every signing path: texts → (an (N,
    num_perm) int64 signature matrix, an N-long ok mask). A NULL text,
    or one longer than ``max_size`` characters (F6 hash-cost gate), is
    not signed: its row stays zero and ``ok`` is False, so callers emit
    NULL and the row never enters an LSH bucket. No ``np.unique``
    before signing: OPH's per-bin min is multiplicity-insensitive."""
    n = len(texts)
    sigs = np.zeros((n, num_perm), dtype=np.int64)
    ok = np.zeros(n, dtype=bool)
    for i, text in enumerate(texts):
        if text is None or (max_size is not None and len(text) > max_size):
            continue
        sigs[i] = oph_signature(shingle_hashes_u64(text, k), num_perm)
        ok[i] = True
    return sigs, ok


_XXH_P1 = np.uint64(0x9E3779B185EBCA87)
_XXH_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XXH_P3 = np.uint64(0x165667B19E3779F9)
_XXH_P4 = np.uint64(0x85EBCA77C2B2AE63)
_XXH_P5 = np.uint64(0x27D4EB2F165667C5)


def _xxh_rotl(x: np.ndarray, r: int) -> np.ndarray:
    rr = np.uint64(r)
    return (x << rr) | (x >> (np.uint64(64) - rr))


def xxh64_long(x: np.ndarray, seed) -> np.ndarray:
    """Vectorized xxHash64 of a single long, bit-identical to Spark's
    ``xxhash64`` on a LongType column (catalyst XXH64.hashLong):
    Spark hashes multiple arguments by folding — each argument's hash
    seeds the next — so chaining this per argument reproduces
    ``xxhash64(c1, …, cn)`` exactly (validated against the JVM in
    tests). Everything wraps mod 2^64 via numpy uint64."""
    h = seed + _XXH_P5 + np.uint64(8)
    h = h ^ (_xxh_rotl(x * _XXH_P2, 31) * _XXH_P1)
    h = _xxh_rotl(h, 27) * _XXH_P1 + _XXH_P4
    h ^= h >> np.uint64(33)
    h *= _XXH_P2
    h ^= h >> np.uint64(29)
    h *= _XXH_P3
    h ^= h >> np.uint64(32)
    return h


def band_hashes_from_sigs(sigs: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """LSH band hashes for a (N, bands·rows) signature matrix:
    band b = xxhash64(sig[b·r], …, sig[b·r+r-1]) with Spark's default
    seed 42 — bit-identical to the JVM banding expression
    (minhash.with_band_hashes), so signatures can be banded inside the
    Arrow UDF and only B longs per row cross back to the JVM instead
    of the full num_perm-wide signature."""
    n = sigs.shape[0]
    s = sigs.astype(np.uint64, copy=False)
    out = np.empty((n, bands), dtype=np.uint64)
    for b in range(bands):
        h = np.full(n, 42, dtype=np.uint64)
        for j in range(rows):
            h = xxh64_long(s[:, b * rows + j], h)
        out[:, b] = h
    return out.astype(np.int64)


def simhash64(shingle_hashes: np.ndarray, chunk: int = 1 << 16) -> int:
    """64-bit SimHash over (multiplicity-weighted) shingle hashes —
    the analog of the reference's 64-bit average_hash (helpers.py:44-53).
    Returned as a signed int64 (Spark LongType). The (m × 64) bit
    matrix is accumulated in ``chunk``-row blocks (≤ 32 MB transient):
    a multi-MB document has millions of shingles, and one shot would
    materialize GBs inside the Arrow batch."""
    m = len(shingle_hashes)
    if m == 0:
        return 0
    shifts = np.arange(64, dtype=np.uint64)[None, :]
    ones = np.zeros(64, dtype=np.int64)
    for lo in range(0, m, chunk):
        blk = shingle_hashes[lo : lo + chunk]
        ones += ((blk[:, None] >> shifts) & np.uint64(1)).sum(
            axis=0, dtype=np.int64
        )
    votes = 2 * ones - m
    h = np.uint64(0)
    for i in range(64):
        if votes[i] > 0:
            h |= np.uint64(1) << np.uint64(i)
    return int(h.astype(np.int64))


def winnow_fingerprints(text: str, k: int, window: int) -> np.ndarray:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    'Winnowing: Local Algorithms for Document Fingerprinting',
    SIGMOD'03): min k-gram hash per sliding window of ``window``
    consecutive positions, deduplicated. Guarantee: any shared
    substring of length ≥ window + k - 1 yields a shared fingerprint —
    the scalable substitute for the reference-survey's suffix-array
    substring mode (SURVEY §2.11.4)."""
    h = shingle_hashes_u64(text, k)
    if len(h) <= window:
        return np.unique(h).astype(np.int64)
    win = np.lib.stride_tricks.sliding_window_view(h, window)
    mins = win.min(axis=1)
    return np.unique(mins).astype(np.int64)


def longest_common_substring_len(a: str, b: str) -> int:
    """Length of the longest common substring (byte-level), via binary
    search over rolling-hash k-gram sets: a common substring of length
    L implies a shared L-gram hash. O((n+m)·log min(n,m)) with the
    vectorized rolling hash — the pair-level verifier for the
    substring candidate mode (winnowing guarantees candidate recall;
    this confirms the actual shared-block length). 64-bit hashes make
    false positives negligible at these sizes."""
    ba = a.encode("utf-8", errors="surrogatepass")
    bb = b.encode("utf-8", errors="surrogatepass")
    lo, hi = 0, min(len(ba), len(bb))

    def shares_kgram(k: int) -> bool:
        ha = shingle_hashes_u64(a, k)
        hb = shingle_hashes_u64(b, k)
        return bool(np.intersect1d(ha, hb).size)

    while lo < hi:
        mid = (lo + hi + 1) // 2
        if shares_kgram(mid):
            lo = mid
        else:
            hi = mid - 1
    return lo


def jaccard_of_sets(sa: np.ndarray, sb: np.ndarray) -> float:
    """Exact Jaccard of two pre-computed distinct-shingle sets (sorted
    unique arrays from ``shingle_set_u32``)."""
    if len(sa) == 0 and len(sb) == 0:
        return 1.0
    inter = np.intersect1d(sa, sb, assume_unique=True).size
    union = sa.size + sb.size - inter
    return float(inter) / float(union) if union else 1.0


def jaccard_of_texts(a: str, b: str, k: int) -> float:
    """Exact shingle-set Jaccard — the verification oracle (V8)."""
    return jaccard_of_sets(shingle_set_u32(a, k), shingle_set_u32(b, k))
