"""Pure-numpy unit tests for the signature kernels (no Spark)."""

import numpy as np

from deduplidog_spark.functions import hashing as H


def test_shingle_hashes_deterministic_and_positional():
    a = H.shingle_hashes_u64("hello world", 5)
    b = H.shingle_hashes_u64("hello world", 5)
    assert np.array_equal(a, b)
    assert len(a) == len("hello world") - 4


def test_short_text_still_hashes():
    assert len(H.shingle_hashes_u64("ab", 5)) == 1
    assert len(H.shingle_hashes_u64("", 5)) == 1
    # identical short strings collide, different ones don't
    assert H.shingle_hashes_u64("ab", 5)[0] == H.shingle_hashes_u64("ab", 5)[0]
    assert H.shingle_hashes_u64("ab", 5)[0] != H.shingle_hashes_u64("ac", 5)[0]


def test_jaccard_identity_and_disjoint():
    assert H.jaccard_of_texts("abcdefgh", "abcdefgh", 5) == 1.0
    assert H.jaccard_of_texts("aaaaaaaa", "zzzzzzzz", 5) == 0.0


def test_oph_estimates_jaccard():
    """The one MinHash kernel (OPH, ``oph_signatures``): the fraction
    of agreeing bins estimates shingle Jaccard, and NULL or over-size
    texts are not signed."""
    for seed in (1, 2, 3, 7, 11):
        rng = np.random.RandomState(seed)
        words = ["tok%d" % i for i in range(500)]
        base = " ".join(rng.choice(words, 300))
        # variant sharing most content
        var = base[: int(len(base) * 0.8)] + " " + " ".join(rng.choice(words, 60))
        true_j = H.jaccard_of_texts(base, var, 5)
        sigs, ok = H.oph_signatures([base, var], 5, 128)
        assert ok.all()
        est = float(np.mean(sigs[0] == sigs[1]))
        assert abs(est - true_j) < 0.12  # 128 bins → σ ≈ sqrt(j(1-j)/128) ≈ 0.04
    sigs, ok = H.oph_signatures([None, "x" * 50, "y" * 10], 5, 64, max_size=20)
    assert ok.tolist() == [False, False, True]
    assert not sigs[:2].any()
    assert np.array_equal(sigs[2], H.oph_signature(H.shingle_hashes_u64("y" * 10, 5), 64))


def test_simhash_near_texts_low_hamming():
    base = "def f(x):\n    return x + 1\n" * 40
    near = base.replace("x + 1", "x + 2", 3)
    far = "completely unrelated content with different words entirely" * 20
    h0 = H.simhash64(H.shingle_hashes_u64(base, 5))
    h1 = H.simhash64(H.shingle_hashes_u64(near, 5))
    h2 = H.simhash64(H.shingle_hashes_u64(far, 5))
    d_near = bin((h0 ^ h1) & 0xFFFFFFFFFFFFFFFF).count("1")
    d_far = bin((h0 ^ h2) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert d_near <= 6
    assert d_far > 10


def test_winnowing_shared_substring_guarantee():
    """Any shared substring of length >= window + k - 1 yields a shared
    fingerprint (Schleimer et al. guarantee)."""
    k, w = 8, 16
    block = "SHARED-BLOCK-" * 10  # 130 chars >> w + k - 1
    a = "prefix-a-" * 20 + block + "suffix-a-" * 20
    b = "other-b-" * 25 + block + "tail-b-" * 15
    fa = set(H.winnow_fingerprints(a, k, w).tolist())
    fb = set(H.winnow_fingerprints(b, k, w).tolist())
    assert fa & fb
    c = "no overlap at all here " * 30
    fc = set(H.winnow_fingerprints(c, k, w).tolist())
    assert not (fa & fc)


# ---- property-based checks (hypothesis) ----------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_texty = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), min_size=0, max_size=60
)


@settings(max_examples=60, deadline=None)
@given(prefix=_texty, suffix_a=_texty, suffix_b=_texty, data=st.data())
def test_winnowing_guarantee_property(prefix, suffix_a, suffix_b, data):
    """Property form of the Schleimer guarantee at the exact boundary:
    ANY shared substring of length == window + k - 1 yields a shared
    fingerprint, whatever surrounds it."""
    k, w = 5, 4
    block = data.draw(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=w + k - 1,
            max_size=w + k - 1,
        )
    )
    a = prefix + block + suffix_a
    b = suffix_b + block + prefix
    fa = set(H.winnow_fingerprints(a, k, w).tolist())
    fb = set(H.winnow_fingerprints(b, k, w).tolist())
    assert fa & fb


def _lcs_brute(a: str, b: str) -> int:
    ba, bb = a.encode(), b.encode()
    best = 0
    for i in range(len(ba)):
        for j in range(len(bb)):
            n = 0
            while i + n < len(ba) and j + n < len(bb) and ba[i + n] == bb[j + n]:
                n += 1
            best = max(best, n)
    return best


@settings(max_examples=80, deadline=None)
@given(
    a=st.text(alphabet="abcd", min_size=0, max_size=40),
    b=st.text(alphabet="abcd", min_size=0, max_size=40),
)
def test_lcs_binary_search_matches_bruteforce(a, b):
    """The rolling-hash binary-search LCS equals the O(n*m) definition
    on adversarially small alphabets (maximum collision pressure)."""
    assert H.longest_common_substring_len(a, b) == _lcs_brute(a, b)


# ---- DuckDB SQL replicas of the kernels (oracle foundations) -------------
# The contract oracles replay these kernels in HUGEINT SQL
# (__spark_entry__._u64_hash_cte and friends); these properties pin the
# replicas to the numpy kernels on arbitrary ASCII inputs, not just the
# contract corpus.


@settings(max_examples=25, deadline=None)
@given(
    text=st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        min_size=1,
        max_size=120,
    ),
    k=st.sampled_from([5, 9, 16]),
)
def test_sql_u64_hash_replica_matches_kernel(text, k):
    import duckdb

    import __spark_entry__ as e

    if len(text) < k:
        text = text + "x" * (k - len(text))
    sql = (
        f"WITH d AS (SELECT 'p' AS path, ? AS text), {e._u64_hash_cte(k)} "
        "SELECT h FROM h3"
    )
    (h_list,) = duckdb.execute(sql, [text]).fetchone()
    got = np.array([int(x) for x in h_list], dtype=np.uint64)
    assert np.array_equal(got, H.shingle_hashes_u64(text, k))


def test_sql_winnow_and_simhash_profiles_match_kernels():
    import duckdb

    import __spark_entry__ as e

    texts = [
        "def main():\n    return 42\n# quick brown fox 0123456789" * 4,
        "a" * 40,
        "x" * 32,
        "short but ok, padded to length thirty-two!!",
        "".join(chr(32 + (i * 7) % 95) for i in range(500)),
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    for i, t in enumerate(texts):
        con.execute("INSERT INTO documents VALUES (?, ?)", [i, t])
    got_w = {r[0]: r[1:] for r in con.execute(e._winnow_oracle_sql(32, 16)).fetchall()}
    for i, t in enumerate(texts):
        fps = H.winnow_fingerprints(t, 32, 16)
        assert got_w[f"doc_{i}"] == (len(fps), int(fps.min()), int(fps.max()))
    got_s = {r[0]: r[1] for r in con.execute(e._simhash_oracle_sql(5)).fetchall()}
    for i, t in enumerate(texts):
        assert got_s[f"doc_{i}"] == H.simhash64(H.shingle_hashes_u64(t, 5))


def _lev_reference(a: str, b: str) -> int:
    """Textbook O(len(a)·len(b)) Wagner-Fischer, per-cell Python."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


@settings(max_examples=150, deadline=None)
@given(a=_texty, b=_texty)
def test_vectorized_levenshtein_matches_reference(a, b):
    """The numpy scan-trick Levenshtein (verify._lev, used by
    edit_ratio) is EXACT: equal to Wagner-Fischer on arbitrary inputs,
    including the prefix/suffix-trim and empty-side fast paths."""
    from deduplidog_spark.operators.verify import _lev

    assert _lev(a, b) == _lev_reference(a, b)


@settings(max_examples=40, deadline=None)
@given(core=_texty, edit=_texty, data=st.data())
def test_vectorized_levenshtein_shared_affixes(core, edit, data):
    """Adversarial for the trim fast path: long shared prefix+suffix
    around a small edited middle (the near-dup shape edit_ratio is
    optimized for)."""
    from deduplidog_spark.operators.verify import _lev

    pre = data.draw(_texty)
    suf = data.draw(_texty)
    a = pre + core + suf
    b = pre + edit + suf
    assert _lev(a, b) == _lev_reference(a, b)


def test_numpy_band_hashes_match_jvm_xxhash64(spark):
    """The numpy banding kernel (hashing.band_hashes_from_sigs, used by
    the fused scan) must be bit-identical to the JVM ``xxhash64``
    banding: it replays catalyst XXH64.hashLong folding with seed 42,
    including negative signature values. The JVM path leaves a
    NULL-content row without bands."""
    from pyspark.sql import functions as F

    from deduplidog_spark.config import DedupConfig
    from deduplidog_spark.operators import minhash as mh

    rng = np.random.RandomState(11)
    sig = rng.randint(-(2**63), 2**63, size=(64, 128)).astype(np.int64)
    r, bands = 4, 32
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"sig": [row for row in sig]}))
    jvm = np.array(
        df.select(
            F.array(
                *[
                    F.xxhash64(
                        *[F.element_at(F.col("sig"), b * r + i + 1) for i in range(r)]
                    )
                    for b in range(bands)
                ]
            ).alias("b")
        )
        .toPandas()["b"]
        .tolist()
    )
    assert np.array_equal(jvm, H.band_hashes_from_sigs(sig, bands, r))

    # the JVM path on real text: the NULL-content row gets no bands
    rows = [("a", "def foo(): return 1 " * 8), ("b", None), ("c", "x" * 40)]
    files = spark.createDataFrame(rows, "fid string, content string")
    cfg = DedupConfig(mode="minhash", shingle_k=5)
    two_step = {
        r["fid"]: r["band_hashes"]
        for r in mh.with_band_hashes(mh.with_signatures(files, cfg), cfg)
        .select("fid", "band_hashes")
        .collect()
    }
    assert two_step["b"] is None
    assert two_step["a"] is not None and two_step["c"] is not None
