"""End-to-end pipeline tests: exact mode, minhash/simhash/substring
modes on Corpus B (the disk-tree media goldens, FIXTURES.md §2), the
sha256 content invariant, and recall vs brute force on Corpus C."""

import itertools

import pytest
from pyspark.sql import functions as F

from deduplidog_spark import DedupConfig
from deduplidog_spark import fixtures as FX
from deduplidog_spark.functions import hashing as H
from deduplidog_spark.pipeline import dedupe


@pytest.fixture(scope="module")
def corpus_b(spark):
    return FX.to_spark_df(spark, FX.corpus_b_rows()).cache()


def _cluster_sets(res):
    comp = {}
    for r in res.clusters.select("fid", "component").collect():
        comp.setdefault(r.component, set()).add(r.fid)
    return {frozenset(v) for v in comp.values() if len(v) > 1}


def _co_clustered_pairs(res):
    pairs = set()
    for members in _cluster_sets(res):
        for a, b in itertools.combinations(sorted(members), 2):
            pairs.add((a, b))
    return pairs


def test_exact_mode_corpus_b(corpus_b):
    res = dedupe(corpus_b, DedupConfig(mode="exact"))
    sets = _cluster_sets(res)
    assert (
        frozenset(
            {"folder1/1.txt", "folder2/1-different-name.txt", "folder2/folder2.1/1.txt"}
        )
        in sets
    )
    assert frozenset({"folder1/2.txt", "folder2/2.txt"}) in sets
    assert frozenset({"folder2/dog1.jpg", "folder2/dog1_other_name.jpg"}) in sets
    # symlink row and unique content never clustered
    flat = set().union(*sets)
    assert "folder2/symlinkable.txt" not in flat
    assert "folder1/unique.txt" not in flat


def test_sha_invariant(corpus_b):
    """input_hint invariant: the pipeline never mutates content —
    sha2(content,256) multiset is identical pre/post ingest."""
    res = dedupe(corpus_b, DedupConfig(mode="exact", skip_empty=False))
    pre = sorted(
        r[0]
        for r in corpus_b.filter(~F.col("is_symlink"))
        .select(F.sha2("content", 256))
        .collect()
    )
    post = sorted(r.sha for r in res.files.select("sha").collect())
    assert pre == post


def test_minhash_mode_corpus_b_standard_threshold(corpus_b):
    """tests/test_media_magic.py:11-20 analog: dog1 resized copy and
    dog2 video pair found; the weaker dog2_smaller pair is NOT found at
    the standard threshold."""
    cfg = DedupConfig(
        mode="minhash",
        jaccard_threshold=0.5,
        sig_est_threshold=0.35,
        size_ratio_prefilter=0.4,
    )
    pairs = _co_clustered_pairs(dedupe(corpus_b, cfg))
    assert ("folder1/dog1.jpg", "folder2/dog1.jpg") in pairs
    assert ("folder1/dog2.mp4", "folder2/folder2.1/dog2.mp4") in pairs
    # ignore_name comes free: other_name exact-dup still ties in
    assert ("folder1/dog1.jpg", "folder2/dog1_other_name.jpg") in pairs
    assert ("folder1/dog2_smaller.jpg", "folder2/folder2.1/dog2.jpg") not in pairs


def test_minhash_mode_corpus_b_loose_threshold(corpus_b):
    """accepted_img_hash_diff=3 analog (tests/test_media_magic.py:22-34):
    at a looser threshold the dog2_smaller pair appears too."""
    cfg = DedupConfig(
        mode="minhash",
        jaccard_threshold=0.3,
        sig_est_threshold=0.15,
        lsh_bands=64,  # r=2 → S-curve threshold ≈ 0.125
        size_ratio_prefilter=0.3,
    )
    pairs = _co_clustered_pairs(dedupe(corpus_b, cfg))
    assert ("folder1/dog2_smaller.jpg", "folder2/folder2.1/dog2.jpg") in pairs
    assert ("folder1/dog1.jpg", "folder2/dog1.jpg") in pairs


def test_simhash_mode_corpus_b(corpus_b):
    cfg = DedupConfig(
        mode="simhash",
        simhash_max_hamming=14,
        jaccard_threshold=0.4,
        size_ratio_prefilter=0.4,
    )
    pairs = _co_clustered_pairs(dedupe(corpus_b, cfg))
    assert ("folder1/dog1.jpg", "folder2/dog1.jpg") in pairs


def test_substring_mode_finds_shared_blocks(spark):
    """Files sharing a long common block pair up even at low global
    Jaccard (the suffix-array mode's semantics)."""
    block = " ".join(FX.token_stream(777, 120))
    rows = [
        dict(
            repo="r1",
            path="a.py",
            commit="c0",
            lang="py",
            content=" ".join(FX.token_stream(1, 200)) + " " + block,
            mtime=FX.T0,
            is_symlink=False,
        ),
        dict(
            repo="r2",
            path="b.py",
            commit="c0",
            lang="py",
            content=block + " " + " ".join(FX.token_stream(2, 200)),
            mtime=FX.T0,
            is_symlink=False,
        ),
        dict(
            repo="r3",
            path="c.py",
            commit="c0",
            lang="py",
            content=" ".join(FX.token_stream(3, 300)),
            mtime=FX.T0,
            is_symlink=False,
        ),
    ]
    df = FX.to_spark_df(spark, rows)
    cfg = DedupConfig(
        mode="substring",
        jaccard_threshold=0.2,
        size_ratio_prefilter=0.2,
    )
    pairs = _co_clustered_pairs(dedupe(df, cfg))
    assert ("r1/a.py", "r2/b.py") in pairs
    assert not any("r3/c.py" in p for pair in pairs for p in pair)


def test_exact_dup_groups_member_cap(spark):
    """The display members list is capped pre-collect (skew guard);
    n_files still counts all members."""
    from deduplidog_spark.ingest import ingest
    from deduplidog_spark.operators.exact import exact_dup_groups

    rows = [
        dict(repo=f"r{i}", path="same.txt", commit="c0", lang="txt",
             content="identical", mtime=FX.T0, is_symlink=False)
        for i in range(5)
    ]
    files = ingest(FX.to_spark_df(spark, rows), DedupConfig())
    out = exact_dup_groups(files, member_cap=3).collect()
    assert len(out) == 1
    assert out[0].n_files == 5
    assert out[0].members == ["r0/same.txt", "r1/same.txt", "r2/same.txt"]


def test_hash_gate_rows_never_become_candidates(spark):
    """F6 hash-cost gate: rows above hash_max_size get NULL signatures
    and must be EXCLUDED from LSH — not collide into one NULL-hash
    bucket as mutual 'duplicates' (regression: xxhash64(NULL,…) is a
    constant)."""
    big = " ".join(FX.token_stream(50, 3000))
    rows = []
    for i in range(4):  # 4 big files, all DIFFERENT content
        rows.append(
            dict(repo=f"r{i}", path="big.py", commit="c0", lang="py",
                 content=big + f" tail{i} " + " ".join(FX.token_stream(100 + i, 2500)),
                 mtime=FX.T0, is_symlink=False)
        )
    near = " ".join(FX.token_stream(9, 120))
    rows.append(dict(repo="s1", path="near.py", commit="c0", lang="py",
                     content=near, mtime=FX.T0, is_symlink=False))
    rows.append(dict(repo="s2", path="near.py", commit="c0", lang="py",
                     content=near + " x", mtime=FX.T0, is_symlink=False))
    df = FX.to_spark_df(spark, rows)
    cfg = DedupConfig(
        mode="minhash", hash_max_size=5000,
        jaccard_threshold=0.5, sig_est_threshold=0.3,
        exact_verify=False,  # the gate must hold WITHOUT the verify net
    )
    pairs = _co_clustered_pairs(dedupe(df, cfg))
    assert ("s1/near.py", "s2/near.py") in pairs
    assert not any("big.py" in p for pair in pairs for p in pair), pairs


def test_corpus_c_recall_vs_brute_force(spark):
    """North-rule headline: dup-pair recall ≥ 0.99 vs the brute-force
    ground truth at identical shingle config (k=5, τ=0.7)."""
    rows, _ = FX.corpus_c_rows(n_repos=4, files_per_repo=25, seed=7)
    tau = 0.7
    # brute-force oracle over all pairs (python, exact jaccard)
    fids = [f"{r['repo']}/{r['path']}" for r in rows]
    contents = [r["content"] for r in rows]
    shingles = [H.shingle_set_u32(c, 5) for c in contents]
    import numpy as np

    truth = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            si, sj = shingles[i], shingles[j]
            inter = np.intersect1d(si, sj, assume_unique=True).size
            union = si.size + sj.size - inter
            if union and inter / union >= tau:
                truth.add(tuple(sorted((fids[i], fids[j]))))
    assert truth, "fixture must plant true pairs"

    df = FX.to_spark_df(spark, rows)
    cfg = DedupConfig(mode="minhash", jaccard_threshold=tau, sig_est_threshold=0.5)
    found = _co_clustered_pairs(dedupe(df, cfg))
    recall = len(truth & found) / len(truth)
    assert recall >= 0.99, f"recall {recall:.3f} over {len(truth)} true pairs"


def test_corpus_c_rows_same_in_every_process():
    """Corpus C is a function of its seed alone: two interpreters with
    different string-hash salts (PYTHONHASHSEED) build identical rows."""
    import os
    import subprocess
    import sys

    script = (
        "import hashlib\n"
        "from deduplidog_spark import fixtures as FX\n"
        "rows, _ = FX.corpus_c_rows(seed=3)\n"
        "print(hashlib.sha256(repr([sorted(r.items()) for r in rows]).encode()).hexdigest())\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    digests = {
        subprocess.run(
            [sys.executable, "-c", script], cwd=root, check=True, text=True,
            capture_output=True, env={**os.environ, "PYTHONHASHSEED": salt},
        ).stdout
        for salt in ("1", "2")
    }
    assert len(digests) == 1


def test_banded_ingest_scan_matches_jvm_path(spark):
    """The fused mapInPandas scan (ingest stats + signatures + banding
    in Python) must be row-identical to the reference chain — JVM
    ingest, the signature UDF and JVM banding — on every column,
    including the quarantine (NULL content) and F6 hash-cost-gate
    rows."""
    from pyspark.sql import functions as F

    from deduplidog_spark.ingest import ingest
    from deduplidog_spark.operators import minhash as mh

    rows = [
        ("r1", "src/a.py", "c0", "py", "def foo(): return 1\n" * 6, None, False),
        ("r1", "src/b (2).PY", "c0", "py", "x" * 30 + "\n", None, False),
        ("r2", "noext", "c0", "py", "line1\nline2", None, False),
        ("r2", "bad.py", "c0", "py", None, None, False),          # quarantine
        ("r2", "big.py", "c0", "py", "y" * 500, None, False),     # F6 gate
        ("r2", "link.py", "c0", "py", "zzz", None, True),         # symlink filter
        ("r3", "sub/dir/c.tar.gz", "c0", "py", "payload data\n\n", None, False),
    ]
    raw = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, "
        "content string, mtime timestamp, is_symlink boolean",
    )
    cfg = DedupConfig(mode="minhash", shingle_k=5, hash_max_size=200)
    jvm = mh.with_band_hashes(mh.with_signatures(ingest(raw, cfg), cfg), cfg).drop(
        "content", "sig"
    )
    fast = mh.banded_ingest_scan(raw, cfg)
    cols = sorted(jvm.columns)
    assert sorted(fast.columns) == cols

    def rowset(df):
        return {
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*cols).collect()
        }

    assert rowset(jvm) == rowset(fast)
