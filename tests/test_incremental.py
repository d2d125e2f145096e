"""Incremental batch-append dedup (deduplidog_spark/incremental.py).

The headline assertion: incrementally appending a batch to a
checkpointed base run yields EXACTLY the labels a full recompute over
base ∪ batch produces — including the hard case where one batch doc
bridges (merges) two previously separate base components.
"""

import tempfile
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from deduplidog_spark.config import DedupConfig
from deduplidog_spark.incremental import (
    append_state_delta,
    incremental_dedupe,
    load_state,
    load_state_delta,
    write_state_delta,
)
from deduplidog_spark.pipeline import dedupe

T0 = datetime(2024, 1, 1)
SCHEMA = (
    "repo string, path string, commit string, lang string, "
    "content string, mtime timestamp"
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(r, p, "c0", "py", c, T0) for r, p, c in rows], SCHEMA
    )


def _words(prefix, n):
    # letters-only ids: digit suffixes would create cross-vocabulary
    # char-shingle overlap ("a001 b" ≈ "x001 y") and false similarity
    return " ".join(
        f"{prefix}{chr(97 + i % 26)}{chr(97 + (i // 26) % 26)}" for i in range(n)
    )


def _cfg(tmp, **kw):
    base = dict(
        mode="minhash",
        num_perm=128,
        lsh_bands=64,
        jaccard_threshold=0.25,
        sig_est_threshold=0.05,
        size_ratio_prefilter=0.4,
        checkpoint_dir=tmp,
    )
    base.update(kw)
    return DedupConfig(**base)


A = _words("alpha", 40)
B = _words("beta", 40)
C = _words("gamma", 40)
BASE_ROWS = [
    ("base", "a1.py", A),
    ("base", "a2.py", A + " alphatailxx alphatailyy"),  # near-dup of a1
    ("base", "b1.py", B),
    ("base", "b2.py", B + " betatailxx betatailyy"),  # near-dup of b1
    ("base", "c1.py", C),  # unclustered singleton
    ("base", "d1.py", "zeta " * 30),
    ("base", "d2.py", "zeta " * 30),  # exact dup of d1
]
# the batch: an exact copy of c1, a near-dup of c1, a NEW pair, and a
# BRIDGE doc overlapping both the A and B clusters (forces a merge)
BATCH_ROWS = [
    ("batch", "x1.py", C),
    ("batch", "x2.py", C + " gammatailxx gammatailyy"),
    ("batch", "y1.py", _words("delta", 40)),
    ("batch", "y2.py", _words("delta", 40) + " deltatailxx"),
    ("batch", "bridge.py", " ".join(A.split()[:20]) + " " + " ".join(B.split()[:20])),
    ("batch", "lone.py", _words("omega", 40)),
]


@pytest.fixture(scope="module")
def incr_run(spark):
    tmp = tempfile.mkdtemp(prefix="incr_")
    cfg = _cfg(tmp)
    base_raw = _df(spark, BASE_ROWS)
    dedupe(base_raw, cfg)  # persists files / bands / labels stages
    state = load_state(spark, cfg)
    batch_raw = _df(spark, BATCH_ROWS)
    res = incremental_dedupe(
        batch_raw,
        cfg,
        state,
        base_contents=base_raw.select(
            F.concat_ws("/", "repo", "path").alias("fid"), "content"
        ),
    )
    full = dedupe(
        base_raw.unionByName(batch_raw), _cfg(tempfile.mkdtemp(prefix="full_"))
    )
    return cfg, state, res, full, batch_raw


def test_incremental_labels_equal_full_recompute(spark, incr_run):
    _, _, res, full, _ = incr_run
    inc = {r.fid: r.component for r in res.labels.collect()}
    ful = {r.fid: r.component for r in full.clusters.select("fid", "component").collect()}
    assert inc == ful


def test_bridge_merges_base_components(spark, incr_run):
    _, _, res, _, _ = incr_run
    lab = {r.fid: r.component for r in res.labels.collect()}
    # merge: a-cluster, b-cluster and the bridge share one component
    assert lab["base/a1.py"] == lab["base/b1.py"] == lab["batch/bridge.py"]
    # exact+near attach to the previously unclustered c1
    assert lab["base/c1.py"] == lab["batch/x1.py"] == lab["batch/x2.py"]
    # new-new pair clusters on its own
    assert lab["batch/y1.py"] == lab["batch/y2.py"]
    assert lab["batch/y1.py"] != lab["base/a1.py"]
    # the unique batch doc stays unclustered
    assert "batch/lone.py" not in lab


def test_affected_clusters_have_one_keeper_each(spark, incr_run):
    _, _, res, _, _ = incr_run
    agg = (
        res.clusters.groupBy("component")
        .agg(F.sum(F.col("is_keeper").cast("int")).alias("k"))
        .collect()
    )
    assert agg and all(r.k == 1 for r in agg)
    # untouched base cluster (d1/d2) is NOT re-elected
    comps = {r.component for r in res.clusters.select("component").collect()}
    assert "base/d1.py" not in comps


@pytest.mark.parametrize("seed", [7, 23, 99])
def test_incremental_equals_full_on_random_corpus(spark, seed):
    """Randomized topology sweep: random word-soup docs with planted
    copies/near-dups, split randomly into base and batch — incremental
    labels must equal the full recompute for every draw."""
    import numpy as np

    rng = np.random.RandomState(seed)
    vocab = [f"w{chr(97 + i)}{chr(97 + j)}" for i in range(12) for j in range(12)]
    docs = []
    for i in range(36):
        if i % 5 == 3 and docs:  # near-dup of an earlier doc
            base_words = docs[rng.randint(len(docs))][1].split()
            words = list(base_words)
            for _ in range(2):
                words[rng.randint(len(words))] = vocab[rng.randint(len(vocab))]
        elif i % 7 == 5 and docs:  # exact copy
            words = docs[rng.randint(len(docs))][1].split()
        else:
            words = [vocab[rng.randint(len(vocab))] for _ in range(30)]
        docs.append((i, " ".join(words)))
    split = rng.rand(len(docs)) < 0.6
    base_rows = [("r", f"f{i:02d}.py", t) for (i, t), b in zip(docs, split) if b]
    batch_rows = [("r", f"f{i:02d}.py", t) for (i, t), b in zip(docs, split) if not b]
    if not base_rows or not batch_rows:
        pytest.skip("degenerate split")
    tmp = tempfile.mkdtemp(prefix=f"incr_r{seed}_")
    cfg = _cfg(tmp)
    base_raw, batch_raw = _df(spark, base_rows), _df(spark, batch_rows)
    dedupe(base_raw, cfg)
    state = load_state(spark, cfg)
    res = incremental_dedupe(
        batch_raw, cfg, state,
        base_contents=base_raw.select(
            F.concat_ws("/", "repo", "path").alias("fid"), "content"
        ),
    )
    full = dedupe(
        base_raw.unionByName(batch_raw), _cfg(tempfile.mkdtemp(prefix="fullr_"))
    )
    inc = {r.fid: r.component for r in res.labels.collect()}
    ful = {r.fid: r.component for r in full.clusters.select("fid", "component").collect()}
    assert inc == ful


def test_incremental_empty_and_quarantined_batch(spark):
    """Edge cases: an all-new batch with no collisions leaves base
    labels untouched; quarantined (NULL-content) batch rows never
    match anything."""
    tmp = tempfile.mkdtemp(prefix="incr_edge_")
    cfg = _cfg(tmp)
    base_raw = _df(spark, BASE_ROWS)
    dedupe(base_raw, cfg)
    state = load_state(spark, cfg)
    batch = spark.createDataFrame(
        [
            ("batch", "solo.py", "c0", "py", _words("kappa", 40), T0),
            ("batch", "broken.py", "c0", "py", None, T0),
        ],
        SCHEMA,
    )
    res = incremental_dedupe(
        batch, cfg, state,
        base_contents=base_raw.select(
            F.concat_ws("/", "repo", "path").alias("fid"), "content"
        ),
    )
    base_labels = {(r.fid, r.component) for r in state.labels.collect()}
    upd = {(r.fid, r.component) for r in res.labels.collect()}
    assert upd == base_labels  # nothing touched, nothing lost
    assert res.edges.count() == 0
    fids = {r.fid for r in res.new_files.collect()}
    assert "batch/broken.py" in fids  # quarantined row carried, flagged


def test_incremental_exact_copy_joins_near_cluster(spark):
    """A batch doc byte-identical to a base member of a NEAR-dup
    cluster must land in that cluster through the exact star edge."""
    tmp = tempfile.mkdtemp(prefix="incr_excopy_")
    cfg = _cfg(tmp)
    base_raw = _df(spark, BASE_ROWS)
    dedupe(base_raw, cfg)
    state = load_state(spark, cfg)
    batch = _df(spark, [("batch", "copy_a2.py", BASE_ROWS[1][2])])  # == a2.py
    res = incremental_dedupe(
        batch, cfg, state,
        base_contents=base_raw.select(
            F.concat_ws("/", "repo", "path").alias("fid"), "content"
        ),
    )
    lab = {r.fid: r.component for r in res.labels.collect()}
    assert lab["batch/copy_a2.py"] == lab["base/a1.py"] == lab["base/a2.py"]


def test_skewed_identical_base_group_still_pairs_with_batch(spark):
    """Skew regression: 250 byte-identical base copies of a boilerplate
    doc exceed max_bucket_size (200) if the base band table is probed
    UNCOLLAPSED — every copy shares every band hash, the bucket gets
    dropped, and a batch near-dup of the boilerplate silently never
    pairs. The incremental path must sha-collapse the base side to one
    representative per content exactly like the full pipeline does."""
    tmp = tempfile.mkdtemp(prefix="incr_skew_")
    cfg = _cfg(tmp)
    assert cfg.max_bucket_size == 200
    boiler = _words("boiler", 40)
    base_rows = [("base", f"b{i:03d}.py", boiler) for i in range(250)]
    base_rows.append(("base", "u.py", _words("uniq", 40)))
    base_raw = _df(spark, base_rows)
    dedupe(base_raw, cfg)
    state = load_state(spark, cfg)
    near = " ".join(boiler.split()[:36]) + " tailaa tailbb tailcc tailxx"
    res = incremental_dedupe(
        _df(spark, [("batch", "near.py", near)]), cfg, state,
        base_contents=base_raw.select(
            F.concat_ws("/", "repo", "path").alias("fid"), "content"
        ),
    )
    lab = {r.fid: r.component for r in res.labels.collect()}
    assert lab["batch/near.py"] == lab["base/b000.py"] == lab["base/b249.py"]


def test_incremental_from_catalog_table_state(spark):
    """load_state's catalog-table branch (the Iceberg seam, parquet
    provider under test): a base run checkpointed as catalog tables
    feeds an incremental append identically to the path layout."""
    cfg = _cfg(None).with_(
        checkpoint_dir=None, checkpoint_table_prefix="incr_cat1"
    )
    base_raw = _df(spark, BASE_ROWS)
    dedupe(base_raw, cfg)
    state = load_state(spark, cfg)
    batch = _df(spark, [("batch", "copy_a2.py", BASE_ROWS[1][2])])
    res = incremental_dedupe(
        batch, cfg, state,
        base_contents=base_raw.select(
            F.concat_ws("/", "repo", "path").alias("fid"), "content"
        ),
    )
    lab = {r.fid: r.component for r in res.labels.collect()}
    assert lab["batch/copy_a2.py"] == lab["base/a1.py"] == lab["base/a2.py"]


@pytest.mark.parametrize("mode", ["simhash", "substring"])
def test_incremental_other_modes_equal_full(spark, mode):
    """The append path must hold its full-recompute equivalence in the
    simhash (hamming_filter) and substring (winnowing/LCS) modes too,
    not just minhash."""
    tmp = tempfile.mkdtemp(prefix=f"incr_{mode}_")
    kw = dict(mode=mode, checkpoint_dir=tmp)
    if mode == "simhash":
        kw.update(simhash_max_hamming=8, jaccard_threshold=0.25,
                  sig_est_threshold=0.0, size_ratio_prefilter=0.4)
    else:
        kw.update(fingerprint_k=16, fingerprint_window=8)
    cfg = DedupConfig(**kw)
    base_raw = _df(spark, BASE_ROWS)
    dedupe(base_raw, cfg)
    state = load_state(spark, cfg)
    res = incremental_dedupe(
        _df(spark, BATCH_ROWS), cfg, state,
        base_contents=base_raw.select(
            F.concat_ws("/", "repo", "path").alias("fid"), "content"
        ),
    )
    full = dedupe(
        base_raw.unionByName(_df(spark, BATCH_ROWS)),
        cfg.with_(checkpoint_dir=tempfile.mkdtemp(prefix=f"full_{mode}_")),
    )
    inc = {r.fid: r.component for r in res.labels.collect()}
    ful = {r.fid: r.component for r in full.clusters.select("fid", "component").collect()}
    assert inc == ful
    assert inc, "non-trivial clustering expected"


def test_incremental_exact_mode(spark):
    tmp = tempfile.mkdtemp(prefix="incr_ex_")
    cfg = DedupConfig(mode="exact", checkpoint_dir=tmp)
    base_raw = _df(spark, [("base", "d1.py", "same"), ("base", "d2.py", "same"),
                           ("base", "u1.py", "unique")])
    dedupe(base_raw, cfg)
    state = load_state(spark, cfg)
    res = incremental_dedupe(_df(spark, [("batch", "d3.py", "same")]), cfg, state)
    lab = {r.fid: r.component for r in res.labels.collect()}
    assert lab["batch/d3.py"] == lab["base/d1.py"] == lab["base/d2.py"]


def test_band_reps_stage_persisted_and_loaded(spark, incr_run):
    """Round-3 cost-model fix: the full run persists a sha-collapsed
    band_reps stage and load_state reads it, so append batches probe
    representatives directly instead of re-aggregating the base band
    table (one base-wide exchange per batch before)."""
    cfg, state, res, full, batch_raw = incr_run
    assert state.band_reps is not None, "band_reps stage missing from state"
    n_reps = state.band_reps.count()
    n_distinct_sha = state.bands.select("sha").distinct().count()
    assert n_reps == n_distinct_sha  # exactly one rep per distinct sha
    # and the stage actually sits on disk beside the band table
    import os

    stage_dir = os.path.join(cfg.checkpoint_dir, cfg.fingerprint(), "band_reps")
    assert os.path.exists(os.path.join(stage_dir, "_SUCCESS"))


def test_merged_state_band_reps_append_only(spark, incr_run):
    """The delta roll-forward must carry band_reps forward WITHOUT a
    base-wide aggregation: base reps plus the batch's fresh-sha reps,
    preserving exactly one rep per distinct sha of the merged corpus,
    and load_state_delta must read the stage back."""
    cfg, state, res, full, batch_raw = incr_run
    root = tempfile.mkdtemp(prefix="incr_reps_")
    write_state_delta(spark, state, cfg, root)
    append_state_delta(spark, res, cfg, root, 0)
    nxt = load_state_delta(spark, cfg, root)
    shas = [r.sha for r in nxt.band_reps.select("sha").collect()]
    assert len(shas) == len(set(shas)), "duplicate reps for one sha"
    want = {r.sha for r in nxt.bands.select("sha").distinct().collect()}
    assert set(shas) == want
    assert None not in shas


def test_dropped_bucket_reports_base_divergence(spark):
    """ADVICE r2: when a batch pushes a bucket the BASE run kept past
    max_bucket_size, incremental drops it while base labels retain its
    edges — the report must flag exactly those buckets."""
    from deduplidog_spark.incremental import incremental_candidate_pairs

    def rows(prefix, n, h):
        return [(f"{prefix}{i}", 0, h) for i in range(n)]

    schema = "fid string, band_id int, band_hash long"
    # bucket 111: base 2 (kept by base run, cap 3) + batch 2 -> dropped,
    #            divergence risk
    # bucket 222: base 5 (base run ALSO dropped it) + batch 1 -> dropped,
    #            no divergence (full recompute drops it too)
    # bucket 333: base 1 + batch 1 -> under cap, not dropped
    base = spark.createDataFrame(
        rows("b", 2, 111) + rows("c", 5, 222) + rows("d", 1, 333), schema
    )
    batch = spark.createDataFrame(
        rows("nb", 2, 111) + rows("nc", 1, 222) + rows("nd", 1, 333), schema
    )
    cfg = _cfg(tempfile.mkdtemp(prefix="divg_"), max_bucket_size=3)
    _pairs, dropped = incremental_candidate_pairs(batch, base, cfg)
    rep = {r.band_hash: r for r in dropped.collect()}
    assert set(rep) == {111, 222}
    assert rep[111].base_kept_divergence and rep[111].n_base == 2
    assert not rep[222].base_kept_divergence and rep[222].n_base == 5

    # one bucket kernel: against an EMPTY base, the append path must
    # give exactly the full run's pairs and dropped buckets
    from deduplidog_spark.operators.candidates import lsh_candidate_pairs

    rows_all = base.unionByName(batch).unionByName(
        spark.createDataFrame(
            [("e0", 1, 444), ("e1", 1, 444), ("b0", 1, 444)], schema
        )
    )
    empty = spark.createDataFrame([], schema)
    inc_pairs, inc_dropped = incremental_candidate_pairs(rows_all, empty, cfg)
    full_pairs, full_dropped = lsh_candidate_pairs(rows_all, cfg)

    def pair_set(df):
        return {(r.id_a, r.id_b) for r in df.collect()}

    def keys(df):
        return {(r.band_id, r.band_hash) for r in df.collect()}

    assert pair_set(inc_pairs) == pair_set(full_pairs)
    assert len(pair_set(full_pairs)) == 4  # (0, 333) gives 1 pair, (1, 444) gives 3
    assert keys(inc_dropped) == keys(full_dropped) == {(0, 111), (0, 222)}


def test_append_never_aggregates_base_bands_with_reps_stage(spark, incr_run):
    """Machine check of the round-3 cost model: with the band_reps
    stage present, incremental_dedupe must never run a groupBy over
    the base band table (the per-batch base-wide exchange the stage
    exists to eliminate). The proxy forwards every DataFrame call but
    trips on aggregation."""
    cfg, state, _res, _full, batch_raw = incr_run

    class NoAggBands:
        def __init__(self, df):
            self._df = df

        def groupBy(self, *a, **k):  # noqa: N802 (Spark API casing)
            raise AssertionError(
                "base band table aggregated despite band_reps stage"
            )

        def __getattr__(self, name):
            return getattr(self._df, name)

    from deduplidog_spark.incremental import BaseState

    guarded = BaseState(
        files=state.files,
        bands=NoAggBands(state.bands),
        labels=state.labels,
        band_reps=state.band_reps,
    )
    res = incremental_dedupe(
        batch_raw, cfg, guarded,
        base_contents=_df(spark, BASE_ROWS).select(
            F.concat_ws("/", "repo", "path").alias("fid"), "content"
        ),
    )
    assert res.labels.count() > 0


def test_quarantined_batch_rows_mint_no_band_reps(spark):
    """NULL-sha (quarantined) batch rows must not enter the fresh-sha
    rep collapse: before the fix every append added one NULL-sha rep
    to the rolled-forward band_reps, drifting the one-rep-per-
    distinct-sha invariant batch by batch."""
    tmp = tempfile.mkdtemp(prefix="incr_null_")
    cfg = _cfg(tmp)
    base_raw = _df(spark, [("base", "a.py", _words("qa", 40)),
                           ("base", "b.py", _words("qb", 40))])
    dedupe(base_raw, cfg)
    root = tempfile.mkdtemp(prefix="incr_null_root_")
    write_state_delta(spark, load_state(spark, cfg), cfg, root)
    contents = base_raw.select(
        F.concat_ws("/", "repo", "path").alias("fid"), "content"
    )
    for k in range(2):  # two chained appends, each with a NULL row
        batch = spark.createDataFrame(
            [(f"b{k}", "ok.py", "c0", "py", _words(f"q{k}", 40), T0),
             (f"b{k}", "bad.py", "c0", "py", None, T0)],
            SCHEMA,
        )
        state = load_state_delta(spark, cfg, root, max_batch_id=k)
        res = incremental_dedupe(batch, cfg, state, base_contents=contents)
        append_state_delta(spark, res, cfg, root, k)
    state = load_state_delta(spark, cfg, root)
    reps_sha = [r.sha for r in state.band_reps.select("sha").collect()]
    assert None not in reps_sha, "NULL-sha rep leaked into band_reps"
    assert len(reps_sha) == len(set(reps_sha))


def test_load_state_surfaces_corrupt_band_reps(spark, incr_run):
    """A corrupt/unreadable band_reps stage must raise, not silently
    fall back to the per-batch base-wide aggregation — and so must a
    MISSING one: every band-mode state carries the stage."""
    import os
    import shutil

    import pytest as _pytest

    cfg, state, res, full, batch_raw = incr_run
    stage_dir = os.path.join(cfg.checkpoint_dir, cfg.fingerprint(), "band_reps")
    # corrupt: parquet footer garbage in place of the stage files
    for f in os.listdir(stage_dir):
        if f.endswith(".parquet"):
            with open(os.path.join(stage_dir, f), "wb") as fh:
                fh.write(b"not a parquet file")
    # footer is read at load time; a corrupt stage raises (JVM
    # RuntimeException via Py4J — the point is it is NOT swallowed)
    with _pytest.raises(Exception, match="[Pp]arquet"):
        load_state(spark, cfg)
    # missing: no fallback either
    from pyspark.errors import AnalysisException

    shutil.rmtree(stage_dir)
    with _pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_state(spark, cfg)


# --- delta-chain compaction (round 5) --------------------------------------


def _delta_snapshot(state):
    """Canonical collected view of a BaseState for equality checks —
    compaction must be invisible to every consumer of load_state_delta."""
    snap = {
        "files": sorted((r.fid, r.sha) for r in state.files.collect()),
        "labels": sorted((r.fid, r.component) for r in state.labels.collect()),
    }
    if state.bands is not None:
        snap["bands"] = sorted(
            (r.fid, tuple(r.band_hashes)) for r in state.bands.collect()
        )
        snap["reps"] = sorted(r.sha for r in state.band_reps.collect())
    return snap


def test_compact_state_delta_identical_state_bounded_partitions(spark):
    """r4 VERDICT weak #2 / next-round #2: K appends + compact must load
    BIT-IDENTICAL BaseState with a bounded partition count (one seed
    partition per stage), a seed written without its commit marker must
    be invisible (crash before the marker), post-compaction appends
    must keep chaining (cross-compaction duplicates found, labels equal
    a full recompute), and a second compaction must GC the first's seed
    and marker."""
    import os

    from deduplidog_spark.incremental import (
        append_state_delta,
        compact_state_delta,
        load_state_delta,
        write_state_delta,
    )

    tmp = tempfile.mkdtemp(prefix="compact_")
    root = os.path.join(tmp, "state")
    cfg = _cfg(os.path.join(tmp, "boot"))
    base = _df(spark, BASE_ROWS)
    dedupe(base, cfg).plan.count()
    write_state_delta(spark, load_state(spark, cfg), cfg, root)

    batches = [
        [("d0", "x1.py", C), ("d0", "x2.py", C + " gammatailxx gammatailyy")],
        [("d1", "y1.py", _words("delta", 40))],
        # batch 2 (run AFTER compaction) duplicates a batch-1 doc: the
        # cross-compaction edge must still be found through the seed
        [("d2", "y2.py", _words("delta", 40) + " deltatailxx")],
    ]
    contents = base.select(
        F.concat_ws("/", "repo", "path").alias("fid"), "content"
    )

    def run_append(k):
        nonlocal contents
        raw = _df(spark, batches[k])
        st = load_state_delta(spark, cfg, root, max_batch_id=k)
        r = incremental_dedupe(raw, cfg, st, base_contents=contents)
        append_state_delta(spark, r, cfg, root, k)
        contents = contents.union(
            raw.select(F.concat_ws("/", "repo", "path").alias("fid"), "content")
        )

    run_append(0)
    run_append(1)
    before = _delta_snapshot(load_state_delta(spark, cfg, root))

    # crash BEFORE the marker: a generation-1 seed partition with no
    # _seed_g1_* marker must be invisible to the loader
    write_state_delta(
        spark, load_state_delta(spark, cfg, root), cfg, root, batch_id=-2
    )
    assert _delta_snapshot(load_state_delta(spark, cfg, root)) == before

    assert compact_state_delta(spark, cfg, root) == 1
    assert _delta_snapshot(load_state_delta(spark, cfg, root)) == before

    delta = os.path.join(root, cfg.fingerprint(), "delta")
    for stage in ("files", "minhash_bands", "band_reps", "cc_labels"):
        parts = sorted(
            d for d in os.listdir(os.path.join(delta, stage))
            if d.startswith("batch_id=")
        )
        assert parts == ["batch_id=-2"], (stage, parts)
    assert sorted(
        n for n in os.listdir(delta) if n.startswith("_seed_")
    ) == ["_seed_g1_c1"]

    # chain continues after compaction; cross-compaction dup is found
    run_append(2)
    final = load_state_delta(spark, cfg, root)
    lab = {r.fid: r.component for r in final.labels.collect()}
    assert lab["d2/y2.py"] == lab["d1/y1.py"]
    full = dedupe(
        base.unionByName(_df(spark, batches[0]))
        .unionByName(_df(spark, batches[1]))
        .unionByName(_df(spark, batches[2])),
        _cfg(tempfile.mkdtemp(prefix="full_cmp_")),
    )
    ful = {
        r.fid: r.component
        for r in full.clusters.select("fid", "component").collect()
    }
    assert lab == ful

    # second compaction: folds batch 2, GCs the g1 seed + marker
    snap2 = _delta_snapshot(final)
    assert compact_state_delta(spark, cfg, root) == 2
    assert _delta_snapshot(load_state_delta(spark, cfg, root)) == snap2
    for stage in ("files", "minhash_bands", "band_reps", "cc_labels"):
        parts = sorted(
            d for d in os.listdir(os.path.join(delta, stage))
            if d.startswith("batch_id=")
        )
        assert parts == ["batch_id=-3"], (stage, parts)
    assert sorted(
        n for n in os.listdir(delta) if n.startswith("_seed_")
    ) == ["_seed_g2_c2"]
    # nothing newer than the seed → explicit no-op
    assert compact_state_delta(spark, cfg, root) is None


def test_delta_state_catalog_table_store(spark):
    """r4 VERDICT next-round #8: the delta chain through catalog tables
    — the same code path a cluster with the Iceberg runtime gets via
    checkpoint_format='iceberg', exercised on the session-catalog
    parquet provider like pipeline._ckpt. Bootstrap + append + load +
    compact must behave exactly like the path layout: labels equal a
    full recompute, partition overwrites are idempotent, compaction
    leaves one seed partition per stage table and a committed marker
    row."""
    import uuid

    from deduplidog_spark.incremental import (
        append_state_delta,
        compact_state_delta,
        load_state_delta,
        write_state_delta,
    )

    tmp = tempfile.mkdtemp(prefix="tbl_delta_")
    cfg_boot = _cfg(tmp)
    prefix = f"ds{uuid.uuid4().hex[:8]}"
    cfg = cfg_boot.with_(
        checkpoint_dir=None, checkpoint_table_prefix=prefix,
        checkpoint_format="parquet",
    )
    base = _df(spark, BASE_ROWS)
    dedupe(base, cfg_boot).plan.count()
    write_state_delta(spark, load_state(spark, cfg_boot), cfg, None)

    batch = _df(spark, [("d0", "x1.py", C),
                        ("d0", "x2.py", C + " gammatailxx gammatailyy")])
    contents = base.select(
        F.concat_ws("/", "repo", "path").alias("fid"), "content"
    )

    def run_batch_0():
        st = load_state_delta(spark, cfg, None, max_batch_id=0)
        r = incremental_dedupe(batch, cfg, st, base_contents=contents)
        append_state_delta(spark, r, cfg, None, 0)

    run_batch_0()
    st = load_state_delta(spark, cfg, None)
    lab = {r.fid: r.component for r in st.labels.collect()}
    n_files = st.files.count()
    # replay idempotence: the dynamic partition overwrite must not
    # duplicate rows (the Iceberg replace-partition analog)
    run_batch_0()
    again = load_state_delta(spark, cfg, None)
    assert {r.fid: r.component for r in again.labels.collect()} == lab
    assert again.files.count() == n_files
    full = dedupe(
        base.unionByName(batch), _cfg(tempfile.mkdtemp(prefix="full_tbl_"))
    )
    ful = {
        r.fid: r.component
        for r in full.clusters.select("fid", "component").collect()
    }
    assert lab == ful

    before = _delta_snapshot(load_state_delta(spark, cfg, None))
    assert compact_state_delta(spark, cfg, None) == 1
    assert _delta_snapshot(load_state_delta(spark, cfg, None)) == before
    fp = cfg.fingerprint()
    for stage in ("files", "minhash_bands", "band_reps", "cc_labels"):
        parts = [
            r[0]
            for r in spark.sql(
                f"SHOW PARTITIONS {prefix}_delta_{stage}_{fp}"
            ).collect()
        ]
        assert parts == ["batch_id=-2"], (stage, parts)
    markers = [
        r.name for r in spark.table(f"{prefix}_delta_markers_{fp}").collect()
    ]
    assert "_seed_g1_c0" in markers


def test_compact_bound_excludes_uncommitted_batch(spark):
    """Self-review r5: compacting while a crashed batch's partial state
    partitions exist must NOT fold them — the seed would already carry
    part of the batch its replay re-appends (replayed partitions stay
    above the fold watermark), doubling rows. With the committed bound
    (max_batch_id = next uncommitted id) the crashed partitions stay
    out of the seed, the replay overwrites them, and the final state
    has no duplicate fids and equals a full recompute."""
    import os

    from deduplidog_spark.incremental import (
        append_state_delta,
        compact_state_delta,
        load_state_delta,
        write_state_delta,
    )

    tmp = tempfile.mkdtemp(prefix="compact_bound_")
    root = os.path.join(tmp, "state")
    cfg = _cfg(os.path.join(tmp, "boot"))
    base = _df(spark, BASE_ROWS)
    dedupe(base, cfg).plan.count()
    write_state_delta(spark, load_state(spark, cfg), cfg, root)
    contents = base.select(
        F.concat_ws("/", "repo", "path").alias("fid"), "content"
    )

    b0 = _df(spark, [("d0", "x1.py", C)])
    st = load_state_delta(spark, cfg, root, max_batch_id=0)
    append_state_delta(
        spark, incremental_dedupe(b0, cfg, st, base_contents=contents),
        cfg, root, 0,
    )  # batch 0 fully committed

    # batch 1 CRASHES after its state partitions land (no ledger commit)
    b1 = _df(spark, [("d1", "y1.py", _words("delta", 40)),
                     ("d1", "y2.py", _words("delta", 40) + " deltatailxx")])
    st = load_state_delta(spark, cfg, root, max_batch_id=1)
    append_state_delta(
        spark, incremental_dedupe(b1, cfg, st, base_contents=contents),
        cfg, root, 1,
    )

    # operator compacts with the committed bound: only batches < 1 fold
    assert compact_state_delta(spark, cfg, root, max_batch_id=1) == 1
    seed_files = spark.read.parquet(
        os.path.join(root, cfg.fingerprint(), "delta", "files", "batch_id=-2")
    )
    assert not [r for r in seed_files.collect() if r.fid.startswith("d1/")], (
        "crashed batch rows must not be folded into the seed"
    )

    # replay of batch 1 (same id) then commits; no row is doubled
    st = load_state_delta(spark, cfg, root, max_batch_id=1)
    append_state_delta(
        spark, incremental_dedupe(b1, cfg, st, base_contents=contents),
        cfg, root, 1,
    )
    final = load_state_delta(spark, cfg, root)
    dupes = (
        final.files.groupBy("fid").count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0, "replay after bounded compaction must not double rows"
    full = dedupe(
        base.unionByName(b0).unionByName(b1),
        _cfg(tempfile.mkdtemp(prefix="full_cb_")),
    )
    lab = {r.fid: r.component for r in final.labels.collect()}
    ful = {
        r.fid: r.component
        for r in full.clusters.select("fid", "component").collect()
    }
    assert lab == ful


def test_compact_unbounded_skips_partial_stage_writes(spark):
    """r5 review #3: compact_state_delta(max_batch_id=None) must fold
    only batches whose cc_labels partition exists — the LAST stage
    append_state_delta writes, i.e. the append-completion stamp. A
    crashed append that left only earlier-stage partitions (files,
    bands) must stay OUT of the seed: folding them would permanently
    double the batch's rows once its replay re-appends them (the
    replayed partitions stay above the fold watermark and visible)."""
    import os

    from deduplidog_spark.incremental import (
        _delta_store,
        append_state_delta,
        compact_state_delta,
        load_state_delta,
        write_state_delta,
    )

    tmp = tempfile.mkdtemp(prefix="compact_partial_")
    root = os.path.join(tmp, "state")
    cfg = _cfg(os.path.join(tmp, "boot"))
    base = _df(spark, BASE_ROWS)
    dedupe(base, cfg).plan.count()
    write_state_delta(spark, load_state(spark, cfg), cfg, root)
    contents = base.select(
        F.concat_ws("/", "repo", "path").alias("fid"), "content"
    )

    b0 = _df(spark, [("d0", "x1.py", C)])
    st = load_state_delta(spark, cfg, root, max_batch_id=0)
    append_state_delta(
        spark, incremental_dedupe(b0, cfg, st, base_contents=contents),
        cfg, root, 0,
    )  # batch 0 fully committed

    # batch 1 CRASHES mid-append: files + bands land, cc_labels does NOT
    b1 = _df(spark, [("d1", "y1.py", _words("delta", 40))])
    st = load_state_delta(spark, cfg, root, max_batch_id=1)
    r1 = incremental_dedupe(b1, cfg, st, base_contents=contents)
    store = _delta_store(spark, cfg, root)
    store.write(r1.new_files, "files", 1)
    store.write(r1.new_bands, "minhash_bands", 1)
    store.write(r1.new_band_reps, "band_reps", 1)

    # UNBOUNDED compaction (quiesced-chain semantics): folds through
    # batch 0 only — cc_labels is the completion stamp
    assert compact_state_delta(spark, cfg, root, max_batch_id=None) == 1
    delta = os.path.join(root, cfg.fingerprint(), "delta")
    assert sorted(
        n for n in os.listdir(delta) if n.startswith("_seed_")
    ) == ["_seed_g1_c0"]
    seed_files = spark.read.parquet(
        os.path.join(delta, "files", "batch_id=-2")
    )
    assert not [r for r in seed_files.collect() if r.fid.startswith("d1/")], (
        "a crashed batch's partial files partition must not be folded"
    )
    # the partial partitions stay above the fold watermark, replayable
    assert os.path.isdir(os.path.join(delta, "files", "batch_id=1"))

    # replay of batch 1 commits fully; no row doubled, labels == full
    st = load_state_delta(spark, cfg, root, max_batch_id=1)
    append_state_delta(
        spark, incremental_dedupe(b1, cfg, st, base_contents=contents),
        cfg, root, 1,
    )
    final = load_state_delta(spark, cfg, root)
    dupes = (
        final.files.groupBy("fid").count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0, "partial-stage fold would have doubled batch rows"
    full = dedupe(
        base.unionByName(b0).unionByName(b1),
        _cfg(tempfile.mkdtemp(prefix="full_cp_")),
    )
    lab = {r.fid: r.component for r in final.labels.collect()}
    ful = {
        r.fid: r.component
        for r in full.clusters.select("fid", "component").collect()
    }
    assert lab == ful


def test_table_store_partition_ops_survive_v2_provider(spark, monkeypatch):
    """SHOW PARTITIONS and ALTER TABLE ... DROP PARTITION are v1-table
    commands — a v2 provider (Iceberg included: no
    SupportsPartitionManagement) raises AnalysisException on both, and
    that IS the deploy path for checkpoint_format='iceberg'. Simulate
    the v2 provider by failing exactly those two statements: listing
    must fall back (metadata table, then DISTINCT over data) and the
    partition drop must reissue as the partition-aligned DELETE that
    Iceberg executes as a metadata-only commit."""
    import uuid

    from deduplidog_spark.incremental import _TableDeltaStore

    cfg = DedupConfig(
        mode="minhash",
        checkpoint_table_prefix=f"v2f{uuid.uuid4().hex[:8]}",
        checkpoint_format="parquet",
    )
    store = _TableDeltaStore(spark, cfg)
    lab = spark.createDataFrame([("a", "a")], "fid string, component string")
    store.write(lab, "cc_labels", -1)
    store.write(lab, "cc_labels", 0)

    real_sql = spark.sql
    issued = []

    def v2_sql(q, *a, **kw):
        qs = " ".join(q.split())
        issued.append(qs)
        if qs.startswith("SHOW PARTITIONS") or qs.startswith("ALTER TABLE"):
            raise Exception("v2 table does not support partition management")
        if qs.startswith("DELETE FROM"):
            # the parquet v1 provider can't DELETE; emulate Iceberg's
            # partition-aligned metadata delete through the real v1
            # drop so the end state matches what Iceberg would leave
            name = qs.split()[2]
            b = int(qs.rsplit("=", 1)[1])
            return real_sql(
                f"ALTER TABLE {name} DROP IF EXISTS PARTITION (batch_id={b})"
            )
        return real_sql(q, *a, **kw)

    monkeypatch.setattr(spark, "sql", v2_sql)
    # listing: SHOW fails, <name>.partitions doesn't exist on parquet,
    # DISTINCT over data must still produce the exact partition set
    assert store.list_partitions("cc_labels") == [-1, 0]
    # drop: ALTER fails -> the DELETE fallback must be issued
    store.drop_partition("cc_labels", 0)
    assert any(s.startswith("DELETE FROM") for s in issued)
    monkeypatch.undo()
    assert store.list_partitions("cc_labels") == [-1]
