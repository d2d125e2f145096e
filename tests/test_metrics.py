"""Lineage, metrics, and resume-semantics tests (north_rule:
per-partition lineage + metrics, resumable runs)."""

import os
import tempfile

from pyspark.sql import functions as F

from deduplidog_spark import DedupConfig
from deduplidog_spark import fixtures as FX
from deduplidog_spark.metrics import exclude_processed, lineage_report
from deduplidog_spark.pipeline import dedupe


def test_lineage_recorded_per_stage(spark):
    tmp = tempfile.mkdtemp()
    df = FX.to_spark_df(spark, FX.corpus_b_rows())
    cfg = DedupConfig(mode="minhash", checkpoint_dir=f"{tmp}/ck")
    dedupe(df, cfg)
    run_dir = f"{tmp}/ck/{cfg.fingerprint()}"  # stage paths are config-keyed
    assert os.path.exists(f"{run_dir}/_lineage")
    rep = lineage_report(spark, run_dir)
    rows = {r.stage: r for r in rep.collect()}
    # one scan stage: files and bands are its projections
    stages = ("scan", "sha_groups", "band_reps", "lsh_buckets", "edges", "cc_labels", "plan")
    assert set(stages) <= set(rows)
    assert "files" not in rows and "minhash_bands" not in rows
    assert not os.path.exists(f"{run_dir}/files")
    assert not os.path.exists(f"{run_dir}/minhash_bands")
    assert all(r.total_rows > 0 for r in rows.values())
    assert all(r.skew_ratio >= 1.0 for r in rows.values())


def test_checkpoint_resume_from_band_stage(spark):
    """Kill-and-rerun semantics: delete every stage AFTER the band table
    and re-run — the pipeline resumes from the persisted band parquet
    and reproduces the identical plan. A different config against the
    same checkpoint_dir must NOT reuse any stage (fingerprint-keyed)."""
    import shutil

    tmp = tempfile.mkdtemp()
    df = FX.to_spark_df(spark, FX.corpus_b_rows())
    cfg = DedupConfig(
        mode="minhash", jaccard_threshold=0.5, sig_est_threshold=0.35,
        checkpoint_dir=f"{tmp}/ck",
    )
    plan1 = sorted(
        (r.fid, r.action_effective) for r in dedupe(df, cfg).plan.collect()
    )
    run_dir = f"{tmp}/ck/{cfg.fingerprint()}"
    for stage in ("edges", "cc_labels", "plan"):
        assert os.path.exists(f"{run_dir}/{stage}/_SUCCESS")
        shutil.rmtree(f"{run_dir}/{stage}")
    assert os.path.exists(f"{run_dir}/lsh_buckets/_SUCCESS")  # survives the "crash"
    plan2 = sorted(
        (r.fid, r.action_effective) for r in dedupe(df, cfg).plan.collect()
    )
    assert plan1 == plan2
    # different semantics → different run dir, stale stages untouched
    cfg2 = cfg.with_(jaccard_threshold=0.9)
    assert cfg2.fingerprint() != cfg.fingerprint()
    dedupe(df, cfg2)
    assert os.path.exists(f"{tmp}/ck/{cfg2.fingerprint()}/plan/_SUCCESS")


def test_catalog_table_checkpoint_and_lineage(spark):
    """north_rule Iceberg seam: stages persist as catalog tables
    ``<prefix>_<stage>_<fingerprint>`` through the configured DSv2
    provider (parquet against the session catalog here; 'iceberg' on a
    cluster with the runtime jars), a rerun resumes from them, and
    per-partition lineage lands in ``<prefix>_lineage``."""
    import pytest

    from deduplidog_spark.metrics import lineage_report_table

    df = FX.to_spark_df(spark, FX.corpus_b_rows())
    cfg = DedupConfig(mode="minhash", checkpoint_table_prefix="ckpt_t1")
    plan1 = sorted(
        (r.fid, r.action_effective) for r in dedupe(df, cfg).plan.collect()
    )
    fp = cfg.fingerprint()
    for stage in ("scan", "sha_groups", "band_reps", "lsh_buckets", "edges", "cc_labels", "plan"):
        assert spark.catalog.tableExists(f"ckpt_t1_{stage}_{fp}")
    for stage in ("files", "minhash_bands"):
        assert not spark.catalog.tableExists(f"ckpt_t1_{stage}_{fp}")
    # resume path: a second run reads the persisted stage tables and
    # reproduces the identical plan
    plan2 = sorted(
        (r.fid, r.action_effective) for r in dedupe(df, cfg).plan.collect()
    )
    assert plan1 == plan2
    rep = {r.stage: r for r in lineage_report_table(spark, "ckpt_t1").collect()}
    assert "scan" in rep and "lsh_buckets" in rep
    assert all(r.total_rows > 0 for r in rep.values())
    # path and table checkpointing are mutually exclusive targets
    with pytest.raises(ValueError):
        DedupConfig(checkpoint_dir="/tmp/x", checkpoint_table_prefix="y")


def test_exclude_processed_resume(spark):
    df = FX.to_spark_df(spark, FX.corpus_b_rows())
    res = dedupe(df, DedupConfig(mode="exact"))
    remaining = exclude_processed(df, res.plan)
    # every planned fid is gone; unplanned rows survive
    planned = {r.fid for r in res.plan.select("fid").collect()}
    left = {r.fid for r in remaining.select("fid").collect()}
    assert not (planned & left)
    assert "folder1/unique.txt" in left
    # re-running on the remainder plans nothing new in exact mode
    res2 = dedupe(remaining.drop("fid"), DedupConfig(mode="exact"))
    assert res2.plan.count() == 0


def test_run_metrics_counts(spark):
    df = FX.to_spark_df(spark, FX.corpus_b_rows())
    res = dedupe(df, DedupConfig(mode="exact", action="delete"))
    m = res.metrics.collect()[0]
    n_dups = res.plan.filter(~F.col("is_keeper")).count()
    assert m.affected_count == n_dups
    assert m.size_affected > 0
    assert m.skipped_count == 0
    assert m.quarantined_count == 0


def test_quarantined_rows_flagged_not_matched(spark):
    """P2: NULL-content rows are carried with quarantined=True, never
    crash a stage, never pair with each other (NULL sha / NULL sig must
    not group), and are counted in metrics."""
    rows = FX.corpus_b_rows()
    for i in (0, 1):
        rows.append(
            dict(repo="badrepo", path=f"bad_{i}.txt", commit="c0", lang="txt",
                 content=None, mtime=FX.T0, is_symlink=False)
        )
    df = FX.to_spark_df(spark, rows)
    for mode in ("exact", "minhash"):
        res = dedupe(df, DedupConfig(mode=mode))
        qrows = res.files.filter(F.col("quarantined")).collect()
        assert {r.path for r in qrows} == {"bad_0.txt", "bad_1.txt"}
        # the two NULL rows never appear in the plan (as pairs or keepers)
        assert res.plan.filter(F.col("repo") == "badrepo").count() == 0
        assert res.metrics.collect()[0].quarantined_count == 2


def test_revert_plan_inverts_fired_actions(spark):
    from deduplidog_spark.operators.actions import revert_plan

    df = FX.to_spark_df(spark, FX.corpus_b_rows())
    res = dedupe(df, DedupConfig(mode="exact", action="mark"))
    inv = revert_plan(res.plan).collect()
    fired = res.plan.filter(
        (~F.col("is_keeper")) & (F.col("action_effective") == "mark")
    ).count()
    assert len(inv) == fired > 0
    assert all(r.action == "unmark" and r.action_effective == "unmark" for r in inv)
    assert all(r.new_mtime is None for r in inv)
    # delete → restore
    res2 = dedupe(df, DedupConfig(mode="exact", action="delete"))
    inv2 = revert_plan(res2.plan).collect()
    assert inv2 and all(r.action == "restore" for r in inv2)


def test_symlink_janitor_by_target_and_dirs(spark):
    """X9 (reference utils.py:177-193): mark symlinks under a target
    prefix; flag directories made solely of symlinks."""
    from deduplidog_spark.operators.actions import (
        mark_symlinks_by_target,
        symlink_only_dirs,
    )

    rows = [
        # (repo, path, is_symlink, symlink_target)
        ("r1", "a/f1.py", False, None),
        ("r1", "a/f2.py", True, "/media/disk/orig/f2.py"),   # hit
        ("r1", "b/l1.py", True, "/media/disk/orig/l1.py"),   # hit, dir b all-symlink
        ("r1", "b/l2.py", True, "/elsewhere/l2.py"),         # miss (target), dir b
        ("r1", "root.py", False, None),                      # top-level, dir ""
        ("r2", "c/l3.py", True, "/media/disk/x"),            # hit, dir c all-symlink
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, is_symlink boolean, symlink_target string"
    )
    marked = mark_symlinks_by_target(df, "/media/disk")
    got = {(r.repo, r.path) for r in marked.collect()}
    assert got == {("r1", "a/f2.py"), ("r1", "b/l1.py"), ("r2", "c/l3.py")}
    assert all(r.action == "mark_symlink" for r in marked.collect())

    dirs = {(r.repo, r.dir): r.n_files for r in symlink_only_dirs(df).collect()}
    # a has a non-symlink, "" (root) has a non-symlink; b and c qualify
    assert dirs == {("r1", "b"): 2, ("r2", "c"): 1}


def test_fingerprint_excludes_default_valued_knobs():
    """Adding config fields in a later release must not orphan
    previously-written state: fields at their dataclass default are
    excluded from the fingerprint, so only knobs actually flipped
    change the run identity."""
    from deduplidog_spark.config import DedupConfig

    base = DedupConfig()
    assert DedupConfig(collapse_versions=False).fingerprint() == base.fingerprint()
    # checkpoint LOCATION never affects identity (pre-existing rule)
    assert DedupConfig(checkpoint_dir="/x").fingerprint() == base.fingerprint()
    assert DedupConfig(collapse_versions=True).fingerprint() != base.fingerprint()
    assert DedupConfig(mode="minhash").fingerprint() != base.fingerprint()


def test_fingerprint_salted_with_defaults_schema(monkeypatch):
    """The defaults-exclusion rule makes run identity depend on the
    defaults themselves, so the hash carries a schema-version salt: a
    release that changes any field's DEFAULT must bump
    _FINGERPRINT_SCHEMA, which re-keys every defaults-only config
    instead of silently serving the old release's checkpoint stages."""
    from deduplidog_spark import config as C

    before = C.DedupConfig().fingerprint()
    monkeypatch.setattr(C, "_FINGERPRINT_SCHEMA", "defaults-v2-test")
    assert C.DedupConfig().fingerprint() != before


def test_commits_look_unsortable_heuristic(spark):
    """Git-SHA-shaped commit columns (uniform-width hex) must trip the
    CLI guard; sortable ids (zero-padded counters, timestamps) must
    not."""
    from deduplidog_spark.operators.versions import commits_look_unsortable

    def df(vals):
        return spark.createDataFrame([(v,) for v in vals], "commit string")

    shas = ["9fceb02d0ae598e95dc970b74767f19372d61af8",
            "1b2e1d63ff662fcf85c50ecdfb2c1d21e50a9a61",
            "af3c1e09ab5cd21f5c77ae0c25b17fced2bd4cc1"]
    assert commits_look_unsortable(df(shas))
    assert commits_look_unsortable(df([s[:12] for s in shas]))  # short SHAs
    assert not commits_look_unsortable(df(["c0001", "c0002", "c0003"]))
    assert not commits_look_unsortable(df(["20260101120000", "20260102090000"]))
    assert not commits_look_unsortable(df(["2026-01-01T12:00:00"]))
    assert not commits_look_unsortable(df([]).filter("commit IS NOT NULL"))
