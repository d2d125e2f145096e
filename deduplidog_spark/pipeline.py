"""The end-to-end dedup pipeline (SURVEY §7 build plan).

Dataflow (mode-dependent candidate stage, shared tail):

    scan (ingest + signatures/bands, one pass) → sha groups →
    representatives → LSH band join → verify → edges (exact ∪ near) →
    connected components → keeper election → action plan + metrics

Design decisions that matter at 100 TB:
- every run has ONE shape, durable or in-memory: the corpus is read,
  hashed and signed in a single scan stage whose projections are the
  slim audit table (`files`) and the slim band table; with a
  checkpoint target that stage is persisted once (``scan``) and
  resumes like every later stage (north_rule "resumable": band tables
  + cluster state survive a restart);
- byte-identical content is collapsed to one representative *before*
  any candidate work: the boilerplate skew group (one content in 5% of
  rows) costs one sha aggregation, not 5%² of candidate pairs, and the
  same aggregation yields the exact-dup star edges;
- every stage is a DataFrame — `explain()` shows scan-pruned columns,
  one shuffle per groupBy/join, Arrow batches only at the two UDF
  stages (signatures, exact verify).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduplidog_spark.config import DedupConfig
from deduplidog_spark.fsutil import fs_list
from deduplidog_spark.ingest import ingest
from deduplidog_spark.metrics import record_lineage, record_lineage_table
from deduplidog_spark.operators import minhash as mh
from deduplidog_spark.operators import simhash as sh
from deduplidog_spark.operators import substring as ss
from deduplidog_spark.operators.actions import action_plan, run_metrics
from deduplidog_spark.operators.candidates import lsh_candidate_pairs
from deduplidog_spark.operators.cluster import connected_components, elect_keepers
from deduplidog_spark.operators.exact import (
    exact_dup_pairs_from_groups,
    sha_groups,
    sha_representatives,
)
from deduplidog_spark.operators.namedate import name_date_matches, pair_plan
from deduplidog_spark.operators.verify import verify_candidate_pairs


@dataclass
class DedupResult:
    files: DataFrame  # ingested rows (with fid/sha/size)
    edges: DataFrame  # verified duplicate pairs (id_a, id_b)
    clusters: DataFrame  # (fid, component, is_keeper, duplicate_of, ...)
    plan: DataFrame  # action-plan table
    metrics: DataFrame  # one-row counters
    dropped_buckets: DataFrame | None = None  # LSH skew-cap log
    # the slim band table (a projection of the materialized scan
    # stage) + its sha-collapsed reps: incremental.state_from_result
    # reuses them so building append state off a completed in-session
    # run never re-pays the signature UDF over the base corpus. Set on
    # every band-mode run, durable or not; None in name/exact mode.
    bands: DataFrame | None = None
    band_reps: DataFrame | None = None


def _ckpt(df: DataFrame, cfg: DedupConfig, stage: str, reuse: bool = True) -> DataFrame:
    """Stage checkpoint: parquet round-trip when checkpoint_dir is set,
    catalog-table round-trip when checkpoint_table_prefix is set
    (north_rule "checkpoints LSH band tables and cluster state to
    Iceberg": `checkpoint_format='iceberg'` on a cluster with the
    Iceberg runtime gives atomic replace + snapshot history; the
    parquet session-catalog provider exercises the same code path under
    test). Stage paths/names embed the config fingerprint, so a rerun
    with a different mode/threshold against the same checkpoint target
    recomputes instead of silently reusing stale files/edges/labels.
    Without a checkpoint target, stages consumed by several downstream
    operators (``reuse=True``) are localCheckpointed so each consumer
    doesn't re-execute the UDF stage; single-consumer stages stay
    lazy — every eager materialization is a driver-side barrier that
    caps scaling. The localCheckpoint is ``eager=False`` (r6): the
    first consuming job computes and caches the partitions exactly as
    the eager form would, but the separate materialization job — one
    driver round-trip + scheduler pass per stage — disappears; every
    consumer here full-scans its input, so the partial-caching hazard
    of lazy checkpoints (a limit() first consumer caching only the
    partitions it touched) cannot arise."""
    if cfg.checkpoint_table_prefix:
        name = f"{cfg.checkpoint_table_prefix}_{stage}_{cfg.fingerprint()}"
        spark = df.sparkSession
        if not spark.catalog.tableExists(name):
            df.write.format(cfg.checkpoint_format).mode("overwrite").saveAsTable(name)
            out = spark.table(name)
            record_lineage_table(
                out,
                cfg.checkpoint_table_prefix,
                cfg.checkpoint_format,
                stage,
                run=cfg.fingerprint(),
            )  # north_rule: per-partition lineage beside the stage tables
            return out
        return spark.table(name)
    if cfg.checkpoint_dir:
        run_dir = cfg.checkpoint_dir.rstrip("/") + "/" + cfg.fingerprint()
        path = run_dir + "/" + stage
        spark = df.sparkSession
        # marker check through the Hadoop FS API, so resume works for
        # any scheme the cluster mounts (``os.path`` sees only the
        # driver's local disk)
        if "_SUCCESS" not in fs_list(spark, path):
            df.write.mode("overwrite").parquet(path)
            out = spark.read.parquet(path)
            record_lineage(out, run_dir, stage)  # north_rule
            return out
        return spark.read.parquet(path)
    return df.localCheckpoint(eager=False) if reuse else df


def _with_fid(df: DataFrame) -> DataFrame:
    return df.withColumn("fid", F.concat_ws("/", "repo", "path"))


def _cc_materializer(cfg: DedupConfig):
    """Materialization hook for connected_components.

    With a checkpoint target configured, the CC edge table, its
    union-find labels and, on graphs past one union-find task, each
    round's label and residual tables go through the same durable
    parquet/table path as every other stage (``cc_edges``, ``cc_uf``,
    ``cc_r0``, ``cc_contracted0``, …) — localCheckpoint pins that
    state in executor storage, so a single executor loss late in a
    long chain would force the whole iteration over at cluster scale;
    a driver restart resumes from the completed tables (same
    fingerprint-keyed reuse semantics as the ``scan`` stage). Without
    a target: None → localCheckpoint."""
    if not (cfg.checkpoint_dir or cfg.checkpoint_table_prefix):
        return None
    return lambda df, tag: _ckpt(df, cfg, f"cc_{tag}")


class BandMode(NamedTuple):
    stage: str  # delta-chain stage name of the slim band table
    cols: tuple[str, ...]  # band columns the scan adds


# the one mode table: the pipeline, the incremental path and the delta
# chain all read it
BAND_MODES = {
    "minhash": BandMode("minhash_bands", ("band_hashes",)),
    "simhash": BandMode("simhash_bands", ("band_hashes", "simhash")),
    "substring": BandMode("winnow_bands", ("band_hashes",)),
}


def scan_tables(raw: DataFrame, cfg: DedupConfig) -> tuple[DataFrame, DataFrame]:
    """The one scan of a run, shared by ``dedupe`` and
    ``incremental.incremental_dedupe``: (files_full, scan).

    ``files_full`` is the lazy ingest with fid and content, read only
    where content is needed (verify, name matching). ``scan`` is its
    content-free columns plus the mode's band columns (none in exact
    and name mode) — the table a run materializes once; ``split_scan``
    gives its `files` and band-table projections. In minhash mode the
    scan is one mapInPandas pass: ingest stats + signatures + banding
    in Python, path columns/filters as the shared JVM expressions on
    top (see minhash.banded_ingest_scan)."""
    files_full = _with_fid(ingest(raw, cfg))
    slim_cols = [c for c in files_full.columns if c != "content"]
    band_cols = BAND_MODES[cfg.mode].cols if cfg.mode in BAND_MODES else ()
    if cfg.mode == "minhash":
        banded = _with_fid(mh.banded_ingest_scan(raw, cfg))
    elif cfg.mode == "simhash":
        banded = sh.with_simhash_chunks(sh.with_simhash(files_full, cfg), cfg)
    elif cfg.mode == "substring":
        banded = ss.with_fingerprints(files_full, cfg)
    else:
        banded = files_full
    return files_full, banded.select(*slim_cols, *band_cols)


def split_scan(scan: DataFrame, cfg: DedupConfig) -> tuple[DataFrame, DataFrame | None]:
    """(files, bands): the slim audit table (band columns dropped) and,
    in a band mode, the slim band table (fid, sha, size, n_lines, band
    columns) — column projections of one scan table. bands is None in
    exact and name mode."""
    if cfg.mode not in BAND_MODES:
        return scan, None
    band_cols = BAND_MODES[cfg.mode].cols
    return (
        scan.drop(*band_cols),
        scan.select("fid", "sha", "size", "n_lines", *band_cols),
    )


def band_rows(bands: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(fid, band_id, band_hash) rows of a band table — the LSH input
    of the full run and of an append batch (both sides)."""
    if cfg.mode == "substring":
        return ss.explode_fingerprints(bands)
    return mh.explode_bands(bands)


def near_dup_edges(
    files: DataFrame, cfg: DedupConfig, slim: DataFrame, reps: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Candidate generation + verification for the selected near-dup
    mode. Returns (verified_pairs, dropped_buckets_report).

    ``slim`` is the slim band table (``split_scan``) and ``reps`` its
    one-row-per-distinct-sha representatives: only the reps enter the
    LSH stage; the exact-dup star edges are unioned back in by the
    caller. ``files`` supplies content for the exact verify.
    """
    # Shuffle-only-hashes design: signatures/bands are computed in the
    # scan stage (no shuffle carries content or even the full signature
    # array). Exact-dup collapse happens on the slim (sha, fid) pairs —
    # winners semi-join back — and the exact-verify stage re-reads
    # content from the scan, where Catalyst broadcasts the (small)
    # surviving pair set against it. Content never crosses a shuffle;
    # at 100 TB that is the difference between shuffling ~hashes
    # (≤ 3% of input bytes) and shuffling the corpus itself.
    contents = files.select("fid", "content")

    def _mat(d):  # band-table checkpoint hook → parquet/table when resumable.
        # reuse=False: in the grouped-LSH design the bucket table has
        # exactly ONE consumer (in-bucket pair expansion), so without a
        # checkpoint target an eager localCheckpoint here is a pure
        # driver barrier — stay lazy and let the single downstream
        # materialization pull the chain once.
        return _ckpt(d, cfg, "lsh_buckets", reuse=False)

    if cfg.mode not in BAND_MODES:
        raise ValueError(f"near_dup_edges: unsupported mode {cfg.mode!r}")
    pairs, dropped = lsh_candidate_pairs(band_rows(reps, cfg), cfg, materialize=_mat)
    if cfg.mode == "simhash":
        # verify by Hamming distance (V4 analog), then optional exact Jaccard
        pairs = sh.hamming_filter(pairs, slim, cfg)
    verified = verify_candidate_pairs(pairs, slim, cfg, contents=contents)
    return verified.select("id_a", "id_b"), dropped


def dedupe(raw: DataFrame, cfg: DedupConfig) -> DedupResult:
    """Full pipeline over the contract table. ``mode`` picks candidates:

    - 'exact'    — sha groups only (reference checksum mode, V3)
    - 'name'     — name/size/date matcher (reference default)
    - 'minhash' / 'simhash' / 'substring' — near-dup LSH modes
    """
    if cfg.collapse_versions:
        # commit-axis pre-collapse: the signature pipeline only ever
        # sees the newest version per (repo, path) — on commit-snapshot
        # corpora this is the biggest reduction in the whole run. The
        # collapsed snapshot is MATERIALIZED as a stage: raw is
        # consumed by several jobs (the scan stage, the verify content
        # re-read), and a lazy collapse would re-execute its
        # content-bearing window exchange once per job. Writing the
        # collapsed table instead costs one exchange + one write of the
        # SURVIVORS (~input/versions-per-path — the collapse's own
        # reduction pays for the write) and every downstream pass is
        # then a plain scan, preserving the pipeline's
        # content-never-crosses-a-shuffle posture. On input
        # write-distributed by (repo, path) even that one exchange is
        # elided (see operators/versions.latest_versions). NOTE: state
        # written under collapse_versions=True is a different run
        # identity (fingerprint) and is NOT --append-able — a batch may
        # supersede base versions; incremental_dedupe fails fast.
        from .operators.versions import latest_versions

        raw = _ckpt(
            latest_versions(raw, order_by=cfg.version_order_col),
            cfg,
            "collapsed",
        )
    # Two views of the ingested table:
    # - files_full: lazily re-derived from the raw scan; carries
    #   content, consumed only by the verify content re-read (and the
    #   name matcher);
    # - scan: content-free ingest columns + band columns, materialized
    #   ONCE — `files` (exact edges, keeper election, metrics) and the
    #   slim band table are its column projections, so the corpus is
    #   ingested and signed in one pass. Materializing content here
    #   would double the pipeline's I/O volume: content is ~95% of the
    #   bytes and memory/disk bandwidth is the shared resource that
    #   does NOT scale with cores.
    files_full, scan = scan_tables(raw, cfg)
    files, slim = split_scan(_ckpt(scan, cfg, "scan"), cfg)
    reps = None
    dropped = None

    if cfg.mode == "exact":
        # the groups stay lazy (no stage): the edges are their only
        # consumer, and exact mode has no rep collapse
        edges = exact_dup_pairs_from_groups(files, sha_groups(files))
    elif cfg.mode == "name":
        matches = name_date_matches(files_full, cfg)
        if cfg.invert_selection:
            # J8: result is the no-match work set — no clustering stage
            edges = files.sparkSession.createDataFrame(
                [], "id_a string, id_b string"
            )
            clusters = elect_keepers(
                files, edges.select(F.col("id_a").alias("fid"), F.lit("").alias("component")).limit(0)
            )
            plan = matches.select(
                F.concat_ws("/", "repo", "path").alias("fid"),
                "repo",
                "path",
                F.lit(None).cast("string").alias("component"),
                F.lit(False).alias("is_keeper"),
                F.lit(None).cast("string").alias("duplicate_of"),
                F.lit(cfg.action).alias("action"),
                F.lit(False).alias("size_warning"),
                F.lit(False).alias("date_warning"),
                F.lit(cfg.action).alias("action_effective"),
                F.col("mtime").alias("new_mtime"),
            )
            metrics = run_metrics(plan, files)
            return DedupResult(files, edges, clusters, plan, metrics)
        # role-aware per-pair plan (reference _affect semantics): the
        # work file is affected, the original keeps, warnings gate —
        # NOT role-blind cluster election, which could e.g. delete an
        # original-repo file because the work file won a tie-break
        plan = _ckpt(pair_plan(matches, cfg), cfg, "plan", reuse=False)
        edges = matches.select(
            F.concat_ws("/", "o_repo", "o_path").alias("id_a"),
            F.concat_ws("/", "w_repo", "w_path").alias("id_b"),
        )
        clusters = plan.select("fid", "component", "is_keeper", "duplicate_of")
        metrics = run_metrics(plan, files)
        return DedupResult(files, edges, clusters, plan, metrics)
    else:
        # ONE sha aggregation serves both the rep collapse and the
        # exact-dup star edges (r6). The group table broadcasts (AQE),
        # so the rep semi-join and the edge join are map-side over the
        # scan stage. The reps are their own stage: a durable run
        # persists them for incremental.load_state (append batches
        # probe base representatives without re-aggregating the base
        # band table); in memory they stay lazy.
        groups = _ckpt(sha_groups(files), cfg, "sha_groups", reuse=True)
        reps = _ckpt(sha_representatives(slim, groups), cfg, "band_reps", reuse=False)
        near, dropped = near_dup_edges(files_full, cfg, slim, reps)
        # plain union, no dedup shuffle: the two edge sets are disjoint
        # by construction (exact stars connect fids SHARING a sha; near
        # edges connect sha REPRESENTATIVES, one per distinct sha, so
        # both endpoints differ in sha) and each side is internally
        # duplicate-free (near: candidate pairs are dropDuplicates'd;
        # exact: one row per member fid)
        edges = near.union(exact_dup_pairs_from_groups(files, groups))

    # edges feed only connected_components (which materializes its own
    # undirected edge list), labels feed only the keeper window, the
    # plan is consumed lazily — none need an eager barrier here
    edges = _ckpt(edges, cfg, "edges", reuse=False)
    labels = connected_components(
        edges, cfg.cc_max_iterations, materialize=_cc_materializer(cfg),
        # near edges are dropDuplicates'd canonical pairs, exact stars
        # are one row per member, and the sides are disjoint (see the
        # edges union above) -- skip CC's defensive edge dedup shuffle
        assume_unique_edges=True,
    )
    labels = _ckpt(labels, cfg, "cc_labels", reuse=False)
    clusters = elect_keepers(files, labels, cfg)
    plan = action_plan(clusters, cfg)
    plan = _ckpt(plan, cfg, "plan", reuse=False)
    metrics = run_metrics(plan, files)
    return DedupResult(
        files, edges, clusters, plan, metrics, dropped,
        bands=slim, band_reps=reps,
    )
