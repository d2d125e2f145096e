"""Ingest + key normalization (SURVEY §2.1 S1-S2, §2.2 F1-F6, §2.3 K1-K6).

Input contract (BASELINE.json input_hint): a table with columns
``repo:string, path:string, commit:string, lang:string, content:string``.
This module derives the audit/compare columns declaratively so Catalyst
prunes/pushes everything:

- ``filename/stem/ext`` — reference Path.stem/.suffix (deduplidog.py:468,478)
- ``norm_key`` — the blocking key after space2char / strip_end_counter /
  strip_suffix / casefold / shortening (deduplidog.py:118-126,464-476)
- ``size`` — byte length (reference st_size, deduplidog.py:481)
- ``sha`` — sha2(content,256): the per-row invariant and the exact-dup
  grouping key (replaces chunked CRC32, utils.py:21-32)

All pure built-in expressions: one narrow projection, no shuffle, full
whole-stage codegen. Symlink/zero-size/suffix filters are pushed to the
scan by Catalyst when the source supports it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deduplidog_spark.config import DedupConfig

CONTRACT_COLUMNS = ("repo", "path", "commit", "lang", "content")


def widen_small_scan(df: DataFrame) -> DataFrame:
    """Input-skew guard for CPU-dense stages (guide §2.5 "one huge
    unsplittable file … repartition immediately after the read"): when
    the input resolves to fewer partitions than the cluster has cores —
    a single small parquet file, one unsplittable row group — every
    downstream decode/signature task runs on a fraction of the cluster
    while the rest idles. Round-robin repartition to the default
    parallelism BEFORE the heavy per-row work; the one extra exchange
    moves each input byte once, which the 10-100× per-byte cost of the
    decode/signature kernels immediately amortizes. On real corpora
    (files ≥ cores, the 100 TB case) the condition is false and the
    plan is unchanged — content keeps never crossing a shuffle.

    Streaming inputs pass through untouched: partition introspection
    (`df.rdd`) is illegal on an unstarted streaming plan, and a
    micro-batch's parallelism is the source's concern."""
    if df.isStreaming:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def _casefold_udf():
    """K5 exact mode: Python ``str.casefold`` (Unicode full case
    folding) as an Arrow-vectorized pandas UDF. ``F.lower`` is simple
    case mapping — equal on ASCII but not on e.g. ß (→ss under
    casefold) or ligatures — so corpora that need true
    caseless-blocking semantics set ``casefold_exact``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _fold(s: pd.Series) -> pd.Series:
        return s.str.casefold()

    # explicit signature: module-level `from __future__ import
    # annotations` stringifies hints, and `pd` isn't resolvable in this
    # module's globals for pyspark's get_type_hints pass
    _fold.__annotations__ = {"s": pd.Series, "return": pd.Series}
    casefold = pandas_udf(_fold, "string")

    return casefold


def _normalize_stem(stem: Column, cfg: DedupConfig, shorten: bool) -> Column:
    """K2-K6 — the reference applies these to the *stem* only
    (deduplidog.py:464-476). ``shorten`` applies only on the index
    (originals) side, mirroring work_file_stem_shortened
    (deduplidog.py:125-126,288)."""
    key = stem
    if cfg.space2char:
        key = F.regexp_replace(key, " ", cfg.space2char)  # K2
    if cfg.strip_end_counter:
        key = F.regexp_replace(key, r"\(\d+\)$", "")  # K3
    if cfg.strip_suffix:
        key = F.regexp_replace(key, cfg.strip_suffix + "$", "")  # K4
    if cfg.casefold:
        # K5 — the reference's casefold branch is broken (stem.match...
        # raises AttributeError, deduplidog.py:475-476); we implement the
        # documented intent. Default: F.lower (JVM, codegen-fused,
        # identical to str.casefold on ASCII keys). casefold_exact
        # opts into full Unicode case folding (ß→ss, ﬁ→fi) through an
        # Arrow-batched pandas UDF — off the codegen path, so only pay
        # for it on corpora where the distinction exists.
        key = _casefold_udf()(key) if cfg.casefold_exact else F.lower(key)
    if shorten and cfg.work_file_stem_shortened:
        key = F.substring(key, 1, cfg.work_file_stem_shortened)  # K6
    return key


def with_path_columns(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """The path-derived half of the ingest projection: filename, ext,
    stem, norm_key, norm_key_short — shared verbatim by the standard
    ingest and the fused Python scan (minhash.banded_ingest_scan), so
    key-normalization semantics cannot drift between the two paths."""
    filename = F.element_at(F.split(F.col("path"), "/"), -1)
    # K1: suffix = text after the last dot *if* there is a dot in the
    # filename (Path.suffix semantics: '' when no dot / leading dot only)
    ext = F.when(
        filename.rlike(r"..*\.[^.]+$"),
        F.regexp_extract(filename, r"\.([^.]+)$", 1),
    ).otherwise(F.lit(""))
    stem = F.when(
        filename.rlike(r"..*\.[^.]+$"),
        F.regexp_replace(filename, r"\.[^.]+$", ""),
    ).otherwise(filename)
    out = (
        df.withColumn("filename", filename)
        .withColumn("ext", F.lower(ext))
        .withColumn("stem", stem)
    )
    out = out.withColumn("norm_key", _normalize_stem(F.col("stem"), cfg, shorten=False))
    out = out.withColumn(
        "norm_key_short", _normalize_stem(F.col("stem"), cfg, shorten=True)
    )
    return out


def with_derived_columns(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """One projection adding filename/stem/ext/norm_key/size/sha.

    ``sha`` is the content invariant: nothing downstream ever rewrites
    ``content``, and tests assert sha-set equality pre/post pipeline.
    """
    out = (
        with_path_columns(df, cfg)
        .withColumn("size", F.octet_length("content").cast("long"))
        # V5 cheap numeric feature (frame-count analog): line count,
        # computed in-scan where content is already resident — the
        # numeric-delta verify gate reads this off the slim table so
        # gating never re-touches content
        .withColumn(
            "n_lines", (F.size(F.split(F.col("content"), "\n", -1))).cast("long")
        )
        .withColumn("sha", F.sha2(F.col("content"), 256))
        # P2 quarantine: an unreadable row (NULL content — the table
        # analog of the reference's retry-then-skip on I/O error,
        # deduplidog.py:444-460) is FLAGGED and carried, never crashes
        # a task and never matches (its sha/sig are NULL; the exact and
        # LSH stages exclude NULL keys explicitly).
        .withColumn("quarantined", F.col("content").isNull())
    )
    return out


def apply_row_filters(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """F1-F4 pre-filters. ``is_symlink``/``marked`` are corpus flags when
    present (fixture corpora carry them); missing columns are treated as
    false, like the reference treats non-symlink regular files."""
    cols = set(df.columns)
    if "is_symlink" in cols:
        df = df.filter(~F.coalesce(F.col("is_symlink"), F.lit(False)))  # F2
    # F1: idempotence marker — path already marked by a previous run
    df = df.filter(~F.col("filename").startswith("✓"))
    if cfg.skip_empty:
        # F4 — quarantined rows have NULL size; keep them (flagged) so
        # the run can report them instead of silently dropping
        df = df.filter((F.col("size") > 0) | F.col("quarantined"))
    if cfg.suffixes:
        df = df.filter(
            F.lower(F.col("lang")).isin([s.lower() for s in cfg.suffixes])
        )  # F3 (suffix whitelist mapped onto lang per FIXTURES.md §0)
    return df


def ingest(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Full ingest: derive columns then filter. Scan → single projection →
    filter; Catalyst collapses it into the scan stage."""
    return apply_row_filters(with_derived_columns(df, cfg), cfg)


def split_roles(df: DataFrame, cfg: DedupConfig) -> tuple[DataFrame, DataFrame]:
    """Work vs originals role split (reference work_dir/original_dir,
    deduplidog.py:185-190,216-219). When repos are unset, the whole table
    self-joins (dedupe-within-corpus mode)."""
    if cfg.work_repo is not None and cfg.original_repo is not None:
        work = df.filter(F.col("repo") == cfg.work_repo)
        orig = df.filter(F.col("repo") == cfg.original_repo)
    else:
        work = df
        orig = df
    return work, orig
