"""LSH candidate-pair generation with skew guards (SURVEY §2.4 J5, §4.3).

The shared machinery behind the minhash / simhash / substring modes:
band rows (fid, band_id, band_hash) self-join, bucket by bucket, into
candidate pairs.

Scale analysis (the stage that decides 100 TB viability):
- the join key (band_id, band_hash) is high-cardinality; honest buckets
  hold a handful of docs → pair counts stay near-linear;
- skew comes from boilerplate: one hot content (5% of a corpus) would
  make one bucket of size h and h²/2 pairs. Two guards:
  (a) byte-identical content never reaches LSH — the pipeline
      deduplicates on sha first and sends one representative per sha
      (SURVEY §7 risk list: "rely on sha256 exact groups");
  (b) ``max_bucket_size`` caps what remains: buckets bigger than the
      cap are dropped and *logged* (standard LSH practice — a pair
      sharing one giant bucket almost always shares an honest one).
- AQE skew-join splitting handles residual imbalance at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduplidog_spark.config import DedupConfig


def _bucket_pairs(
    members: DataFrame, cfg: DedupConfig, materialize
) -> tuple[DataFrame, DataFrame]:
    """THE LSH bucket kernel, shared by the full run
    (``lsh_candidate_pairs``) and the append path
    (``incremental.incremental_candidate_pairs``): rows (fid, band_id,
    band_hash, is_new) → (distinct pairs id_a < id_b with at least one
    ``is_new`` endpoint, dropped-buckets report).

    One count pre-pass (map-side combinable — its shuffle carries ~one
    compact key row per distinct (band_id, band_hash) per partition)
    classifies every bucket: > ``max_bucket_size`` → dropped and
    *logged*, per standard LSH practice (SURVEY §4.3); == 1 → can never
    emit a pair. Only the members of the 2..cap buckets — the REAL
    candidate buckets, tiny relative to the band table because honest
    buckets are singletons — pass a semi-join on those keys (bench:
    5.8M band rows → ~0.4M); AQE broadcasts the key set when it fits.
    The survivors equi-join themselves on (band_id, band_hash): the
    member rows shuffle once (the other join side reuses that
    exchange), and the join, the pair filter and the partial dedup run
    in whole-stage codegen.

    The report carries ``n_base`` (members with ``is_new`` false) and
    ``base_kept_divergence``: true ⇔ the base run kept this bucket (its
    base-only size was under the cap) but the new rows pushed it over,
    so base labels may retain edges a full recompute would not emit.

    ``materialize`` is applied exactly once, to the 2..cap bucket key
    table; only its keys are read back, so a stage that also carries
    other columns serves as well."""
    cap = cfg.max_bucket_size
    counts = members.groupBy("band_id", "band_hash").agg(
        F.count("*").alias("bucket_size"),
        F.sum(F.when(F.col("is_new"), 0).otherwise(1)).alias("n_base"),
    )
    dropped_report = counts.filter(F.col("bucket_size") > cap).withColumn(
        "base_kept_divergence", (F.col("n_base") > 0) & (F.col("n_base") <= cap)
    )
    key = ["band_id", "band_hash"]
    multi = materialize(
        counts.filter((F.col("bucket_size") > 1) & (F.col("bucket_size") <= cap))
        .select(*key)
    ).select(*key)
    kept = members.join(multi, key, "left_semi")

    def side(s: str) -> DataFrame:
        return kept.select(
            *key, F.col("fid").alias(f"id_{s}"), F.col("is_new").alias(f"new_{s}")
        )

    pairs = (
        side("a").join(side("b"), key)
        .filter((F.col("id_a") < F.col("id_b")) & (F.col("new_a") | F.col("new_b")))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs, dropped_report


def lsh_candidate_pairs(
    band_rows: DataFrame, cfg: DedupConfig, materialize=None
) -> tuple[DataFrame, DataFrame]:
    """band rows (fid, band_id, band_hash) → distinct pairs
    (id_a < id_b). Returns (pairs, dropped_buckets_report).

    Every row is marked new and fed to the shared bucket kernel
    (``_bucket_pairs``), which self-joins the members of the 2..cap
    buckets.

    ``materialize`` is the caller's checkpoint hook for the 2..cap
    bucket key table (the pipeline passes its parquet ``_ckpt`` so the
    table survives executor loss and resumes across runs, instead of
    pinning rows in executor storage via localCheckpoint)."""
    if materialize is None:
        # eager=False: the key table has exactly one consumer (the
        # member semi-join, a full scan), so the lazy form caches
        # identically while skipping the separate materialization job
        materialize = lambda d: d.localCheckpoint(eager=False)  # noqa: E731
    return _bucket_pairs(
        band_rows.select("fid", "band_id", "band_hash", F.lit(True).alias("is_new")),
        cfg,
        materialize,
    )


def salt_column(key, unique_col, buckets: int):
    """Salting helper for hot keys (SURVEY §4.3): deterministically
    spread a skewed grouping key over ``buckets`` shards by hashing a
    unique column (e.g. path). Aggregations run salted first, then
    re-aggregate the ``buckets`` partials — two small shuffles instead
    of one skewed one. Returns a STRUCT (key, salt), not a delimited
    string: a delimiter would corrupt un-salting for any key that
    contains the delimiter itself."""
    return F.struct(
        key.alias("key"),
        F.pmod(F.xxhash64(unique_col), F.lit(buckets)).cast("int").alias("salt"),
    )


def drop_oversized_groups(
    df: DataFrame, keys: list[str], cap: int, size_col: str = "group_size"
) -> tuple[DataFrame, DataFrame]:
    """Group skew cap: count pre-pass + broadcast anti-join.

    Removes groups larger than ``cap`` BEFORE any per-group state
    (inverted lists, owner lists) materializes. The
    groupBy count partial-aggregates map-side — its shuffle carries
    ~one row per distinct key per partition — and the oversized key
    set is tiny by construction, so it broadcasts. The window-count
    alternative shuffles the full table on exactly the skewed key the
    cap exists to guard (windows don't partial-aggregate).

    Shared by both ANN paths, the media Hamming join and fork
    detection, so the cap semantics agree across those operators. The
    LSH band stage does NOT use it: ``_bucket_pairs`` classifies
    buckets in its own count pre-pass, because it keeps the 2..cap
    keys rather than anti-joining the oversized ones.

    Returns (pruned, oversized_report); the report carries the group
    keys plus ``size_col``.
    """
    oversized = (
        df.groupBy(*keys)
        .agg(F.count("*").alias(size_col))
        .filter(F.col(size_col) > cap)
    )
    pruned = df.join(F.broadcast(oversized.select(*keys)), keys, "left_anti")
    return pruned, oversized
