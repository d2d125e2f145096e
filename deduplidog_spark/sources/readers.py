"""Sources and sinks (SURVEY §2.1 S1-S7).

The contract input is an Iceberg table of ``(repo, path, commit, lang,
content)``; this module provides the readers the reference's scans map
to, each degrading gracefully in environments without the matching
connector jars:

- S1/S2 ``read_corpus`` — Iceberg when the catalog is configured,
  parquet otherwise (same DataFrame downstream).
- S1-at-FS ``read_binary_tree`` — ``binaryFile`` source for raw
  directory trees (the reference's rglob, deduplidog.py:282-283).
- S4 ``read_takeout_sidecars`` + ``join_sidecar_time_sets`` — JSON
  sidecar join (utils.py:196-205): timestamp sets keyed by truncated
  filename.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_corpus(spark: SparkSession, location: str) -> DataFrame:
    """Iceberg table name (catalog.db.table) or parquet path. A name
    without ``/`` is read as a table first; when that fails it is
    read as a parquet path, and if that fails too the parquet error is
    raised from the table error, so a missing catalog or table is not
    reported as a missing path only."""
    if "/" not in location:
        try:
            return spark.read.table(location)
        except Exception as table_err:
            try:
                return spark.read.parquet(location)
            except Exception as parquet_err:
                raise parquet_err from table_err
    return spark.read.parquet(location)


def read_binary_tree(spark: SparkSession, root: str, glob: str = "*") -> DataFrame:
    """Scan a real directory tree into the contract schema: one row per
    file, content as binary + a decoded text column where valid UTF-8.
    This is the reference's recursive scan (S1) as a Spark source —
    listing and reading distribute across executors."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    return raw.select(
        F.lit("fs").alias("repo"),
        F.col("path"),
        F.lit("head").alias("commit"),
        F.lower(F.regexp_extract(F.col("path"), r"\.([^./]+)$", 1)).alias("lang"),
        F.col("content").cast("string").alias("content"),
        F.col("modificationTime").alias("mtime"),
        F.lit(False).alias("is_symlink"),
    )


def read_takeout_sidecars(
    spark: SparkSession, json_path: str, key_chars: int = 46
) -> DataFrame:
    """S4: Google-Takeout-style JSON sidecars — photo metadata keyed by
    the first ``key_chars`` of the media filename (utils.py:196-205).
    Returns (sidecar_key, taken_ts) for an equi-join against
    substring(filename, 1, key_chars)."""
    j = spark.read.json(json_path)
    return j.select(
        F.substring(F.col("title"), 1, key_chars).alias("sidecar_key"),
        F.to_timestamp(
            F.col("photoTakenTime.timestamp").cast("long")
        ).alias("taken_ts"),
    )


def join_sidecar_time_sets(
    files: DataFrame, sidecars: DataFrame, key_chars: int = 46
) -> DataFrame:
    """V6 EXIF-set semantics: a file can carry SEVERAL auxiliary
    datetimes (EXIF original/digitized/GPS + sidecars — the reference
    collects the whole set, helpers.py:32-41). Aggregates every sidecar
    timestamp per key into ``aux_ts array<timestamp>``; the proximity
    check is then an ``exists`` over the set, not a single-column
    compare."""
    agg = sidecars.groupBy("sidecar_key").agg(
        F.array_sort(F.collect_list("taken_ts")).alias("aux_ts")
    )
    keyed = files.withColumn(
        "sidecar_key", F.substring(F.element_at(F.split("path", "/"), -1), 1, key_chars)
    )
    return keyed.join(F.broadcast(agg), "sidecar_key", "left").drop("sidecar_key")


def time_set_proximity(ts_col, aux_col, seconds: float):
    """V6 predicate: ANY timestamp of the aux set within ±seconds of
    the file's own (reference: any EXIF datetime within 3600 s,
    deduplidog.py:744-749) — an exists-over-array, pure JVM.

    Expressed as an ``F.aggregate`` boolean fold rather than
    ``F.exists``: Spark 4.1's ArrayExists/ArrayTransform drop the
    OUTER column (``ts_col``) from the predicate's reference set, so
    the optimizer pushes the filter below a join to the aux-array side
    and binding fails with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND;
    ArrayAggregate reports its references correctly. Same semantics,
    same single pass over the array."""
    own = ts_col.cast("timestamp").cast("double")
    return F.aggregate(
        aux_col,
        F.lit(False),
        lambda acc, t: acc
        | (F.abs(own - t.cast("timestamp").cast("double")) <= F.lit(float(seconds))),
    )
