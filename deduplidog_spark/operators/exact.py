"""Exact-duplicate grouping by content hash (SURVEY §2.6 A7, V3).

The reference verifies content with chunked CRC32 only after size
equality (utils.py:21-32, deduplidog.py:714); at corpus scale the idiom
is one ``groupBy(sha2(content, 256))``. Map-side partial aggregation
makes this a single shuffle on the 32-byte hash — uniformly distributed,
so no skew by construction (a giant identical-content group lands on one
reducer, but its aggregate state is one row: count + member list; we cap
the member list for display queries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_dup_groups(
    files: DataFrame, min_size: int = 1, member_cap: int = 1000
) -> DataFrame:
    """Groups of byte-identical content: (sha, n_files, size, members).

    members sorted for determinism (reference scan order, SURVEY W5)
    and capped at ``member_cap`` BEFORE the collect (window rank, not a
    post-slice): a boilerplate sha holding 5% of a 10^12-row corpus
    would otherwise materialize billions of fids in one aggregation
    buffer. ``n_files`` still counts every member. The rank window and
    the groupBy share the sha hash-partitioning, so the cap costs no
    extra shuffle.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("sha").orderBy(F.concat_ws("/", "repo", "path"))
    ranked = (
        files.filter(F.col("size") >= min_size)
        .filter(F.col("sha").isNotNull())
        .withColumn("_rn", F.row_number().over(w))
    )
    return (
        ranked.groupBy("sha")
        .agg(
            F.count("*").alias("n_files"),
            F.first("size").alias("size"),
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_rn") <= member_cap,
                        F.concat_ws("/", "repo", "path"),
                    )
                )
            ).alias("members"),
        )
        .filter(F.col("n_files") > 1)
    )


def sha_groups(files: DataFrame) -> DataFrame:
    """ONE aggregation serving both sha-collapse (``sha_representatives``)
    and exact-dup edges (r6): (sha, root=min fid, n) over every row —
    including the NULL sha group, whose root row is collapsed like any
    other while the exact-edge join can never match it (equality joins
    skip NULL keys)."""
    return files.groupBy("sha").agg(
        F.min(F.concat_ws("/", "repo", "path")).alias("root")
        if "fid" not in files.columns
        else F.min("fid").alias("root"),
        F.count("*").alias("n"),
    )


def exact_dup_pairs_from_groups(files: DataFrame, groups: DataFrame) -> DataFrame:
    """Edge list (id_a, id_b) of exact duplicates against a
    ``sha_groups`` table — feeds connected components. Star-shaped per
    group (each member → group root), not the full clique: O(n) edges
    per group instead of O(n²), which is what keeps the 5%-boilerplate
    skew group (FIXTURES.md §3) from exploding."""
    # NULL sha (quarantined / undecodable content) must not group: a
    # NULL-keyed star would declare every quarantined row an exact
    # duplicate of every other, so the rows are filtered here and the
    # equality join never matches the groups' NULL row either
    w = files.filter(F.col("sha").isNotNull()).select(
        F.col("sha"), F.concat_ws("/", "repo", "path").alias("fid")
    )
    return (
        w.join(groups.filter(F.col("n") > 1).select("sha", "root"), "sha")
        .filter(F.col("fid") != F.col("root"))
        .select(F.col("root").alias("id_a"), F.col("fid").alias("id_b"))
    )


def sha_representatives(bands: DataFrame, groups: DataFrame) -> DataFrame:
    """One representative row per distinct sha (min fid, deterministic —
    SURVEY W5): the rows of ``bands`` whose fid is a ``sha_groups``
    root. The collapse that keeps byte-identical copies out of the LSH
    stage, shared by the full run and append batches — rep selection
    must agree everywhere or incremental appends would probe different
    representatives than the full run persisted."""
    return bands.join(groups.select(F.col("root").alias("fid")), "fid", "left_semi")
