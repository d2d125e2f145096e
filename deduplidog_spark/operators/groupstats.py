"""Grouped-map (applyInPandas) operators (SURVEY §2.11.4 shape).

Per-group profiles that need true pandas semantics (interpolated
quantiles) rather than Spark's approximate percentiles — one group in,
one summary row out. The grouped-map form is also the template for the
per-group suffix-array variant of substring matching (group → local
index → pair rows out); the winnowing equi-join (operators/substring)
is the default because it distributes without grouping, but the
grouped form is the escape hatch when a corpus partition genuinely
needs an in-memory index.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduplidog_spark.operators.candidates import drop_oversized_groups

PROFILE_SCHEMA = (
    "repo string, n_files long, total_bytes long, median_size double, "
    "p90_size double, distinct_sha long, dup_ratio double"
)


def repo_profiles(files: DataFrame) -> DataFrame:
    """Per-repo dedup profile: size quantiles + duplicate ratio
    (1 - distinct_sha/n). Input needs (repo, size, sha)."""

    def profile(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        # quarantined rows carry NULL sha (ingest): they are neither
        # distinct content nor duplicates — dup_ratio is defined over
        # the hashed rows only (nunique() skips NaN but a plain len()
        # would not, silently inflating the ratio for any repo with
        # unreadable files)
        hashed = pdf["sha"].dropna()
        n_hashed = len(hashed)
        distinct = hashed.nunique()
        return pd.DataFrame(
            {
                "repo": [pdf["repo"].iloc[0]],
                "n_files": [n],
                "total_bytes": [int(pdf["size"].sum())],
                # 4dp rounding: pandas' linear interpolation and DuckDB's
                # quantile_cont agree mathematically but differ by ~1 ulp
                # in float96-vs-float64 accumulation order; rounding makes
                # the column oracle-comparable bit-for-bit
                "median_size": [round(float(pdf["size"].median()), 4)],
                "p90_size": [round(float(pdf["size"].quantile(0.9)), 4)],
                "distinct_sha": [distinct],
                "dup_ratio": [
                    round(1.0 - distinct / n_hashed, 4) if n_hashed else 0.0
                ],
            }
        )

    return (
        files.select("repo", "size", "sha")
        .groupBy("repo")
        .applyInPandas(profile, PROFILE_SCHEMA)
    )


def fork_pairs(
    files: DataFrame,
    tau: float = 0.5,
    max_sha_repos: int = 64,
    min_shared: int = 2,
    materialize=None,
) -> tuple[DataFrame, DataFrame]:
    """Cross-repo fork detection: repo pairs whose distinct-content
    sets overlap with Jaccard >= ``tau``.

    At 10^12-file scale forked repositories are the dominant
    duplication mode (the reference's whole-directory compare,
    deduplidog.py:262-288, generalized to repo granularity): finding
    them lets a pipeline drop or keeper-elect entire repos before any
    per-file LSH work. Input needs (repo, sha) — the ingest projection.

    Scale shape (a count pre-pass and cap like
    candidates.lsh_candidate_pairs, but its own list expansion):
    - one distinct over slim (repo, sha) rows — content never moves;
    - hot-sha guard: a sha present in > ``max_sha_repos`` repos
      (vendored licences, empty __init__.py, boilerplate) contributes
      O(k²) pairs and zero fork signal. A map-side-combined count
      pre-pass + broadcast anti-join removes them BEFORE any owner
      list materializes, bounding per-sha state at cap × repo bytes.
      Jaccard is therefore over the *pruned* sets on both sides —
      "overlap of non-ubiquitous content", the honest fork signal —
      and the dropped shas are returned as a report, like LSH's
      dropped-buckets log;
    - co-occurrence counting, not an O(|pairs|) self-join: per-sha
      sorted owner lists expand in-partition via the JVM
      transform/slice expression, then one partial-aggregated count
      per (repo_a, repo_b);
    - repo sizes are one row per repo → AQE broadcasts the size joins
      when the repo count fits (no forced hint: at 10^8+ repos the
      table is itself too big to ship to the driver).

    ``materialize`` is the caller's checkpoint hook (pass the
    pipeline's parquet ``_ckpt`` on long runs): the slim pruned
    (repo, sha) table feeds BOTH the size aggregate and the owner-list
    aggregate, so materializing it scans the corpus once instead of
    twice. The local default keeps the plan lazy.

    Returns (pairs, hot_sha_report); pairs carry
    (repo_a, repo_b, shared, n_a, n_b, jaccard) with repo_a < repo_b.
    """
    if materialize is None:
        materialize = lambda d: d  # noqa: E731
    # NULL sha (quarantined / unreadable content) must not count as
    # shared content — and it CANNOT be removed by the hot-sha guard
    # below, because a left_anti equality join never matches NULL keys:
    # without this filter, every repo holding one unreadable file
    # "shares" the NULL sha, and a corpus-wide NULL group would expand
    # O(repos²) pair structs from a single owner row. Same convention
    # as exact.exact_dup_pairs_from_groups.
    rs = (
        files.filter(F.col("sha").isNotNull()).select("repo", "sha").distinct()
    )
    pruned, hot = drop_oversized_groups(rs, ["sha"], max_sha_repos, "n_repos")
    pruned = materialize(pruned)
    sizes = pruned.groupBy("repo").agg(F.count("*").alias("n"))
    owners = (
        pruned.groupBy("sha")
        .agg(F.array_sort(F.collect_list("repo")).alias("repos"))
        .filter(F.size("repos") > 1)
    )
    repos = F.col("repos")
    combos = F.flatten(
        F.transform(
            repos,
            lambda x, i: F.transform(
                F.slice(repos, i + 2, F.size(repos)),
                lambda y: F.struct(x.alias("repo_a"), y.alias("repo_b")),
            ),
        )
    )
    inter = (
        owners.select(F.explode(combos).alias("p"))
        .groupBy("p.repo_a", "p.repo_b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    pairs = (
        # sizes is one row per repo — corpus-cardinality at 10^12-file
        # scale, so no forced broadcast (a F.broadcast hint bypasses
        # AQE's size check and is a driver-OOM cliff at 10^8 repos);
        # AQE broadcasts it when it actually fits, sort-merge otherwise
        inter.join(
            sizes.withColumnRenamed("repo", "repo_a").withColumnRenamed("n", "n_a"),
            "repo_a",
        )
        .join(
            sizes.withColumnRenamed("repo", "repo_b").withColumnRenamed("n", "n_b"),
            "repo_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 4
            ),
        )
        .filter(F.col("jaccard") >= tau)
        .select("repo_a", "repo_b", "shared", "n_a", "n_b", "jaccard")
    )
    return pairs, hot
