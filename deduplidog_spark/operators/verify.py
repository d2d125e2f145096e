"""Pair verification (SURVEY §2.5 V5/V8).

Cheap-first, like the reference's short-circuit chain
(deduplidog.py:707-715): length-ratio gate (the V5 frame-count-delta
analog) → MinHash signature agreement (JVM-side, no Python) → exact
shingle Jaccard in an Arrow-batched pandas UDF only for survivors.
The exact stage is the only place pair contents are shuffled; the two
cheap gates typically eliminate >90% of LSH false positives first.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from deduplidog_spark.config import DedupConfig
from deduplidog_spark.functions import hashing as H
from deduplidog_spark.operators.minhash import signature_agreement


def size_ratio_gate(size_a, size_b, min_ratio: float):
    """V5 analog: |len ratio| cheap pre-filter — Jaccard of sets sized
    (sa, sb) is at most min/max, so ratio < τ can never verify."""
    return (F.least(size_a, size_b).cast("double") / F.greatest(size_a, size_b)) >= min_ratio


def numeric_delta_gate(a, b, max_delta: int):
    """V5 proper (reference accepted_frame_delta,
    deduplidog.py:144-145,727-731: ``abs(frames(w) - frames(o)) <=
    delta``): absolute-delta predicate on a cheap numeric feature —
    pure JVM comparison, applied to the slim table before any content
    is touched."""
    return F.abs(a - b) <= max_delta


def make_jaccard_udf(cfg: DedupConfig):
    """Exact shingle-Jaccard per pair — iterator-form Arrow UDF with a
    per-task shingle-set memo (r6): each document appears in as many
    candidate pairs as its bucket degree (hundreds of times on
    high-background corpora), and re-shingling the text per PAIR made
    the exact stage O(pairs · doc_len) instead of O(docs · doc_len +
    pairs · set_intersect). The memo lives for the task (guide §4.5 —
    state constructed once before the batch loop), keyed by the content
    string, and is cleared past ~8k entries to bound worker memory."""
    from typing import Iterator, Tuple

    k = cfg.shingle_k

    def _pair_jaccard(batches):
        cache: dict[str, object] = {}

        def sset(t: str):
            s = cache.get(t)
            if s is None:
                if len(cache) > 8192:
                    cache.clear()
                s = H.shingle_set_u32(t, k)
                cache[t] = s
            return s

        for a, b in batches:
            yield pd.Series(
                [
                    H.jaccard_of_sets(sset(x), sset(y))
                    if x is not None and y is not None
                    else 0.0
                    for x, y in zip(a, b)
                ],
                dtype="float64",
            )

    # explicit annotations: module-level `from __future__ import
    # annotations` stringifies hints and pyspark's get_type_hints pass
    # can't resolve the pipe-free generic form — same pattern as
    # ingest._casefold_udf
    _pair_jaccard.__annotations__ = {
        "batches": Iterator[Tuple[pd.Series, pd.Series]],
        "return": Iterator[pd.Series],
    }
    return pandas_udf(_pair_jaccard, T.DoubleType())


def make_lcs_udf():
    """Longest-common-substring length (pair-level) — the verifier for
    substring mode: winnowing fingerprints guarantee candidates for any
    shared block ≥ window+k-1 bytes; this measures the actual block."""

    @pandas_udf(T.IntegerType())
    def lcs_len(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [
                H.longest_common_substring_len(x, y)
                if x is not None and y is not None
                else 0
                for x, y in zip(a, b)
            ]
        )

    return lcs_len


def _lev(x: str, y: str) -> int:
    """Exact Levenshtein, no Python inner loop: prefix/suffix trim +
    numpy row sweeps (the left-to-right ``cur[j] = min(cur[j-1]+1,
    t[j])`` carry folds into ``minimum.accumulate(t - j) + j``).
    Module-level so the property suite can pin it against a reference
    DP (test_hashing.py)."""
    import numpy as np

    # prefix/suffix trim: edits live strictly between them
    p = 0
    lim = min(len(x), len(y))
    while p < lim and x[p] == y[p]:
        p += 1
    s = 0
    while s < lim - p and x[len(x) - 1 - s] == y[len(y) - 1 - s]:
        s += 1
    x = x[p : len(x) - s]
    y = y[p : len(y) - s]
    if not x:
        return len(y)
    if not y:
        return len(x)
    # surrogatepass: lone surrogates must score, not crash — Arrow
    # hands the UDF valid UTF-8, but direct library callers can pass
    # any Python str (hashing.py makes the same choice)
    xa = np.frombuffer(x.encode("utf-32-le", "surrogatepass"), dtype=np.uint32)
    ya = np.frombuffer(y.encode("utf-32-le", "surrogatepass"), dtype=np.uint32)
    lb = len(ya)
    j = np.arange(1, lb + 1)
    prev = np.arange(lb + 1)
    for i, cx in enumerate(xa, 1):
        # t[j] = min(prev[j] + 1, prev[j-1] + subst_cost)
        t = np.minimum(prev[1:] + 1, prev[:-1] + (ya != cx))
        # fold in cur[j-1] + 1 (left-to-right carry) via the
        # accumulate identity: cur[j] = min_{k<=j}(t[k] + j - k),
        # seeded by the row head cur[0] = i
        t = np.minimum(t, i + j)
        cur = np.empty(lb + 1, dtype=prev.dtype)
        cur[0] = i
        cur[1:] = np.minimum.accumulate(t - j) + j
        prev = cur
    return int(prev[lb])


def make_edit_ratio_udf():
    """Normalized edit-distance similarity 1 - lev(a,b)/max(len) —
    ``F.levenshtein`` exists but materializes the full DP on long
    strings (SURVEY §7 risk); this UDF short-circuits on equality and
    the length bound, trims the common prefix/suffix (near-dups share
    most of both, shrinking the DP to the edited middle), and runs the
    remaining DP as numpy row sweeps instead of a per-cell Python
    loop: the left-to-right ``cur[j] = min(cur[j-1]+1, t[j])``
    dependence folds into ``minimum.accumulate(t - j) + j`` — exact
    Levenshtein, no Python inner loop (~40× on 1 KB pairs)."""

    @pandas_udf(T.DoubleType())
    def edit_ratio(a: pd.Series, b: pd.Series) -> pd.Series:
        def ratio(x: str | None, y: str | None) -> float:
            if x is None or y is None:
                return 0.0
            if x == y:
                return 1.0
            la, lb = len(x), len(y)
            m = max(la, lb)
            if m == 0:
                return 1.0
            if min(la, lb) / m < 0.5:
                return min(la, lb) / m  # length bound dominates
            return 1.0 - _lev(x, y) / m

        return pd.Series([ratio(x, y) for x, y in zip(a, b)])

    return edit_ratio


def verify_candidate_pairs(
    pairs: DataFrame,
    files: DataFrame,
    cfg: DedupConfig,
    sigs: DataFrame | None = None,
    contents: DataFrame | None = None,
) -> DataFrame:
    """pairs (id_a, id_b) → verified pairs with ``jaccard``.

    Staged narrow-to-wide: each gate joins only the columns it needs —
    (size) first, then (sig), and full content only for the survivors
    of both. At scale the candidate set can be orders of magnitude
    larger than the verified set (background shingle similarity ×
    N²/2 band collisions), so shuffling 1-2 KB contents per candidate
    is the difference between a 10s and a 100s verify stage.

    ``files`` must carry (fid, size); content for the exact stage comes
    from ``contents`` (fid, content) when given — typically the raw
    scan, so the (small) surviving pair set broadcasts against it and
    content never crosses a shuffle — else from ``files``.
    ``sigs`` (fid, sig) optionally enables the signature-agreement gate.
    Its fids must be a subset of ``files``' fids: the signature column
    is inner-joined onto the ``files`` features, so a pair with an
    endpoint missing from ``files`` is dropped.
    """
    if contents is None:
        contents = files.select("fid", "content")
    substring_mode = cfg.mode == "substring"
    # ONE features projection serves every cheap gate, so the pair
    # table is joined with per-doc metadata exactly once per side
    # (r6): the gate-per-join shape paid 2 joins per enabled gate —
    # 6 joins + 6 AQE stage boundaries with size+lines+sig on — for
    # predicates that are conjunctive filters over the same slim rows.
    # Gate set and thresholds are unchanged, so the surviving pair set
    # is identical.
    feat_cols, gates = [], []
    if not substring_mode:
        # size-ratio gate is wrong for substring semantics: a shared
        # 2 KB block inside a 1 MB file and a 4 KB file is a match
        feat_cols.append("size")
        gates.append(
            size_ratio_gate(
                F.col("size_a"), F.col("size_b"), cfg.size_ratio_prefilter
            )
        )
    if cfg.line_delta_max is not None and "n_lines" in files.columns:
        feat_cols.append("n_lines")
        gates.append(
            numeric_delta_gate(
                F.col("n_lines_a"), F.col("n_lines_b"), cfg.line_delta_max
            )
        )
    feat = files.select("fid", *feat_cols)
    if sigs is not None:
        # fold the signature column into the same features table (one
        # fid-keyed join of two slim per-doc tables — in practice both
        # are projections of the same checkpointed stage) instead of a
        # second pair-table join pair
        feat = feat.join(sigs.select("fid", "sig"), "fid")
        feat_cols.append("sig")
        gates.append(
            signature_agreement(F.col("sig_a"), F.col("sig_b"))
            >= cfg.sig_est_threshold
        )
    out = pairs
    if feat_cols:
        fa = feat.select(
            F.col("fid").alias("id_a"),
            *[F.col(c).alias(f"{c}_a") for c in feat_cols],
        )
        fb = feat.select(
            F.col("fid").alias("id_b"),
            *[F.col(c).alias(f"{c}_b") for c in feat_cols],
        )
        gate = gates[0]
        for g in gates[1:]:
            gate = gate & g
        out = (
            out.join(fa, "id_a").join(fb, "id_b").filter(gate)
            .select("id_a", "id_b")
        )
    if cfg.exact_verify:
        # content is attached in ONE pass over the corpus (r6): a
        # semi-join keeps only rows that appear in a surviving pair,
        # and both sides of the pair join read that (pair-bounded)
        # table — the per-side shape scanned the full content column
        # twice, once under id_a and once under id_b (guide §8:
        # decide with small rows, then move heavy bytes once). The
        # gated pair set is lazily checkpointed so its two consumers
        # (the id set and the outer join) share one evaluation.
        out = out.localCheckpoint(eager=False)
        ids = out.select(
            F.explode(F.array("id_a", "id_b")).alias("fid")
        ).distinct()
        cset = contents.join(ids, "fid", "left_semi")
        if substring_mode:
            # verify the actual shared-block length, not global overlap
            cset = cset.localCheckpoint(eager=False)
            ca = cset.select(F.col("fid").alias("id_a"), F.col("content").alias("content_a"))
            cb = cset.select(F.col("fid").alias("id_b"), F.col("content").alias("content_b"))
            # non-deterministic for the same reason as the Jaccard UDF
            # below: the lcs_len filter must not duplicate the UDF
            lcs = make_lcs_udf().asNondeterministic()
            out = (
                out.join(ca, "id_a").join(cb, "id_b")
                .withColumn("lcs_len", lcs(F.col("content_a"), F.col("content_b")))
                .filter(F.col("lcs_len") >= cfg.effective_substring_min_len)
                .withColumn("jaccard", F.lit(None).cast("double"))
            )
        else:
            # pair-bounded content, attached once per side from the
            # single-scan ``cset``; exact Jaccard via the memoized
            # shingle-set UDF, marked NON-DETERMINISTIC so the
            # threshold filter cannot be pushed below it — without the
            # mark the optimizer duplicates the UDF around the pushed
            # filter and every pair pays the Python stage twice
            # (guide §4.4). A sets-as-arrays variant (per-doc shingle
            # arrays + per-pair intersect) was measured and rejected:
            # a shingle set is ~4 bytes per CHARACTER of text, so
            # shipping sets quadruples the pair-stage Arrow traffic
            # relative to shipping the content itself.
            cset = cset.localCheckpoint(eager=False)
            ca = cset.select(F.col("fid").alias("id_a"), F.col("content").alias("content_a"))
            cb = cset.select(F.col("fid").alias("id_b"), F.col("content").alias("content_b"))
            jac = make_jaccard_udf(cfg).asNondeterministic()
            out = (
                out.join(ca, "id_a").join(cb, "id_b")
                .withColumn("jaccard", jac(F.col("content_a"), F.col("content_b")))
                .filter(F.col("jaccard") >= cfg.jaccard_threshold)
                .drop("content_a", "content_b")
            )
    else:
        out = out.withColumn("jaccard", F.lit(None).cast("double"))
    return out.select("id_a", "id_b", "jaccard")
