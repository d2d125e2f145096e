"""Physical-plan audit — machine-checked scale invariants.

Builds the headline minhash pipeline and representative queries, grabs
their FORMATTED physical plans, and asserts the properties the design
claims (BENCH.md "Candidate-volume guardrails"):

1. no hash/range Exchange carries the ``content`` column — content
   never crosses a shuffle (sha/signatures/bands are computed in-scan;
   exact verify broadcasts the surviving pair ids against a fresh
   scan) — and the content-bearing round-robin widens are at most one
   per scan, directly above it;
2. filter + projection queries reach the parquet scan as PushedFilters
   / a pruned ReadSchema;
3. the plans stay inside WholeStageCodegen except at the two declared
   Arrow UDF stages (ArrowEvalPython) and exchanges.

Writes PLAN_AUDIT.md with the verdicts + plan excerpts, exits nonzero
on any violation. Run: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def exchanges_carrying(
    plan: str, column: str, ignore_roundrobin: bool = True
) -> list[str]:
    """Names of Exchange/Broadcast nodes whose Input/Output lists carry
    ``column`` (details section of the formatted plan).

    ``ignore_roundrobin`` (r6): the audited invariant is that content
    never crosses a HASH/RANGE exchange — i.e. heavy payloads are
    never moved to group, join or sort them. ``ingest.widen_small_scan``
    adds a RoundRobinPartitioning repartition when the input resolves
    to fewer partitions than the cluster has cores (one small file, an
    unsplittable row group): it moves each input byte ONCE, before the
    CPU-dense per-row stages, and never fires on real corpora (files ≥
    cores). The audit fixtures are exactly such degenerate one-file
    inputs, so round-robin widens are excluded from the content check
    and asserted separately to be the ONLY content-bearing kind."""
    hits = []
    blocks = re.split(r"\n(?=\(\d+\) )", plan)
    for b in blocks:
        header = b.split("\n", 1)[0]
        if "Exchange" not in header:
            continue
        body = b.split("\n", 1)[1] if "\n" in b else ""
        if ignore_roundrobin and "RoundRobinPartitioning" in body:
            continue
        if re.search(rf"\b{column}#\d+", body):
            hits.append(header.strip())
    return hits


def roundrobin_widens(plan: str) -> tuple[int, list[str], list[str]]:
    """(number of scan nodes, content-bearing RoundRobinPartitioning
    exchanges, the subset NOT directly above a scan) of a formatted
    plan. "Directly above" means the exchange's subtree in the plan
    tree reaches a scan leaf through no other exchange — the shape
    ``ingest.widen_small_scan`` produces."""
    widens = sorted(
        set(exchanges_carrying(plan, "content", ignore_roundrobin=False))
        - set(exchanges_carrying(plan, "content"))
    )
    tree = plan.split("\n\n", 1)[0].splitlines()
    depth = [re.search(r"[A-Za-z]", line).start() for line in tree]
    n_scans = sum(1 for line in tree if re.search(r"\bScan \w+", line))
    misplaced = []
    for header in widens:
        node_id = re.match(r"\((\d+)\)", header).group(1)
        at = next(i for i, line in enumerate(tree) if line.endswith(f"({node_id})"))
        below = []
        for i in range(at + 1, len(tree)):
            if depth[i] <= depth[at]:
                break
            below.append(tree[i])
        if any("Exchange" in b for b in below) or not any(
            re.search(r"\bScan \w+", b) for b in below
        ):
            misplaced.append(header)
    return n_scans, widens, misplaced


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from deduplidog_spark import DedupConfig, get_spark

    import __spark_entry__ as E

    spark = get_spark("plan-audit", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    report: list[str] = ["# PLAN_AUDIT — machine-checked physical-plan invariants\n"]
    report.append(
        f"Generated by `scripts/plan_audit.py` at sf dir `{SF_DIR}` "
        "(re-run any time; the script exits nonzero if an invariant broke).\n"
    )
    failures: list[str] = []

    # ---- 1. candidate+verify dataflow: content never crosses a shuffle ---
    # res.plan's lineage is truncated by the pipeline's own stage
    # checkpoints, so audit the RICHEST single DAG instead: the near-dup
    # edge derivation, with slim/reps built lazily from the pipeline's
    # own scan helper (no stage checkpoint). Its lineage still starts at
    # verify_candidate_pairs' own lazy checkpoints (the gated pair set
    # and the pair-bounded content set), so the plan below is the
    # verify tail: the content join and the exact-Jaccard UDF. The
    # semi-join that builds the pair-bounded content set is upstream of
    # that cut, so this check does not cover it.
    from pyspark.sql import functions as F

    from deduplidog_spark.operators.exact import sha_groups, sha_representatives
    from deduplidog_spark.pipeline import near_dup_edges, scan_tables, split_scan

    cfg_full = DedupConfig(mode="minhash", jaccard_threshold=0.5,
                           sig_est_threshold=0.35)
    docs = E._docs_as_files(E._t(spark, SF_DIR, "documents"))
    files_full, scan = scan_tables(docs, cfg_full)
    files, slim = split_scan(scan, cfg_full)
    reps = sha_representatives(slim, sha_groups(files))
    edges, _dropped = near_dup_edges(files_full, cfg_full, slim, reps)
    plan = formatted_plan(edges)
    bad = exchanges_carrying(plan, "content")
    n_exchanges = len(re.findall(r"\(\d+\) (?:Exchange|BroadcastExchange)", plan))
    if bad:
        failures.append(f"content-bearing exchanges: {bad}")
        report.append(f"## ❌ content crosses a hash shuffle in: {bad}\n")
    else:
        report.append(
            f"## ✅ content never crosses a hash exchange\n\n"
            f"{n_exchanges} Exchange/BroadcastExchange nodes in the "
            f"verify tail of the edge-derivation plan; none "
            f"hash/range-partitioned one carries the `content` column — "
            f"content is never moved to group, join or sort it. It exists "
            f"only between the scan and the in-scan projections (sha2, "
            f"signature UDF) and in the exact-verify stage, where the "
            f"surviving pair-id set joins the pair-bounded content set. "
            f"(The semi-join that builds that set runs upstream of "
            f"verify's checkpoint and is outside this plan.)\n"
        )

    py_stages = len(re.findall(r"\(\d+\) (?:ArrowEvalPython|BatchEvalPython|MapInPandas)", plan))
    report.append(
        f"Python stages in the plan: {py_stages} (ArrowEvalPython: the "
        "exact-Jaccard pair verifier; the MinHash signature kernel runs "
        "in the scan's MapInPandas, upstream of verify's checkpoints); "
        "banding, bucket caps, pair expansion, size/sig gates are all "
        "JVM expressions.\n"
    )

    # ---- 2. pushdown: filters and projection reach the scan --------------
    fp = E.queries()["filter_project"](spark, SF_DIR)
    fp_plan = formatted_plan(fp)
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", fp_plan)
    read_schema = re.search(r"ReadSchema: ([^\n]*)", fp_plan)
    ok_push = pushed and "GreaterThan" in pushed.group(1)
    ok_prune = read_schema and "l_comment" not in read_schema.group(1)
    if not ok_push:
        failures.append("filter_project: no PushedFilters at the scan")
    if not ok_prune:
        failures.append("filter_project: scan reads unprojected columns")
    report.append(
        ("## ✅" if ok_push and ok_prune else "## ❌")
        + " predicate pushdown + column pruning (filter_project)\n\n"
        + f"```\nPushedFilters: [{pushed.group(1) if pushed else '—'}]\n"
        + f"{read_schema.group(0) if read_schema else 'ReadSchema: —'}\n```\n"
    )

    # ---- 3. codegen spans --------------------------------------------------
    # AQE hides codegen ids until execution: run the action, then read
    # the EXECUTED plan (the one that actually ran)
    agg = E.queries()["agg_counters"](spark, SF_DIR)
    agg.collect()
    agg_plan = agg._jdf.queryExecution().executedPlan().toString()
    # executed plans mark fused operators with ``*(id)`` codegen-span ids
    spans = len(set(re.findall(r"\*\((\d+)\)", agg_plan)))
    fused_scan_side = bool(
        re.search(r"\*\(\d+\) Filter.*\n.*\*\(\d+\) ColumnarToRow", agg_plan)
        or re.search(r"\*\(\d+\) HashAggregate", agg_plan)
    )
    if spans < 1 or not fused_scan_side:
        failures.append("agg_counters: no whole-stage-codegen spans in executed plan")
    report.append(
        ("## ✅" if spans >= 1 and fused_scan_side else "## ❌")
        + f" whole-stage codegen (agg_counters, executed plan): {spans} "
        "codegen spans (`*(id)` markers); scan→filter→partial-agg runs "
        "fused, with the post-shuffle final aggregate in its own span.\n"
    )

    # ---- 4. LSH candidate stage: one full-payload exchange ----------------
    from deduplidog_spark.operators import minhash as mh
    from deduplidog_spark.operators.candidates import lsh_candidate_pairs

    cfg = DedupConfig(mode="minhash")
    files = docs.select(
        F.concat_ws("/", "repo", "path").alias("fid"), "content"
    )
    bands = mh.with_band_hashes(mh.with_signatures(files, cfg), cfg)
    pairs, _ = lsh_candidate_pairs(
        mh.explode_bands(bands), cfg, materialize=lambda d: d
    )
    lsh_plan = formatted_plan(pairs)
    # hash/range shuffles only: RoundRobinPartitioning nodes are the
    # widen_small_scan input-skew guard on these one-file audit
    # fixtures (see exchanges_carrying) — they move the degenerate
    # input once and do not exist on real corpora
    lsh_blocks = re.split(r"\n(?=\(\d+\) )", lsh_plan)
    shuffles = len([
        b for b in lsh_blocks
        if re.match(r"\(\d+\) Exchange\b", b.split("\n", 1)[0])
        and "RoundRobinPartitioning" not in b
    ])
    bcasts = len(re.findall(r"\(\d+\) BroadcastExchange\b", lsh_plan))
    # expected shape: 3 shuffle exchanges TOTAL — (a) map-side-combined
    # bucket counts (tiny: one row per distinct bucket per partition),
    # (b) the ONE full-payload band-table shuffle into collect_list
    # buckets, (c) the pair dedup — plus 1 BroadcastExchange for the
    # hot-bucket anti-join. The replaced self-join design had 3 full
    # band-table shuffles before dedup.
    ok_lsh = shuffles <= 3 and bcasts >= 1
    if not ok_lsh:
        failures.append(
            f"LSH candidate plan has {shuffles} shuffles / {bcasts} broadcasts"
        )
    report.append(
        ("## ✅" if ok_lsh else "## ❌")
        + f" grouped LSH pair generation\n\n{shuffles} shuffle exchanges "
        "total — map-side-combined bucket counts, ONE full-payload "
        f"band-table shuffle (collect_list), pair dedup — and {bcasts} "
        "BroadcastExchange removing over-cap hot buckets before any "
        "bucket list materializes. The band table crosses the network "
        "once; the prior window+self-join design crossed it three times.\n"
    )

    # ---- 5. incremental append: base probed map-side, no base shuffle -----
    from deduplidog_spark.incremental import (
        _explode,
        incremental_candidate_pairs,
        incremental_exact_edges,
    )

    raw_docs = E._t(spark, SF_DIR, "documents")
    base_files, base_bands = split_scan(scan_tables(
        E._docs_as_files(raw_docs.filter(F.col("doc_id") % 2 == 0)), cfg_full
    )[1], cfg_full)
    batch_files, batch_bands = split_scan(scan_tables(
        E._docs_as_files(raw_docs.filter(F.col("doc_id") % 2 == 1)), cfg_full
    )[1], cfg_full)
    ipairs, _idrop = incremental_candidate_pairs(
        _explode(batch_bands, cfg_full), _explode(base_bands, cfg_full), cfg_full,
    )
    iplan = formatted_plan(ipairs)
    ibad = exchanges_carrying(iplan, "content")
    isemis = len(re.findall(r"BroadcastHashJoin LeftSemi", iplan))
    eplan = formatted_plan(
        incremental_exact_edges(
            batch_files.select("fid", "sha"), base_files.select("fid", "sha")
        )
    )
    esemis = len(re.findall(r"BroadcastHashJoin LeftSemi", eplan))
    ok_incr = not ibad and isemis >= 1 and esemis >= 1
    if not ok_incr:
        failures.append(
            f"incremental probe: content exchanges={ibad}, "
            f"band semi-joins={isemis}, sha semi-joins={esemis}"
        )
    report.append(
        ("## ✅" if ok_incr else "## ❌")
        + " incremental append probes the base map-side\n\n"
        + f"Band probe plan: {isemis} BroadcastHashJoin LeftSemi (the "
        "batch's distinct bucket keys broadcast against the base band "
        "table — the base side never shuffles before the bucket "
        "aggregation), 0 content-bearing hash exchanges (round-robin "
        "widen_small_scan repartitions on this one-file fixture "
        "excluded — bounded in the next verdict). Exact probe "
        f"plan: {esemis} BroadcastHashJoin LeftSemi (batch shas "
        "broadcast against base). Every hash shuffle in the append "
        "path keys on bucket hashes / fids of the TOUCHED sliver, "
        "never the base corpus.\n"
    )

    # ---- 5b. round-robin widens: at most one per scan, next to it ---------
    # the content-bearing round-robin exchanges are ingest.widen_small_scan's
    # input-skew guard; bound them in the two plans above, the append
    # probe's reaching down to the scan and signature pass
    n_scans = n_widens = 0
    misplaced = []
    for audited in (plan, iplan):
        scans, widens, off = roundrobin_widens(audited)
        n_scans += scans
        n_widens += len(widens)
        misplaced += off
    ok_widen = n_widens <= n_scans and not misplaced
    if not ok_widen:
        failures.append(
            f"round-robin content widens: {n_widens} for {n_scans} "
            f"scans, not next to a scan: {misplaced}"
        )
    report.append(
        ("## ✅" if ok_widen else "## ❌")
        + " content-bearing round-robin widens are bounded\n\n"
        + f"{n_widens} RoundRobinPartitioning exchange(s) carry content "
        f"for {n_scans} scan node(s) in the edge and append-probe plans "
        f"(bound: at most one per scan); {len(misplaced)} sit anywhere "
        "but directly above their scan. They are ingest.widen_small_scan's "
        "input-skew guard on this one-file audit fixture: it moves each "
        "input byte once before the CPU-dense stages and never fires on "
        "real corpora with files ≥ cores.\n"
    )

    # ---- 6. ANN bucket caps: count pre-pass, not a window over the key ----
    # The cap must never shuffle the corpus band/assignment rows on the
    # skewed bucket key: evidence is (a) zero `count(1)
    # windowspecdefinition` nodes anywhere in the ANN plans (the old
    # window-cap's signature), (b) a `partial_count` HashAggregate (the
    # pre-pass combines map-side), and (c) a BroadcastExchange feeding a
    # LeftAnti join (oversized buckets removed by broadcast).
    from deduplidog_spark.operators.similarity import ivf_topk, lsh_ann_topk

    emb = E._t(spark, SF_DIR, "embeddings")
    ann_q = emb.filter(F.col("vec_id") < 20)
    for name, df in (
        ("ann_lsh", lsh_ann_topk(ann_q, emb, dim=64, k=3, max_bucket=1000)),
        ("ann_ivf", ivf_topk(ann_q, emb, k=3, max_list=1000)),
    ):
        p = formatted_plan(df)
        win_counts = len(re.findall(r"count\(1\) windowspecdefinition", p))
        partials = len(re.findall(r"partial_count", p))
        anti_bcast = len(re.findall(r"BroadcastHashJoin [^\n]*LeftAnti", p))
        ok_ann = win_counts == 0 and partials >= 1 and anti_bcast >= 1
        if not ok_ann:
            failures.append(
                f"{name} bucket cap: window-counts={win_counts}, "
                f"partial_counts={partials}, broadcast-anti={anti_bcast}"
            )
        report.append(
            ("## ✅" if ok_ann else "## ❌")
            + f" {name} hot-bucket cap is a count pre-pass\n\n"
            + f"{win_counts} window-count nodes (must be 0 — a window "
            "over the bucket key would shuffle the corpus rows on the "
            f"skewed key), {partials} map-side partial_count aggregates, "
            f"{anti_bcast} BroadcastHashJoin LeftAnti removing oversized "
            "buckets/lists via broadcast.\n"
        )

    # ---- 6b. media chunk join: capped buckets, multi-probe key space ------
    # The radius-8 phash join must carry the same skew guard as the
    # text LSH path: bucket occupancy counted map-side (partial_count),
    # over-cap (chunk_id, chunk_val) keys removed from BOTH sides via
    # BroadcastHashJoin LeftAnti, and no window-count anywhere.
    from deduplidog_spark.operators.multimodal import (
        extract_media_features,
        near_dup_media_pairs,
    )

    media = E._t(spark, SF_DIR, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )
    # the cap is opt-in since r5 (default None = exhaustive); the audit
    # checks the CAPPED plan shape, so enable it and keep the report
    mpairs, _mreport = near_dup_media_pairs(
        extract_media_features(media), max_hamming=8,
        max_bucket_size=1000, with_report=True,
    )
    mplan = formatted_plan(mpairs)
    m_win = len(re.findall(r"count\(1\) windowspecdefinition", mplan))
    m_partials = len(re.findall(r"partial_count", mplan))
    m_anti = len(re.findall(r"BroadcastHashJoin [^\n]*LeftAnti", mplan))
    ok_media = m_win == 0 and m_partials >= 1 and m_anti >= 2
    if not ok_media:
        failures.append(
            f"media chunk-join cap: window-counts={m_win}, "
            f"partial_counts={m_partials}, broadcast-anti={m_anti} (want ≥2)"
        )
    report.append(
        ("## ✅" if ok_media else "## ❌")
        + " media phash chunk join is capped + multi-probed\n\n"
        + f"{m_win} window-count nodes (must be 0), {m_partials} map-side "
        f"partial_count aggregates for bucket occupancy, {m_anti} "
        "BroadcastHashJoin LeftAnti (over-cap buckets removed from the "
        "exact side AND the probe side). Radius 8 runs 4 × 16-bit chunks "
        "with ≤2-bit multi-probe — key space 2^16 per chunk, not the "
        "9 × 2^7 = 1,152 values a 9-way pigeonhole split would leave.\n"
    )

    # ---- 7. commit-axis collapse: exactly one exchange ---------------------
    # latest_versions must cost ONE window exchange on (repo, path) —
    # no self-join back to the corpus (which would add a second
    # content-bearing exchange) and no extra aggregation pass.
    from deduplidog_spark.operators.versions import latest_versions

    hist = E._docs_as_history(E._t(spark, SF_DIR, "documents"))
    vp = formatted_plan(latest_versions(hist))
    v_ex = len(re.findall(r"\(\d+\) (?:Exchange|BroadcastExchange)", vp))
    ok_v = v_ex == 1
    if not ok_v:
        failures.append(f"latest_versions exchanges: {v_ex} (want 1)")
    report.append(
        ("## ✅" if ok_v else "## ❌")
        + " commit-axis collapse is one window exchange\n\n"
        + f"{v_ex} Exchange node(s) in the latest_versions plan (must be "
        "exactly 1: the (repo, path) window shuffle; on input "
        "write-distributed by (repo, path) Catalyst elides even that).\n"
    )

    # ---- 7c. keeper election: aggregate champion, never a component window -
    # Giant components are the NORM under sha-collapse star edges (one
    # boilerplate file → one component holding every copy), so a
    # Window.partitionBy(component) would sort the whole component in
    # ONE task to read rank 1. The built-in orderings must elect via a
    # map-side-combinable min_by-over-struct aggregate instead: 0
    # Window nodes, >= 1 partial_min_by in the plan — for the default
    # ordering AND the treat_bigger_as_original (size desc) ordering.
    from deduplidog_spark.config import DedupConfig
    from deduplidog_spark.operators.cluster import elect_keepers

    kdocs = E._t(spark, SF_DIR, "documents")
    kfiles = kdocs.select(
        F.lit("r").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.col("n_chars").cast("long").alias("size"),
        F.to_timestamp(F.lit("2020-01-01")).alias("mtime"),
    )
    klabels = kfiles.select(
        F.concat_ws("/", "repo", "path").alias("fid"),
        F.pmod(F.xxhash64("path"), F.lit(500)).alias("component"),
    )
    k_bad = []
    for kname, kcfg in (
        ("default", None),
        ("bigger-as-original", DedupConfig(treat_bigger_as_original=True)),
    ):
        kp = formatted_plan(elect_keepers(kfiles, klabels, cfg=kcfg))
        k_win = len(re.findall(r"\(\d+\) Window\b", kp))
        k_minby = len(re.findall(r"partial_min_by", kp))
        if k_win != 0 or k_minby < 1:
            k_bad.append(f"{kname}: windows={k_win}, partial_min_by={k_minby}")
    ok_k = not k_bad
    if not ok_k:
        failures.append("keeper election plan: " + "; ".join(k_bad))
    report.append(
        ("## ✅" if ok_k else "## ❌")
        + " keeper election is a map-side-combinable aggregate\n\n"
        + (
            "0 Window nodes and a partial_min_by (map-side champion "
            "combine) in BOTH built-in orderings (default fid-asc and "
            "treat_bigger_as_original size-desc): a 100M-copy component "
            "elects its keeper through partial aggregates, never a "
            "single-task per-component sort.\n"
            if ok_k
            else "; ".join(k_bad) + "\n"
        )
    )

    # ---- excerpt -----------------------------------------------------------
    head = "\n".join(plan.splitlines()[:40])
    report.append(
        f"## Plan head (verify tail of the edge derivation)\n\n"
        f"```\n{head}\n```\n"
    )

    out_path = os.path.join(REPO, "PLAN_AUDIT.md")
    with open(out_path, "w") as fh:
        fh.write("\n".join(report))
    print(f"wrote {out_path}")
    spark.stop()
    if failures:
        print("VIOLATIONS:", failures)
        sys.exit(1)
    print("ALL INVARIANTS HOLD")


if __name__ == "__main__":
    main()
