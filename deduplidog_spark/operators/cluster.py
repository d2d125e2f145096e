"""Connected components + canonical-keeper election (SURVEY §2.9).

The reference resolves mutually-similar file sets *sequentially*: the
first processed file consumes its match, tombstones it (passed_away,
deduplidog.py:224,494), and later files skip it — net effect, each
similarity component collapses to one surviving original plus N
affected duplicates. We make that explicit and order-independent:
verified pairs are edges; hash-min label propagation finds components;
a window elects one keeper per component.

Hash-min propagation (the alternating-star idea of Kiveris et al.,
"Connected Components in MapReduce and Beyond" — see PAPERS.md) in pure
DataFrame ops: each round every node takes the min label among itself,
its neighbors and its label's label; iterate until a round changes
nothing. Exact groups emit star edges and LSH cliques are shallow, so
those converge in a few rounds; a long near-dup chain whose fids are
not in chain order needs rounds of the order of half its length (see
``connected_components``).
``localCheckpoint`` truncates lineage each round — without it the plan
doubles per iteration and the driver OOMs at scale.

Which routine applies where: ``connected_components`` is the full-run
CC (``pipeline.dedupe``), sized for corpus graphs — every round is a
distributed join, so no single task ever holds the graph.
``union_find_components`` is the append-batch CC
(``incremental.incremental_labels``): a batch's graph contracted to its
base components has at most the batch's edge count, so one task
resolves it in one job instead of a round loop of jobs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
    materialize=None,
    assume_unique_edges: bool = False,
) -> DataFrame:
    """Edges (id_a, id_b) → labels (fid, component) for every node that
    appears in an edge. Component id = min member fid (deterministic).

    Shuffle profile per round: one groupBy(fid) over the undirected
    edge list joined with current labels — keys are file ids (unique,
    no skew) — plus one label self-join feeding the SAME aggregation
    (see below). Early-exits when an iteration changes no label.

    Convergence: each round's aggregation takes the min over the
    node's own label, its neighbors' labels, AND its label's label (a
    pointer-doubling shortcut row from a labels⋈labels self-join on
    component = fid — label values are always node ids inside the
    component, so the shortcut stays within it and only decreases
    toward the min). The shortcut halves a chain only when its fids
    are in chain order: a pure-Python replay of this round rule needs
    12 rounds on a fid-ordered 1,000-node path and 17 on a 20,000-node
    one. With the fids shuffled along the path it saves far less — 10
    seeds each needed 7-12 rounds at 20 nodes, 14-27 at 40 and 23-55
    at 80 — so a near-dup chain of ~40 versions whose paths do not
    sort in edit order can exhaust the default cap of 20. Star- and
    clique-shaped components (exact groups, LSH buckets) converge in a
    few rounds. The shortcut join's probe side is skewed by
    construction (one hot key per large component) — AQE skew-join
    splitting (on in session.get_spark) spreads it, and the hot key
    collapses to the fixed point within a few rounds anyway.

    Exhausting ``max_iterations`` without converging raises
    RuntimeError (the last round's probe is free): returning the
    unconverged table would hand the caller silently WRONG cluster
    assignments — one true component split into many — which keeper
    election and the action plan would then act on.

    Driver-barrier budget (the latency floor at scale): each round's
    label table carries its OWN previous label as an aggregated column,
    so the convergence probe is a filter-count over the just-
    checkpointed table — no extra join job per round (the round-1
    version re-joined old vs new labels: one more shuffle per round).
    Every round is materialized and probed: the probe is a
    filter-count over the round table — and (r6) it IS the round's
    materialization job, since the round tables are lazy local
    checkpoints and the full-scan count computes and caches them —
    while a redundant round is two joins + an aggregation.

    ``materialize(df, tag)`` is the per-round lineage-truncation hook:
    default ``localCheckpoint`` (fast, but pinned to executor storage —
    an executor loss kills the chain). The pipeline passes a durable
    parquet/table hook when a checkpoint target is configured
    (``pipeline._cc_materializer``), so long CC chains at cluster scale
    survive executor loss AND resume across driver restarts (tested:
    a rerun reproduces labels from the round tables alone without
    re-evaluating the edge plan).
    """
    if materialize is None:
        # eager=False everywhere (r6): the convergence probe is a FULL
        # filter-count (not limit(1) — see below), so the probe job
        # itself materializes the round table it probes: one job per
        # round instead of a checkpoint job plus a probe job, and the
        # driver pays one plan compilation per round instead of two.
        # The edge list is consumed by round 0's full-scan aggregation.
        materialize = (  # noqa: E731
            lambda df, tag: df.localCheckpoint(eager=False)
        )
    # single pass over (possibly expensive, lazy) edges: emit both
    # directions via explode instead of a self-union, which would scan
    # the edge-producing plan twice
    und = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    und = und.filter(F.col("src") != F.col("dst"))
    if not assume_unique_edges:
        # labels are invariant to edge multiplicity (min over a
        # repeated neighbor is the min), so the dedup exists purely to
        # keep the per-round shuffle volume proportional to the
        # DISTINCT edge set — worth one up-front exchange for unknown
        # callers. Every library pipeline emits canonical (id_a <
        # id_b) duplicate-free edges by construction and passes
        # ``assume_unique_edges=True``, skipping this full edge
        # shuffle per CC run (r6).
        und = und.distinct()
    und = materialize(und, "edges")

    labels = None
    for i in range(max_iterations):
        if i == 0:
            # FUSED round 0: initial labels are the identity map
            # (component == fid), so min(self ∪ neighbor labels) =
            # least(src, min(dst)) and the shortcut term label(label(x))
            # is the identity too — the whole round is ONE map-side-
            # combinable aggregation over the edge list, replacing the
            # old round-0 shape (a distinct job to seed labels + the
            # nbr join + the identity shortcut join + the groupBy:
            # three shuffles and two joins that computed exactly this)
            new_labels = und.groupBy("src").agg(
                F.min("dst").alias("_mn")
            ).select(
                F.col("src").alias("fid"),
                F.least(F.col("src"), F.col("_mn")).alias("component"),
                F.col("src").alias("prev"),
            )
        else:
            # neighbor labels: for each edge (src,dst), dst's current
            # label; the node's own label rides along flagged is_self so
            # the same aggregation yields (new component, previous)
            nbr = und.join(
                labels.withColumnRenamed("fid", "dst").withColumnRenamed(
                    "component", "nbr_component"
                ),
                "dst",
            ).select(
                F.col("src").alias("fid"),
                "nbr_component",
                F.lit(False).alias("is_self"),
            )
            own = labels.select(
                "fid",
                F.col("component").alias("nbr_component"),
                F.lit(True).alias("is_self"),
            )
            # pointer-doubling shortcut: for node x labeled c, c's own
            # label rides into x's min — one labels⋈labels join into the
            # same aggregation, collapsing chains exponentially
            shortcut = labels.join(
                labels.select(
                    F.col("fid").alias("component"),
                    F.col("component").alias("nbr_component"),
                ),
                "component",
            ).select("fid", "nbr_component", F.lit(False).alias("is_self"))
            new_labels = (
                nbr.union(own)
                .union(shortcut)
                .groupBy("fid")
                .agg(
                    F.min("nbr_component").alias("component"),
                    F.max(F.when(F.col("is_self"), F.col("nbr_component"))).alias("prev"),
                )
            )
        new_labels = materialize(new_labels, f"r{i}")
        # FULL count, deliberately not limit(1): scanning every
        # partition makes this probe the job that computes and caches
        # the (lazy-checkpointed) round table — a limit probe would
        # leave unscanned partitions uncached and the next round would
        # recompute them from lineage. The count of changed labels
        # costs the same one job the old materialize+limit pair spread
        # over two.
        changed = (
            new_labels.filter(F.col("component") != F.col("prev"))
            .count()
        )
        if changed == 0:
            labels = new_labels.select("fid", "component")
            break
        if i == max_iterations - 1:
            raise RuntimeError(
                f"connected_components did not converge within "
                f"max_iterations={max_iterations} — the label table "
                "is still changing, so returning it would silently "
                "split true components; raise max_iterations (a chain "
                "whose fids are not in chain order needs rounds of the "
                "order of half its length)"
            )
        labels = new_labels.select("fid", "component")
    return labels


def _union_find(pdf: pd.DataFrame) -> pd.DataFrame:
    """Components of one edge table, vectorized: node codes in sorted
    string order (code-point order, which is Spark's binary order of
    UTF-8 strings), so the min code of a component is its min fid.
    Every round hooks each root onto the least root across its edges
    (parents only ever point to smaller codes, so no cycles) and then
    pointer-jumps to full compression; a round that leaves every edge
    inside one tree is the last."""
    codes, nodes = pd.factorize(
        pd.concat([pdf["id_a"], pdf["id_b"]], ignore_index=True), sort=True
    )
    nodes = np.asarray(nodes, dtype=object)
    a, b = codes[: len(pdf)], codes[len(pdf):]
    parent = np.arange(len(nodes))
    while True:
        ra, rb = parent[a], parent[b]
        split = ra != rb
        if not split.any():
            break
        ra, rb = ra[split], rb[split]
        lo = np.minimum(ra, rb)
        np.minimum.at(parent, ra, lo)
        np.minimum.at(parent, rb, lo)
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up
    return pd.DataFrame({"fid": nodes, "component": nodes[parent]})


def union_find_components(edges: DataFrame) -> DataFrame:
    """Edges (id_a, id_b) → labels (fid, component) for every node that
    appears in an edge, component = min member fid: the same labels as
    ``connected_components``, computed in ONE task (a single-group
    ``applyInPandas``) with one job and no round loop.

    For graphs that fit one task — an append batch's edges contracted
    to their base components (``incremental.incremental_labels``), at
    most the batch's edge count. Like there, self-loops are dropped
    and duplicate edges are harmless. Corpus-sized graphs take
    ``connected_components``."""
    return (
        edges.filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .groupBy(F.lit(0).alias("_one"))
        .applyInPandas(_union_find, "fid string, component string")
    )


def elect_keepers(files: DataFrame, labels: DataFrame, cfg=None, order=None) -> DataFrame:
    """W3/W4: one canonical keeper per component.

    Default ordering mirrors the reference's default role election: the
    first file in deterministic scan order keeps (rglob order,
    deduplidog.py:288,492 — our order-independent analog is fid asc),
    regardless of size. ``treat_bigger_as_original`` flips the
    preference to the biggest member (deduplidog.py:73-75,529-535),
    then oldest, then first — making SIZE warnings / ``skip_bigger``
    live only under the default, exactly like the reference (a bigger
    duplicate is a warning unless the flag promotes it to keeper).
    ``set_both_to_older_date`` propagates the min mtime
    (deduplidog.py:681-696). Emits one row per clustered file:
    (fid, component, is_keeper, duplicate_of, cluster_min_mtime).

    ``order`` overrides the keeper preference with an explicit list of
    ordering Columns (e.g. quality desc for training-data curation —
    see operators/pretrain.quality_keepers); it must end in a
    deterministic tie-break.

    Scale shape: the built-in orderings elect through a
    ``min_by``-over-struct AGGREGATE (partial/map-side combinable)
    joined back to the members — never a per-component window sort. A
    window ranks the WHOLE component in one task, but only rank 1 is
    ever read: a 100M-copy boilerplate component (giant components are
    the NORM under sha-collapse star edges) would sort 100M rows in
    one straggler task for one champion row. The struct keys replicate
    the window ordering exactly, including Spark's null placement
    (asc → NULLS FIRST, desc → NULLS LAST) via explicit null-flag
    fields, so election results are bit-identical to the former window
    implementation. A caller-supplied ``order`` still takes the window
    path — arbitrary sort Columns can't be introspected into struct
    keys; those callers (curation) own their skew profile.
    """
    fid = F.concat_ws("/", "repo", "path")
    members = files.withColumn("fid", fid).join(labels, "fid")
    if order is not None:
        w = Window.partitionBy("component").orderBy(*list(order))
        cluster_w = Window.partitionBy("component")
        return (
            members.withColumn("_rank", F.row_number().over(w))
            .withColumn("is_keeper", F.col("_rank") == 1)
            .withColumn("keeper", F.first("fid").over(w))
            .withColumn("cluster_min_mtime", F.min("mtime").over(cluster_w))
            .withColumn(
                "duplicate_of",
                F.when(F.col("is_keeper"), F.lit(None)).otherwise(F.col("keeper")),
            )
            .drop("_rank", "keeper")
        )
    if cfg is not None and cfg.treat_bigger_as_original:
        # size desc (window default: NULLS LAST) → null-flag asc puts
        # non-null sizes first, then negated size; mtime asc (window
        # default: NULLS FIRST) → not-null flag asc puts nulls first;
        # fid (never null) is the total-order tie-break
        key = F.struct(
            F.col("size").isNull().alias("k1n"),
            F.coalesce(F.col("size") * -1, F.lit(0)).alias("k1"),
            F.col("mtime").isNotNull().alias("k2n"),
            F.coalesce(
                F.col("mtime"), F.lit("1970-01-01").cast("timestamp")
            ).alias("k2"),
            F.col("fid").alias("k3"),
        )
    else:
        key = F.struct(F.col("fid").alias("k3"))
    champs = members.groupBy("component").agg(
        F.min_by(F.col("fid"), key).alias("keeper"),
        F.min("mtime").alias("cluster_min_mtime"),
    )
    return (
        members.join(champs, "component")
        .withColumn("is_keeper", F.col("fid") == F.col("keeper"))
        .withColumn(
            "duplicate_of",
            F.when(F.col("is_keeper"), F.lit(None)).otherwise(F.col("keeper")),
        )
        .drop("keeper")
    )
