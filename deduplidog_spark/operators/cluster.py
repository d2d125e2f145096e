"""Connected components + canonical-keeper election (SURVEY §2.9).

The reference resolves mutually-similar file sets *sequentially*: the
first processed file consumes its match, tombstones it (passed_away,
deduplidog.py:224,494), and later files skip it — net effect, each
similarity component collapses to one surviving original plus N
affected duplicates. We make that explicit and order-independent:
verified pairs are edges; connected components group them; a window
elects one keeper per component. Component id = min member fid on
every path.

Which routine applies where: ``union_find_components`` resolves a graph
that fits one task (``UNION_FIND_MAX_EDGES``) in one job. The full-run
CC, ``connected_components`` (``pipeline.dedupe``, multimodal, the
query suite), hands it the whole edge table when that fits, and
otherwise runs distributed hash-min rounds (the label-propagation
setting of Kiveris et al., "Connected Components in MapReduce and
Beyond" — see PAPERS.md) until they converge or, once a round moves
few enough labels, the graph contracted to the current labels fits,
and then finishes with it. The append-batch CC
(``incremental.incremental_labels``) contracts a batch's graph to its
base components, which leaves at most the batch's edge count, and
resolves that with it directly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# The most edges one union-find task takes, sized by the peak RSS of
# the Python worker that runs it (Arrow batches, pandas strings,
# factorized codes and output), measured as VmHWM on local Spark 4.1
# over shuffled-fid paths. A worker holds about 123 MiB before the
# task. With ~85-character fids it peaks at 183 MiB at 87.5k edges,
# 245 MiB at 200k, 365 MiB at 350k and 681 MiB at 875k; with
# ~165-character fids at 330 MiB at 200k. This limit keeps the peak
# inside the default executor memoryOverhead of 384 MiB, which holds
# the Python worker on YARN and Kubernetes; 875k edges, which one
# core resolves in 5 s, would not fit. Time is no constraint here:
# ``_union_find`` takes 0.5 s at 200k edges on one core, the whole
# task about 3 s.
UNION_FIND_MAX_EDGES = 200_000


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
    materialize=None,
    assume_unique_edges: bool = False,
) -> DataFrame:
    """Edges (id_a, id_b) → labels (fid, component) for every node that
    appears in an edge. Component id = min member fid (deterministic),
    the same labels as ``union_find_components``.

    The undirected edge table (each edge in both directions) is
    materialized and counted: the count job computes and caches it.
    When it holds at most ``UNION_FIND_MAX_EDGES`` edges, one
    ``union_find_components`` task resolves it: two jobs, no rounds.

    A larger graph takes hash-min rounds: each node takes the min label
    among itself, its neighbors and its label's label (a pointer-
    doubling shortcut from a labels⋈labels self-join on component =
    fid — label values are always node ids inside the component, so
    the shortcut stays within it and only decreases toward the min).
    Shuffle profile per round: one groupBy(fid) over the edge list
    joined with current labels, plus the shortcut join feeding the
    same aggregation. Its probe side is skewed by construction (one hot
    key per large component); AQE skew-join splitting (on in
    session.get_spark) spreads it. Each round's table carries the
    node's previous label, so its probe is a filter-count of the labels
    that moved — the job that also computes and caches the lazily
    materialized round table — and a round that moves none is final.

    Rounds alone need rounds of the order of half a chain's length
    when its fids are not in chain order (a pure-Python replay: 23-55
    at 80 nodes, 196-630 at 1,000). So once a round moves at most
    ``UNION_FIND_MAX_EDGES`` labels, the edges whose endpoints' labels
    still differ, contracted to distinct (label, label) pairs, form the
    residual graph; when it fits, ``union_find_components`` resolves it
    and every label relabels through that node → root map. Every
    residual edge has an endpoint whose label moved in the round (if
    neither moved, each took the min over the other's label, so the
    two are equal), so the moved count is the probe's free estimate of
    the residual: replays on chains, cliques and stars found residuals
    of up to 1.4 times it. A round that moves more labels than one
    task takes skips the residual's two joins and distinct: it costs
    its aggregation and the filter-count alone. A shuffled 1,000-node
    chain moves about 670 labels in its first round and 190 in its
    sixth, when its residual holds about 110 edges. An empty residual
    means the labels are final. Rounds after a residual that does not
    fit run on the full edge table again: rounds on the residual would
    need their labels composed back onto every node.

    ``max_iterations`` bounds the round phase only: when the labels
    still move after that many rounds and no residual fit, this
    raises RuntimeError, because returning the unconverged table would
    hand the caller silently WRONG cluster assignments — one true
    component split into many — which keeper election and the action
    plan would then act on.

    ``materialize(df, tag)`` is the lineage-truncation hook, called
    with the tags ``edges``, ``r<i>`` per round, ``contracted<i>``
    per residual, and ``uf`` for labels a union-find produced. Default
    ``localCheckpoint(eager=False)``: the count or probe job that
    first scans a table computes and caches it, so materializing adds
    no job. The pipeline passes a durable parquet/table hook when a
    checkpoint target is configured (``pipeline._cc_materializer``),
    so a rerun reproduces labels from the stage tables alone without
    re-evaluating the edge plan (tested).
    """
    if materialize is None:
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
        # labels are invariant to edge multiplicity, so the dedup exists
        # to keep the edge count and the per-round shuffle volume
        # proportional to the DISTINCT edge set — one up-front exchange
        # for unknown callers. Every library pipeline emits canonical
        # (id_a < id_b) duplicate-free edges and skips it.
        und = und.distinct()
    und = materialize(und, "edges")
    if und.count() <= 2 * UNION_FIND_MAX_EDGES:
        one_way = und.filter(F.col("src") < F.col("dst"))
        return materialize(
            union_find_components(one_way.toDF("id_a", "id_b")), "uf"
        )

    for i in range(max_iterations):
        if i == 0:
            # initial labels are the identity map, so the round is one
            # map-side-combinable aggregation: least(src, min(dst))
            new_labels = und.groupBy("src").agg(F.min("dst").alias("_mn")).select(
                F.col("src").alias("fid"),
                F.least(F.col("src"), F.col("_mn")).alias("component"),
                F.col("src").alias("prev"),
            )
        else:
            # the node's own label rides along flagged is_self, so the
            # same aggregation yields (new label, previous label)
            nbr = und.join(labels.toDF("dst", "candidate"), "dst").select(
                F.col("src").alias("fid"), "candidate", F.lit(False).alias("is_self")
            )
            own = labels.toDF("fid", "candidate").withColumn("is_self", F.lit(True))
            # pointer-doubling shortcut: x's label's label rides into
            # x's min, collapsing chains whose fids are in chain order
            shortcut = labels.join(
                labels.toDF("component", "candidate"), "component"
            ).select("fid", "candidate", F.lit(False).alias("is_self"))
            new_labels = (
                nbr.union(own)
                .union(shortcut)
                .groupBy("fid")
                .agg(
                    F.min("candidate").alias("component"),
                    F.max(F.when(F.col("is_self"), F.col("candidate"))).alias("prev"),
                )
            )
        new_labels = materialize(new_labels, f"r{i}")
        moved = new_labels.filter(F.col("component") != F.col("prev")).count()
        labels = new_labels.select("fid", "component")
        if moved == 0:
            return labels
        if moved > UNION_FIND_MAX_EDGES:
            continue
        # the edges still open, contracted to their endpoints' labels
        residual = materialize(
            und.join(labels.toDF("src", "id_a"), "src")
            .join(labels.toDF("dst", "id_b"), "dst")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct(),
            f"contracted{i}",
        )
        open_edges = residual.count()
        if open_edges == 0:
            return labels
        if open_edges <= UNION_FIND_MAX_EDGES:
            roots = union_find_components(residual).toDF("component", "root")
            return materialize(
                labels.join(roots, "component", "left").select(
                    "fid", F.coalesce("root", "component").alias("component")
                ),
                "uf",
            )
    raise RuntimeError(
        "connected_components did not converge: after "
        f"max_iterations={max_iterations} hash-min rounds the labels "
        "still move and no residual graph fit one union-find task "
        f"(UNION_FIND_MAX_EDGES={UNION_FIND_MAX_EDGES}), so returning "
        "the labels would silently split true components; raise "
        "max_iterations"
    )


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

    For graphs of at most ``UNION_FIND_MAX_EDGES`` edges: an append
    batch's edges contracted to their base components
    (``incremental.incremental_labels``), and the full run's edge table
    or its residual after hash-min rounds (``connected_components``).
    Self-loops are dropped and duplicate edges are harmless."""
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
