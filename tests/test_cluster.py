"""Connected-components + keeper election unit tests."""

import random
from datetime import timedelta

import pytest

from deduplidog_spark import DedupConfig
from deduplidog_spark import fixtures as FX
from deduplidog_spark.operators import cluster
from deduplidog_spark.operators.cluster import (
    connected_components,
    elect_keepers,
    union_find_components,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a string, id_b string")


def _both_paths(monkeypatch, forced_limit, finish=True, inner=None):
    """Yields a recording ``materialize`` hook (wrapping ``inner``, a
    local checkpoint by default) once per full-run CC path, for one
    ``connected_components`` call each, and checks the path that call
    took. Under the default limit every graph of these tests fits one
    union-find task: the hook sees ``edges`` and ``uf`` only. Under
    ``forced_limit``, below the test graph's edge count, it takes
    hash-min rounds and, when ``finish``, ends with a union-find finish
    of a non-empty residual, else converges in the rounds alone."""
    default = cluster.UNION_FIND_MAX_EDGES
    inner = inner or (lambda df, tag: df.localCheckpoint(eager=False))
    for limit in (default, forced_limit):
        monkeypatch.setattr(cluster, "UNION_FIND_MAX_EDGES", limit)
        tags = []

        def materialize(df, tag, tags=tags):
            tags.append(tag)
            return inner(df, tag)

        yield materialize
        if limit == default:
            assert tags == ["edges", "uf"]
        else:
            assert tags[:2] == ["edges", "r0"], tags
            if finish:
                assert tags[-1] == "uf" and tags[-2].startswith("contracted"), tags
            else:
                assert tags[-1].startswith("r"), tags


def _labels(df):
    return {r.fid: r.component for r in df.collect()}


def test_cc_chain_and_islands(spark, monkeypatch):
    # a-b-c-d chain + isolated pair e-f; g never appears
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("e", "f")])
    for mat in _both_paths(monkeypatch, forced_limit=2):
        labels = _labels(connected_components(e, materialize=mat))
        assert labels == {"a": "a", "b": "a", "c": "a", "d": "a", "e": "e", "f": "e"}


def test_cc_converges_on_cycle(spark, monkeypatch):
    # on the round path a triangle converges in round 0: nothing to finish
    e = _edges(spark, [("x", "y"), ("y", "z"), ("z", "x")])
    for mat in _both_paths(monkeypatch, forced_limit=1, finish=False):
        assert set(_labels(connected_components(e, materialize=mat)).values()) == {"x"}


def test_cc_long_path_needs_iterations(spark, monkeypatch):
    n = 12
    e = _edges(spark, [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(n)])
    # a limit of 8 builds the first residual after round 3 (8 labels
    # moved); it holds 4 edges
    for mat in _both_paths(monkeypatch, forced_limit=8):
        labels = _labels(connected_components(e, max_iterations=30, materialize=mat))
        assert set(labels.values()) == {"n00"}
        assert len(labels) == n + 1


def test_cc_chain_longer_than_cap_converges_via_shortcut(spark, monkeypatch):
    """Pointer-doubling regression pin: a 60-node chain (gradually
    evolving near-dup versions) converges WITHIN the default cap of
    20 — plain neighbor propagation moves the min one hop per round
    and would need 59. Before the shortcut this returned silently
    WRONG labels (one true component split into dozens). A limit of 1
    edge admits no residual on this chain, so the forced side pins the
    shortcut: it converges by rounds alone (8 of them)."""
    e = _edges(spark, [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(59)])
    for mat in _both_paths(monkeypatch, forced_limit=1, finish=False):
        labels = _labels(connected_components(e, materialize=mat))
        assert set(labels.values()) == {"n000"}
        assert len(labels) == 60


def test_cc_raises_instead_of_returning_unconverged_labels(spark, monkeypatch):
    """Exhausting max_iterations must raise, never hand keeper
    election a label table that splits true components. Under a limit
    of 0 edges every round that leaves labels moving moves more labels
    than that, so no residual is built and only rounds that fully
    converge could end the loop."""
    monkeypatch.setattr(cluster, "UNION_FIND_MAX_EDGES", 0)
    e = _edges(spark, [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(59)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, max_iterations=2).collect()


@pytest.mark.parametrize("n", [80, 1000])
def test_cc_shuffled_chain_converges_under_default_cap(spark, monkeypatch, n):
    """A near-dup chain whose fids are not in chain order needs rounds
    of the order of half its length from hash-min alone; both paths
    resolve it within the default cap of 20, with union-find labels.
    The forced limit is n // 5 edges."""
    rng = random.Random(n)
    nodes = [f"v{i:04d}" for i in range(n)]
    rng.shuffle(nodes)
    e = _edges(spark, [(nodes[i], nodes[i + 1]) for i in range(n - 1)])
    uf = _labels(union_find_components(e))
    assert set(uf.values()) == {"v0000"} and len(uf) == n
    for mat in _both_paths(monkeypatch, forced_limit=n // 5):
        assert _labels(connected_components(e, materialize=mat)) == uf


def test_cc_zero_edges_give_empty_labels(spark, monkeypatch):
    """No edges, no labels: on the union-find path, and on the round
    path, forced here by a limit that not even an empty table fits."""
    e = _edges(spark, [])
    for mat in _both_paths(monkeypatch, forced_limit=-1, finish=False):
        assert connected_components(e, materialize=mat).collect() == []


def _random_graph(seed):
    """Seeded edges mixing every shape the two CC routines must agree
    on: chains in fid order and in shuffled order, stars, duplicate
    and reversed edges, self-loops, isolated pairs, and non-ASCII fids
    whose min
    depends on the string order ("é" > "z" by code point; an astral
    character > U+FFFF in Spark's UTF-8 byte order, though it sorts
    below it in UTF-16)."""
    rng = random.Random(seed)
    # a long chain in fid order, and a shorter one in shuffled order
    # (hash-min needs about half its length in rounds)
    chain = [f"c{seed}_{i:03d}" for i in range(60)]
    edges = [(chain[i + 1], chain[i]) for i in range(len(chain) - 1)]
    order = [f"d{seed}_{i:03d}" for i in range(10)]
    rng.shuffle(order)
    edges += [(order[i], order[i + 1]) for i in range(len(order) - 1)]
    hub = f"s{seed}_hub"
    edges += [(f"s{seed}_{i:03d}", hub) for i in range(rng.randint(20, 50))]
    edges += [(f"p{seed}_{i}a", f"p{seed}_{i}b") for i in range(10)]
    edges += [("é", "z"), ("z", "éa"), ("\U0001d11e", "\uffff"), ("\uffff", "\U0001f600")]
    loops = [(x, x) for x in rng.sample(chain, 5)] + [("lonely", "lonely")]
    dups = [(b, a) for a, b in rng.sample(edges, 15)] + rng.sample(edges, 15)
    edges += loops + dups
    rng.shuffle(edges)
    return edges


def test_union_find_equals_connected_components(spark, monkeypatch):
    """The append-batch CC equals the full-run CC, node set and
    min-fid component ids included, on seeded random graphs. Only the
    round path makes this a check: on the default path the full run is
    this same union-find."""
    e = _edges(spark, _random_graph(3) + _random_graph(11))
    uf = _labels(union_find_components(e))
    for mat in _both_paths(monkeypatch, forced_limit=100):
        assert _labels(connected_components(e, materialize=mat)) == uf
    assert uf["é"] == "z" and uf["\U0001d11e"] == "\uffff"
    assert "lonely" not in uf


def _keeper_fixture(spark):
    rows = [
        dict(repo="r", path="small.txt", commit="c0", lang="txt",
             content="x" * 10, mtime=FX.T0, is_symlink=False),
        dict(repo="r", path="big_new.txt", commit="c0", lang="txt",
             content="y" * 50, mtime=FX.T0 + timedelta(days=1), is_symlink=False),
        dict(repo="r", path="big_old.txt", commit="c0", lang="txt",
             content="z" * 50, mtime=FX.T0, is_symlink=False),
    ]
    from deduplidog_spark.ingest import ingest
    from pyspark.sql import functions as F

    files = ingest(FX.to_spark_df(spark, rows), DedupConfig()).withColumn(
        "fid", F.concat_ws("/", "repo", "path")
    )
    labels = connected_components(
        _edges(spark, [("r/small.txt", "r/big_new.txt"), ("r/big_new.txt", "r/big_old.txt")])
    )
    return files, labels


def test_cluster_common_prefix(spark):
    """A5: per-component longest common fid prefix (display helper)."""
    from deduplidog_spark.operators.actions import cluster_common_prefix

    rows = [
        ("photos/2021/IMG_001.jpg", "c1"),
        ("photos/2021/IMG_002.jpg", "c1"),
        ("photos/2021/IMG_100.jpg", "c1"),
        ("a.txt", "c2"),
        ("b.txt", "c2"),
        ("same/path.txt", "c3"),
    ]
    df = spark.createDataFrame(rows, "fid string, component string")
    out = {r.component: r for r in cluster_common_prefix(df).collect()}
    assert out["c1"].common_prefix == "photos/2021/IMG_"
    assert out["c1"].n_members == 3
    assert out["c2"].common_prefix == ""
    assert out["c3"].common_prefix == "same/path.txt"


def test_keeper_default_is_scan_order(spark):
    """Reference default: the first file in deterministic scan order
    keeps regardless of size (deduplidog.py:73-78 default off)."""
    files, labels = _keeper_fixture(spark)
    out = {r.fid: r for r in elect_keepers(files, labels).collect()}
    assert out["r/big_new.txt"].is_keeper  # lexicographically first
    assert out["r/small.txt"].duplicate_of == "r/big_new.txt"
    assert out["r/big_old.txt"].duplicate_of == "r/big_new.txt"
    # cluster_min_mtime = T0 propagated to all members (X5 redate)
    assert all(r.cluster_min_mtime == FX.T0.replace(tzinfo=None) for r in out.values())


def test_keeper_treat_bigger_as_original(spark):
    """treat_bigger_as_original → biggest wins; size tie broken by
    older mtime (W3/W4, deduplidog.py:73-75,529-535)."""
    files, labels = _keeper_fixture(spark)
    cfg = DedupConfig(treat_bigger_as_original=True)
    out = {r.fid: r for r in elect_keepers(files, labels, cfg).collect()}
    assert out["r/big_old.txt"].is_keeper
    assert not out["r/small.txt"].is_keeper
    assert out["r/small.txt"].duplicate_of == "r/big_old.txt"
    assert out["r/big_new.txt"].duplicate_of == "r/big_old.txt"


def test_cc_durable_rounds_resume_without_recomputing_edges(spark, monkeypatch):
    """Round-3 VERDICT item 6: with a checkpoint target configured, CC
    stages are parquet-backed (cc_edges, cc_uf, cc_r* per round and
    cc_contracted* per residual), so the chain survives executor loss
    and a rerun resumes from the stage tables. Proven by rerunning
    against the same checkpoint with a POISONED edge input: if any
    stage recomputed from edges instead of reading its stage table,
    the rerun would raise (or labels would change)."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from deduplidog_spark.pipeline import _cc_materializer

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("e", "f")])

    # "kill the state": a rerun gets an edge plan that fails if it is
    # ever evaluated — resume must come from the stage tables alone
    @F.udf("string")
    def boom(x):
        raise RuntimeError("edge plan re-evaluated during resume")

    poisoned = e.select(boom("id_a").alias("id_a"), boom("id_b").alias("id_b"))
    cfg = None  # a fresh checkpoint target per path

    def durable(df, tag):
        return _cc_materializer(cfg)(df, tag)

    for forced, mat in enumerate(_both_paths(monkeypatch, forced_limit=2, inner=durable)):
        cfg = DedupConfig(
            mode="minhash", checkpoint_dir=tempfile.mkdtemp(prefix="cc_durable_")
        )
        assert _cc_materializer(cfg) is not None
        first = _labels(connected_components(e, materialize=mat))
        assert first == {"a": "a", "b": "a", "c": "a", "d": "a", "e": "e", "f": "e"}
        # the stage tables are on disk, fingerprint-keyed like every stage
        run_dir = os.path.join(cfg.checkpoint_dir, cfg.fingerprint())
        written = {
            d for d in os.listdir(run_dir)
            if os.path.exists(os.path.join(run_dir, d, "_SUCCESS"))
        }
        assert {"cc_edges", "cc_uf"} <= written
        assert ("cc_r0" in written) == bool(forced)
        assert ("cc_contracted1" in written) == bool(forced)
        assert _labels(connected_components(poisoned, materialize=durable)) == first


def test_cc_without_target_still_local(spark):
    """No checkpoint target → materializer is None → localCheckpoint
    path unchanged."""
    from deduplidog_spark.pipeline import _cc_materializer

    assert _cc_materializer(DedupConfig(mode="exact")) is None
