"""Continuous append path: ``streaming_append_dedupe`` (foreachBatch
over the delta chain) and the ``process_append_batch`` /
``next_delta_batch_id`` / ``compact_append_chain`` entry points it
shares with batch callers — bootstrap guards, replay, rewind and
compaction safety."""

import os
import tempfile

from deduplidog_spark import fixtures as FX


def test_streaming_append_delta_layout_o_batch_writes(spark):
    """Round-3 VERDICT weak #3: the old whole-copy layout rewrote
    base-sized state per micro-batch. The delta chain must (a) keep no
    full state copies, (b) write O(batch) bytes per roll-forward: each
    batch's state partitions must stay far smaller than the bootstrap's
    base partitions even though the accumulated corpus keeps growing,
    and (c) chain — batch-vs-batch and batch-vs-base duplicates
    cluster, and final labels equal a full recompute over base ∪ all
    batches."""
    from pyspark.sql import functions as F  # noqa: F401

    from deduplidog_spark.config import DedupConfig
    from deduplidog_spark.incremental import load_state_delta
    from deduplidog_spark.pipeline import dedupe
    from deduplidog_spark.streaming.incremental import (
        bootstrap_append_state,
        read_file_stream,
        streaming_append_dedupe,
    )

    tmp = tempfile.mkdtemp(prefix="stream_delta_")
    root = os.path.join(tmp, "state")
    src = os.path.join(tmp, "in")
    os.makedirs(src)
    cfg = DedupConfig(
        mode="minhash", num_perm=128, lsh_bands=64,
        jaccard_threshold=0.25, sig_est_threshold=0.05,
        size_ratio_prefilter=0.4,
    )

    def words(p, n):
        return " ".join(
            f"{p}{chr(97 + i % 26)}{chr(97 + (i // 26) % 26)}" for i in range(n)
        )

    def df(rows):
        return spark.createDataFrame(
            [(r, p, "c0", "py", c, None) for r, p, c in rows],
            "repo string, path string, commit string, lang string, "
            "content string, mtime timestamp",
        )

    # base is deliberately much larger than the batches — including 25
    # duplicate PAIRS so the cc_labels stage has base-sized content —
    # so the O(batch)-vs-O(base) assertion has teeth on every stage
    base = df(
        [("base", f"f{i:03d}.py", words(f"w{i:02d}", 40)) for i in range(25)]
        + [("base", f"f{i:03d}_copy.py", words(f"w{i:02d}", 40)) for i in range(25)]
        + [("base", "a.py", words("alpha", 40))]
    )
    bootstrap_append_state(base, cfg, root)

    b1 = [("d1", "h.py", words("hotel", 40))]
    b2 = [("d2", "hcopy.py", words("hotel", 40)),          # dup of batch-1 doc
          ("d2", "anear.py", words("alpha", 40) + " tailxx tailyy")]  # near base
    df(b1).write.parquet(os.path.join(src, "b1"))

    stream = read_file_stream(spark, src + "/*", FX.FILES_SCHEMA)
    q = streaming_append_dedupe(stream, cfg, root, os.path.join(tmp, "qckpt"))
    try:
        q.processAllAvailable()
        df(b2).write.parquet(os.path.join(src, "b2"))
        q.processAllAvailable()
    finally:
        q.stop()

    # (a) no full snapshot copies exist; the scratch bootstrap dir is gone
    assert not [d for d in os.listdir(root) if d.startswith("s")]
    assert not os.path.exists(os.path.join(root, "_bootstrap"))

    # (b) per-batch state writes are batch-sized, not base-sized: each
    # roll-forward partition holds only the batch's rows (1-4 here)
    # while the bootstrap partition holds the 51-doc base. Rows, not
    # bytes: at this corpus size the fixed parquet footer (~800 B/file)
    # would swamp a byte comparison; written bytes track written rows
    # at any real scale.
    delta = os.path.join(root, cfg.fingerprint(), "delta")
    for stage in ("files", "minhash_bands", "band_reps", "cc_labels"):
        base_n = spark.read.parquet(
            os.path.join(delta, stage, "batch_id=-1")
        ).count()
        assert base_n >= 25, f"{stage}: bootstrap partition unexpectedly small"
        # discover the batch partitions instead of hardcoding ids or
        # counts: foreachBatch may fire an initial empty batch under
        # load, and the file source may split one parquet write's part
        # files across micro-batches (seen flaking under host load) —
        # the contract is batch-sized writes, however the engine slices
        batch_parts = [
            d for d in os.listdir(os.path.join(delta, stage))
            if d.startswith("batch_id=") and d != "batch_id=-1"
        ]
        assert len(batch_parts) >= 2, batch_parts
        for part in batch_parts:
            batch_n = spark.read.parquet(
                os.path.join(delta, stage, part)
            ).count()
            assert batch_n <= 4, (
                f"{stage} {part}: {batch_n} rows vs base {base_n} — "
                "roll-forward is rewriting base-sized state"
            )

    # (c) chained labels equal the full recompute
    final = load_state_delta(spark, cfg, root)
    lab = {r.fid: r.component for r in final.labels.collect()}
    assert lab["d2/hcopy.py"] == lab["d1/h.py"]          # batch-vs-batch dup
    assert lab["d2/anear.py"] == lab["base/a.py"]        # batch-vs-base near
    full = dedupe(
        base.unionByName(df(b1)).unionByName(df(b2)),
        cfg.with_(checkpoint_dir=tempfile.mkdtemp(prefix="full_sd_")),
    )
    ful = {r.fid: r.component for r in full.clusters.select("fid", "component").collect()}
    assert lab == ful


def test_delta_state_replay_is_idempotent(spark):
    """The delta layout's crash-replay contract: re-running batch k
    (foreachBatch at-least-once) overwrites the same batch-keyed
    partitions instead of duplicating rows, and a partial write from a
    crashed attempt at batch k is invisible to the replay's own read
    (loader filters batch_id < k). Driven through the incremental API
    the stream's _process uses."""
    from pyspark.sql import functions as F

    from deduplidog_spark.config import DedupConfig
    from deduplidog_spark.incremental import (
        append_state_delta,
        incremental_dedupe,
        load_state,
        load_state_delta,
        write_state_delta,
    )
    from deduplidog_spark.pipeline import dedupe

    tmp = tempfile.mkdtemp(prefix="delta_replay_")
    root = os.path.join(tmp, "state")
    cfg = DedupConfig(mode="minhash", checkpoint_dir=os.path.join(tmp, "boot"))

    def df(rows):
        return spark.createDataFrame(
            [(r, p, "c0", "py", c, None) for r, p, c in rows],
            "repo string, path string, commit string, lang string, "
            "content string, mtime timestamp",
        )

    base = df([("b", f"f{i}.py", f"unique words number {i} " * 10) for i in range(8)])
    res0 = dedupe(base, cfg)
    res0.plan.count()
    write_state_delta(spark, load_state(spark, cfg), cfg, root)

    batch = df([("d", "g.py", "unique words number 3 " * 10)])
    contents = base.select(
        F.concat_ws("/", "repo", "path").alias("fid"), "content"
    )

    def run_batch_0():
        st = load_state_delta(spark, cfg, root, max_batch_id=0)
        r = incremental_dedupe(batch, cfg, st, base_contents=contents)
        append_state_delta(spark, r, cfg, root, 0)

    run_batch_0()
    first = {
        (r.fid, r.component)
        for r in load_state_delta(spark, cfg, root).labels.collect()
    }
    n_files_first = load_state_delta(spark, cfg, root).files.count()
    # crash-replay: batch 0 runs AGAIN (same input, same id)
    run_batch_0()
    again = load_state_delta(spark, cfg, root)
    assert {
        (r.fid, r.component) for r in again.labels.collect()
    } == first, "replay must not change labels"
    assert again.files.count() == n_files_first, "replay must not duplicate rows"
    assert again.bands.count() == 9  # 8 base + 1 batch, once

    # partial-write invisibility: a crashed batch 1 left partial files
    # partitions; batch 1's replay (max_batch_id=1) must not see them
    import pandas as pd  # noqa: F401  (ensure pandas present for createDataFrame)

    partial = spark.createDataFrame(
        [("junk/p.py",)], "fid string"
    )
    partial.write.mode("overwrite").parquet(
        os.path.join(root, cfg.fingerprint(), "delta", "cc_labels", "batch_id=1")
    )
    st1 = load_state_delta(spark, cfg, root, max_batch_id=1)
    assert not [r for r in st1.labels.collect() if r.fid == "junk/p.py"]


def test_next_delta_batch_id_replays_partial_append(spark):
    """Review finding (r4): the next batch id must derive from the
    LAST-written artifact (contents), so a CLI append killed after the
    state partitions landed but before contents re-derives the SAME id
    and replays the partial batch — chaining past it would leave docs
    in state.files with no contents/band visibility."""
    from pyspark.sql import functions as F

    from deduplidog_spark.config import DedupConfig
    from deduplidog_spark.incremental import load_state, write_state_delta
    from deduplidog_spark.pipeline import dedupe
    from deduplidog_spark.streaming.incremental import (
        next_delta_batch_id,
        process_append_batch,
    )

    tmp = tempfile.mkdtemp(prefix="delta_nextid_")
    root = os.path.join(tmp, "state")
    cfg = DedupConfig(mode="minhash", checkpoint_dir=os.path.join(tmp, "boot"))

    def df(rows):
        return spark.createDataFrame(
            [(r, p, "c0", "py", c, None) for r, p, c in rows],
            "repo string, path string, commit string, lang string, "
            "content string, mtime timestamp",
        )

    base = df([("b", f"f{i}.py", f"unique words number {i} " * 10) for i in range(6)])
    dedupe(base, cfg).plan.count()
    write_state_delta(spark, load_state(spark, cfg), cfg, root)
    base.select(
        F.concat_ws("/", "repo", "path").alias("fid"), "content"
    ).write.parquet(os.path.join(root, "contents", "batch_id=-1"))

    assert next_delta_batch_id(spark, cfg, root) == 0

    # full append for batch 0 (writes contents last) → next is 1
    batch = df([("d", "g.py", "unique words number 3 " * 10)])
    process_append_batch(batch, cfg, root, 0)
    assert next_delta_batch_id(spark, cfg, root) == 1

    # simulate a crash mid-append for batch 1: state partition written,
    # contents NOT → the id must stay 1 (replay), not advance to 2
    spark.createDataFrame([("junk/x.py", "junk/x.py")], "fid string, component string") \
        .write.parquet(os.path.join(root, cfg.fingerprint(), "delta",
                                    "cc_labels", "batch_id=1"))
    assert next_delta_batch_id(spark, cfg, root) == 1


def test_delta_chain_rejects_batch_id_rewind(spark):
    """Review finding (r4, max pass): a batch id BELOW the chain's max
    committed id (e.g. a StreamingQuery with a fresh checkpoint pointed
    at a root the CLI already advanced) must be refused — proceeding
    would load state excluding committed batches and overwrite their
    partitions with a different doc set. Equality (the legitimate
    at-least-once replay of the newest batch) stays allowed."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from deduplidog_spark.config import DedupConfig
    from deduplidog_spark.incremental import load_state, write_state_delta
    from deduplidog_spark.pipeline import dedupe
    from deduplidog_spark.streaming.incremental import process_append_batch

    tmp = tempfile.mkdtemp(prefix="delta_rewind_")
    root = os.path.join(tmp, "state")
    cfg = DedupConfig(mode="minhash", checkpoint_dir=os.path.join(tmp, "boot"))

    def df(rows):
        return spark.createDataFrame(
            [(r, p, "c0", "py", c, None) for r, p, c in rows],
            "repo string, path string, commit string, lang string, "
            "content string, mtime timestamp",
        )

    base = df([("b", f"f{i}.py", f"unique words number {i} " * 10) for i in range(6)])
    dedupe(base, cfg).plan.count()
    write_state_delta(spark, load_state(spark, cfg), cfg, root)
    base.select(
        F.concat_ws("/", "repo", "path").alias("fid"), "content"
    ).write.parquet(os.path.join(root, "contents", "batch_id=-1"))

    b0 = df([("d0", "g.py", "unique words number 3 " * 10)])
    b1 = df([("d1", "h.py", "unique words number 4 " * 10)])
    process_append_batch(b0, cfg, root, 0)
    process_append_batch(b1, cfg, root, 1)

    # rewind to a committed id → refused, state untouched
    with _pytest.raises(RuntimeError, match="rewind"):
        process_append_batch(df([("dx", "x.py", "zz " * 30)]), cfg, root, 0)
    d0_files = spark.read.parquet(
        os.path.join(root, cfg.fingerprint(), "delta", "files", "batch_id=0")
    )
    assert [r.fid for r in d0_files.collect()] == ["d0/g.py"], (
        "refused rewind must leave the committed batch-0 partition intact"
    )
    # replay of the NEWEST batch (id == max committed) stays allowed
    process_append_batch(b1, cfg, root, 1)


def test_append_chain_default_layout_unified():
    """Compaction cadence parity: the CLI append must compact like the
    stream does, or a CLI-driven chain regrows the read-side O(chain)
    cost compaction exists to bound."""
    import inspect
    import pathlib

    from deduplidog_spark.streaming.incremental import streaming_append_dedupe

    cli = (
        pathlib.Path(__file__).resolve().parent.parent
        / "scripts" / "run_dedupe.py"
    ).read_text()
    assert "compact_every=16" in cli, (
        "run_dedupe.py --append must pass the stream's compaction cadence"
    )
    assert (
        inspect.signature(streaming_append_dedupe)
        .parameters["compact_every"].default == 16
    )


def test_compact_every_bounds_chain_and_interops_with_cli(spark):
    """The every-N-batches compaction hook (r4 VERDICT next-round #2):
    with compact_every=1 every batch folds its PREDECESSORS (never
    itself — its engine commit is still pending, r5 review #1), so
    state partitions stay bounded at seed + the last batch per stage
    while contents partitions (the raw batch inputs, needed for
    verify) keep accumulating — and a later CLI-style append
    (next_delta_batch_id + process_append_batch) chains on the
    compacted root, still finding duplicates of pre-compaction docs."""
    from pyspark.sql import functions as F

    from deduplidog_spark.config import DedupConfig
    from deduplidog_spark.incremental import load_state, write_state_delta
    from deduplidog_spark.pipeline import dedupe
    from deduplidog_spark.streaming.incremental import (
        next_delta_batch_id,
        process_append_batch,
    )

    tmp = tempfile.mkdtemp(prefix="compact_hook_")
    root = os.path.join(tmp, "state")
    cfg = DedupConfig(mode="minhash", checkpoint_dir=os.path.join(tmp, "boot"))

    def df(rows):
        return spark.createDataFrame(
            [(r, p, "c0", "py", c, None) for r, p, c in rows],
            "repo string, path string, commit string, lang string, "
            "content string, mtime timestamp",
        )

    base = df([("b", f"f{i}.py", f"unique words number {i} " * 10)
               for i in range(6)])
    dedupe(base, cfg).plan.count()
    write_state_delta(spark, load_state(spark, cfg), cfg, root)
    base.select(
        F.concat_ws("/", "repo", "path").alias("fid"), "content"
    ).write.parquet(os.path.join(root, "contents", "batch_id=-1"))

    b0 = df([("d0", "g.py", "unique words number 3 " * 10)])
    b1 = df([("d1", "h.py", "brand new words here " * 10)])
    process_append_batch(b0, cfg, root, 0, compact_every=1)
    process_append_batch(b1, cfg, root, 1, compact_every=1)

    delta = os.path.join(root, cfg.fingerprint(), "delta")
    for stage in ("files", "minhash_bands", "band_reps", "cc_labels"):
        parts = sorted(
            d for d in os.listdir(os.path.join(delta, stage))
            if d.startswith("batch_id=")
        )
        # batch 1 folded batch 0 (and the old seed); batch 1 itself
        # stays unfolded until a successor commits — folding the
        # current batch would corrupt its own foreachBatch replay
        assert parts == ["batch_id=-2", "batch_id=1"], (stage, parts)
    assert sorted(
        n for n in os.listdir(delta) if n.startswith("_seed_")
    ) == ["_seed_g1_c0"]
    # contents are NOT compacted (raw verify inputs, batch-id ledger)
    assert sorted(
        d for d in os.listdir(os.path.join(root, "contents"))
    ) == ["batch_id=-1", "batch_id=0", "batch_id=1"]

    # CLI interop on the compacted chain: id accounting unaffected,
    # and a duplicate of the folded batch-1 doc still clusters with it
    k = next_delta_batch_id(spark, cfg, root)
    assert k == 2
    b2 = df([("d2", "hcopy.py", "brand new words here " * 10)])
    process_append_batch(b2, cfg, root, k, compact_every=None)
    from deduplidog_spark.incremental import load_state_delta

    lab = {
        r.fid: r.component
        for r in load_state_delta(spark, cfg, root).labels.collect()
    }
    assert lab["d2/hcopy.py"] == lab["d1/h.py"]


def test_bootstrap_refuses_foreign_fingerprint_and_compacted_chain(spark):
    """r4 ADVICE #1: contents/ and plans/ are shared per-root, so a
    second CONFIG must not bootstrap over a root whose first chain is
    only seeded (batch_id=-1) — it would overwrite contents/batch_id=-1
    and corrupt the first chain's verify inputs. Likewise a compacted
    chain (live _seed marker) must refuse a same-config re-bootstrap:
    the re-seeded batch_id=-1 would be invisible to the loader."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from deduplidog_spark.config import DedupConfig
    from deduplidog_spark.incremental import (
        compact_state_delta,
        load_state,
        write_state_delta,
    )
    from deduplidog_spark.pipeline import dedupe
    from deduplidog_spark.streaming.incremental import (
        bootstrap_append_state,
        process_append_batch,
    )

    tmp = tempfile.mkdtemp(prefix="boot_guard_")
    root = os.path.join(tmp, "state")

    def df(rows):
        return spark.createDataFrame(
            [(r, p, "c0", "py", c, None) for r, p, c in rows],
            "repo string, path string, commit string, lang string, "
            "content string, mtime timestamp",
        )

    base = df([("b", f"f{i}.py", f"unique words number {i} " * 10)
               for i in range(4)])
    cfg1 = DedupConfig(mode="minhash")
    bootstrap_append_state(base, cfg1, root)

    # a DIFFERENT config (different fingerprint) at the same root, with
    # the first chain still only at batch_id=-1 → must refuse
    cfg2 = DedupConfig(mode="minhash", jaccard_threshold=0.5)
    assert cfg1.fingerprint() != cfg2.fingerprint()
    with _pytest.raises(ValueError, match="already holds state"):
        bootstrap_append_state(base, cfg2, root)

    # same config, compacted chain → live marker must refuse re-seed
    b0 = df([("d0", "g.py", "unique words number 3 " * 10)])
    process_append_batch(b0, cfg1, root, 0)
    compact_state_delta(spark, cfg1, root)
    with _pytest.raises(ValueError, match="already holds state"):
        bootstrap_append_state(base, cfg1, root)


def test_compaction_never_folds_the_current_batch(spark):
    """r5 review #1: the compaction hook inside process_append_batch
    must fold strictly EARLIER batches. The streaming engine's commit
    for batch k lands only AFTER foreachBatch returns — a crash in that
    gap replays k, and had compaction folded k into the seed, the
    replay would load a state that already contains its own rows, mark
    every replayed doc a duplicate of itself, and overwrite the batch
    plan with garbage. So: the marker after batch 2 (compact_every=2)
    must read _c1, and a replay of batch 2 must reproduce its plan
    bit-identically and keep labels equal to a full recompute."""
    from pyspark.sql import functions as F

    from deduplidog_spark.config import DedupConfig
    from deduplidog_spark.incremental import (
        load_state,
        load_state_delta,
        write_state_delta,
    )
    from deduplidog_spark.pipeline import dedupe
    from deduplidog_spark.streaming.incremental import process_append_batch

    tmp = tempfile.mkdtemp(prefix="compact_replay_")
    root = os.path.join(tmp, "state")
    cfg = DedupConfig(mode="minhash", checkpoint_dir=os.path.join(tmp, "boot"))

    def df(rows):
        return spark.createDataFrame(
            [(r, p, "c0", "py", c, None) for r, p, c in rows],
            "repo string, path string, commit string, lang string, "
            "content string, mtime timestamp",
        )

    base = df([("b", f"f{i}.py", f"unique words number {i} " * 10)
               for i in range(4)])
    dedupe(base, cfg).plan.count()
    write_state_delta(spark, load_state(spark, cfg), cfg, root)
    base.select(
        F.concat_ws("/", "repo", "path").alias("fid"), "content"
    ).write.parquet(os.path.join(root, "contents", "batch_id=-1"))

    b0 = df([("d0", "g.py", "unique words number 3 " * 10)])
    b1 = df([("d1", "h.py", "brand new words here " * 10)])
    b2 = df([("d2", "k.py", "fresh one-off document words " * 10)])
    process_append_batch(b0, cfg, root, 0, compact_every=2)
    process_append_batch(b1, cfg, root, 1, compact_every=2)
    process_append_batch(b2, cfg, root, 2, compact_every=2)

    delta = os.path.join(root, cfg.fingerprint(), "delta")
    markers = sorted(
        n for n in os.listdir(delta) if n.startswith("_seed_")
    )
    assert markers == ["_seed_g1_c1"], (
        "the hook must fold batches < 2 only — folding batch 2 itself "
        f"would corrupt its own replay (got {markers})"
    )

    def plan_rows():
        return sorted(
            map(
                tuple,
                spark.read.parquet(
                    os.path.join(root, "plans", "batch_id=2")
                ).collect(),
            )
        )

    before = plan_rows()
    # engine-commit crash: foreachBatch replays batch 2 with the same id
    process_append_batch(b2, cfg, root, 2, compact_every=2)
    assert plan_rows() == before, (
        "replayed batch saw its own rows in the loaded state "
        "(self-duplicate garbage plan)"
    )
    final = load_state_delta(spark, cfg, root)
    assert (
        final.files.groupBy("fid").count()
        .filter(F.col("count") > 1).count() == 0
    )
    full = dedupe(
        base.unionByName(b0).unionByName(b1).unionByName(b2),
        DedupConfig(
            mode="minhash",
            checkpoint_dir=tempfile.mkdtemp(prefix="full_cr_"),
        ),
    )
    lab = {r.fid: r.component for r in final.labels.collect()}
    ful = {
        r.fid: r.component
        for r in full.clusters.select("fid", "component").collect()
    }
    assert lab == ful


def test_append_chain_through_catalog_table_store(spark):
    """r5 review #2: every chain entry point must probe state through
    the store seam, so cfg.checkpoint_table_prefix drives the WHOLE
    chain against catalog tables (the Iceberg shape): bootstrap →
    next_delta_batch_id → process_append_batch → compaction hook →
    re-bootstrap guards — with NO path-layout delta dirs on disk."""
    import uuid

    import pytest as _pytest
    from pyspark.sql import functions as F

    from deduplidog_spark.config import DedupConfig
    from deduplidog_spark.incremental import load_state_delta
    from deduplidog_spark.pipeline import dedupe
    from deduplidog_spark.streaming.incremental import (
        bootstrap_append_state,
        next_delta_batch_id,
        process_append_batch,
    )

    tmp = tempfile.mkdtemp(prefix="tbl_chain_")
    root = os.path.join(tmp, "state")
    prefix = f"ch{uuid.uuid4().hex[:8]}"
    cfg = DedupConfig(
        mode="minhash",
        checkpoint_table_prefix=prefix,
        checkpoint_format="parquet",
    )

    def df(rows):
        return spark.createDataFrame(
            [(r, p, "c0", "py", c, None) for r, p, c in rows],
            "repo string, path string, commit string, lang string, "
            "content string, mtime timestamp",
        )

    base = df([("b", f"f{i}.py", f"unique words number {i} " * 10)
               for i in range(4)])
    bootstrap_append_state(base, cfg, root)
    # state lives in catalog tables, not the path layout
    assert not os.path.exists(os.path.join(root, cfg.fingerprint())), (
        "table-store chain must not write path-layout delta dirs"
    )
    assert spark.catalog.tableExists(
        f"{prefix}_delta_cc_labels_{cfg.fingerprint()}"
    )

    assert next_delta_batch_id(spark, cfg, root) == 0
    b0 = df([("d0", "g.py", "unique words number 3 " * 10)])
    b1 = df([("d1", "h.py", "brand new words here " * 10)])
    process_append_batch(b0, cfg, root, 0, compact_every=1)
    process_append_batch(b1, cfg, root, 1, compact_every=1)
    assert next_delta_batch_id(spark, cfg, root) == 2
    # the hook compacted through batch 0 while processing batch 1
    markers = [
        r.name
        for r in spark.table(
            f"{prefix}_delta_markers_{cfg.fingerprint()}"
        ).collect()
    ]
    assert "_seed_g1_c0" in markers

    final = load_state_delta(spark, cfg, root)
    full = dedupe(
        base.unionByName(b0).unionByName(b1),
        DedupConfig(
            mode="minhash",
            checkpoint_dir=tempfile.mkdtemp(prefix="full_tc_"),
        ),
    )
    lab = {r.fid: r.component for r in final.labels.collect()}
    ful = {
        r.fid: r.component
        for r in full.clusters.select("fid", "component").collect()
    }
    assert lab == ful

    # guards hold THROUGH the store seam: a same-config re-bootstrap
    # must see the table chain's batches/markers and refuse
    with _pytest.raises(ValueError, match="already holds state"):
        bootstrap_append_state(base, cfg, root)
    # a DIFFERENT table prefix at the same root leaves no path or
    # fingerprint trace — the contents-ownership guard must refuse
    cfg2 = cfg.with_(checkpoint_table_prefix=f"ch{uuid.uuid4().hex[:8]}")
    with _pytest.raises(ValueError, match="already holds state"):
        bootstrap_append_state(base, cfg2, root)


def test_cli_rejects_removed_and_unhostable_shapes(spark, monkeypatch):
    """run_dedupe refuses, before any work: the removed --state-out
    flag (an unknown option, not a stray positional argument), --append
    against a table: target (no path root for contents/plans), and
    --append against a root of the old whole-copy snapshot layout
    (named in the error)."""
    import importlib.util
    import pathlib
    import sys

    import pytest as _pytest

    spec = importlib.util.spec_from_file_location(
        "run_dedupe_cli",
        pathlib.Path(__file__).resolve().parent.parent
        / "scripts" / "run_dedupe.py",
    )
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)

    tmp = tempfile.mkdtemp(prefix="cli_reject_")
    corpus_loc = os.path.join(tmp, "corpus")
    batch_loc = os.path.join(tmp, "batch")
    root = os.path.join(tmp, "state")

    def run(*args):
        monkeypatch.setattr(sys, "argv", ["run_dedupe.py", *args])
        cli.main()

    with _pytest.raises(SystemExit, match="unknown option --state-out"):
        run(corpus_loc, root, "--append", batch_loc,
            "--state-out", os.path.join(tmp, "next"))
    with _pytest.raises(SystemExit, match="--append takes a plain path"):
        run(corpus_loc, "table:run1", "--append", batch_loc)

    os.makedirs(os.path.join(root, "s000000001"))
    with _pytest.raises(ValueError, match="snapshot-layout state .*s000000001"):
        run(corpus_loc, root, "--append", batch_loc)
    # the library entry points refuse the same root
    from deduplidog_spark.config import DedupConfig
    from deduplidog_spark.streaming.incremental import (
        bootstrap_append_state,
        process_append_batch,
    )

    df = spark.createDataFrame(
        [("b", "f.py", "c0", "py", "some words " * 10, None)],
        "repo string, path string, commit string, lang string, "
        "content string, mtime timestamp",
    )
    cfg = DedupConfig(mode="minhash")
    with _pytest.raises(ValueError, match="snapshot-layout state .*s000000001"):
        bootstrap_append_state(df, cfg, root)
    with _pytest.raises(ValueError, match="snapshot-layout state .*s000000001"):
        process_append_batch(df, cfg, root, 0)


def test_compact_append_chain_bounded_by_contents_commit(spark):
    """r5 review (second pass): cc_labels is only the STAGE completion
    stamp — an append that crashes between append_state_delta and the
    contents write leaves a fully-staged batch k with no chain-level
    commit, and next_delta_batch_id will re-derive id k for its replay.
    compact_append_chain must therefore bound the fold by the contents
    ledger, leaving batch k out of the seed so the replay stays clean."""
    from pyspark.sql import functions as F

    from deduplidog_spark.config import DedupConfig
    from deduplidog_spark.incremental import (
        append_state_delta,
        incremental_dedupe,
        load_state,
        load_state_delta,
        write_state_delta,
    )
    from deduplidog_spark.pipeline import dedupe
    from deduplidog_spark.streaming.incremental import (
        compact_append_chain,
        next_delta_batch_id,
        process_append_batch,
    )

    tmp = tempfile.mkdtemp(prefix="compact_chain_")
    root = os.path.join(tmp, "state")
    cfg = DedupConfig(mode="minhash", checkpoint_dir=os.path.join(tmp, "boot"))

    def df(rows):
        return spark.createDataFrame(
            [(r, p, "c0", "py", c, None) for r, p, c in rows],
            "repo string, path string, commit string, lang string, "
            "content string, mtime timestamp",
        )

    base = df([("b", f"f{i}.py", f"unique words number {i} " * 10)
               for i in range(4)])
    dedupe(base, cfg).plan.count()
    write_state_delta(spark, load_state(spark, cfg), cfg, root)
    base.select(
        F.concat_ws("/", "repo", "path").alias("fid"), "content"
    ).write.parquet(os.path.join(root, "contents", "batch_id=-1"))

    b0 = df([("d0", "g.py", "unique words number 3 " * 10)])
    process_append_batch(b0, cfg, root, 0)  # fully committed

    # batch 1 crashes AFTER all stage writes but BEFORE contents
    b1 = df([("d1", "h.py", "brand new words here " * 10)])
    st = load_state_delta(spark, cfg, root, max_batch_id=1)
    contents = spark.read.parquet(os.path.join(root, "contents")).filter(
        F.col("batch_id") < 1
    ).select("fid", "content")
    append_state_delta(
        spark, incremental_dedupe(b1, cfg, st, base_contents=contents),
        cfg, root, 1,
    )

    assert next_delta_batch_id(spark, cfg, root) == 1  # replay id is 1
    assert compact_append_chain(spark, cfg, root) == 1  # folds batch 0 only
    delta = os.path.join(root, cfg.fingerprint(), "delta")
    assert sorted(
        n for n in os.listdir(delta) if n.startswith("_seed_")
    ) == ["_seed_g1_c0"]
    seed_files = spark.read.parquet(
        os.path.join(delta, "files", "batch_id=-2")
    )
    assert not [r for r in seed_files.collect() if r.fid.startswith("d1/")], (
        "the uncommitted batch must stay out of the seed"
    )

    # the replay commits cleanly: unique doc NOT marked its own dup
    process_append_batch(b1, cfg, root, next_delta_batch_id(spark, cfg, root))
    final = load_state_delta(spark, cfg, root)
    assert (
        final.files.groupBy("fid").count()
        .filter(F.col("count") > 1).count() == 0
    )
    full = dedupe(
        base.unionByName(b0).unionByName(b1),
        DedupConfig(
            mode="minhash",
            checkpoint_dir=tempfile.mkdtemp(prefix="full_cc_"),
        ),
    )
    lab = {r.fid: r.component for r in final.labels.collect()}
    ful = {
        r.fid: r.component
        for r in full.clusters.select("fid", "component").collect()
    }
    assert lab == ful
