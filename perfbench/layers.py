"""Traced run: per-layer metrics from spans around the library's public
layer functions, plus Spark's own event log.

The pass calls the layers in the r6 ``pipeline.dedupe`` order (fused
``banded_ingest_scan`` → ``sha_groups`` semi-join →
``lsh_candidate_pairs`` → ``verify_candidate_pairs(contents=…)`` →
``connected_components(assume_unique_edges=True)`` → ``elect_keepers``
+ ``action_plan``) and the ``process_append_batch`` steps for one
batch, in barrier mode: every stage output is materialized eagerly
inside its span, so a span's wall is that layer's cost. The pass
asserts that its plan digest equals the untraced run's on the same
input, so it cannot drift from the pipeline it stands in for.

Each span sets the Spark job description, so the event log attributes
jobs, task time and shuffle bytes to it. Counts are taken after the
pass, outside every span.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq

SPANS = {
    # span name -> metric name of its wall
    "scan": "scan.wall_s",
    "sha": "sha.wall_s",
    "lsh": "lsh.wall_s",
    "verify": "verify.wall_s",
    "cc": "cc.wall_s",
    "keeper_plan": "keeper_plan.wall_s",
    "state.load": "state.load_s",
    "append.dedupe": "append.dedupe_s",
    "state.append": "state.append_s",
    "state.contents": "state.contents_s",
}
FULL_OP, BATCH_OP = "op:full", "op:append"
RUNTIME = {
    # event-log figure -> unit
    "jobs": "count",
    "driver_gap_s": "s",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
}
PER_SPAN_RUNTIME = ("jobs", "task_run_s", "shuffle_write_bytes")

UNITS = {
    "hashing.shingle_us_per_doc": "us",
    "hashing.oph_us_per_doc": "us",
    "hashing.band_us_per_doc": "us",
    "hashing.jaccard_us_per_pair": "us",
    **{m: "s" for m in SPANS.values()},
    "scan.rows": "count",
    "sha.reps": "count",
    "lsh.band_rows": "count",
    "lsh.multi_buckets": "count",
    "lsh.dropped_buckets": "count",
    "lsh.candidates": "count",
    "verify.size_gated": "count",
    "verify.verified": "count",
    "verify.yield": "ratio",
    "cc.edges": "count",
    "cc.rounds": "count",
    "cc.components": "count",
    "plan.rows": "count",
    "state.bytes": "bytes",
    "append.candidates": "count",
    "append.label_updates": "count",
    "setup.cold_s": "s",
    "jvm.peak_rss_mb": "MiB",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
    **{f"runtime.{k}": u for k, u in RUNTIME.items()},
    **{f"runtime.batch.{k}": u for k, u in RUNTIME.items()},
    **{f"{s}.{k}": RUNTIME[k] for s in SPANS for k in PER_SPAN_RUNTIME},
}
HASH_SAMPLE = 300
HASH_REPEATS = 5


class Tracer:
    """Spans (name, start, end) in epoch seconds; each labels the Spark
    jobs it runs with its name."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, float, float]] = []

    @contextmanager
    def span(self, name: str):
        self.sc.setJobDescription(name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time()))
            self.sc.setJobDescription(None)

    def wall(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1 in self.spans if n == name)

    def window(self, names) -> float:
        picked = [(t0, t1) for n, t0, t1 in self.spans if n in names]
        return max(t1 for _, t1 in picked) - min(t0 for t0, _ in picked)


def bar(df):
    """Barrier: materialize now, inside the current span."""
    return df.localCheckpoint(eager=True)


def full_pass(tr: Tracer, raw, cfg) -> tuple[dict, dict]:
    """The in-memory minhash pipeline, stage by stage. Returns (stage
    outputs, counters filled while running)."""
    from pyspark.sql import functions as F

    from deduplidog_spark.ingest import ingest
    from deduplidog_spark.operators import minhash as mh
    from deduplidog_spark.operators.actions import action_plan
    from deduplidog_spark.operators.candidates import lsh_candidate_pairs
    from deduplidog_spark.operators.cluster import connected_components, elect_keepers
    from deduplidog_spark.operators.exact import exact_dup_pairs_from_groups, sha_groups
    from deduplidog_spark.operators.verify import verify_candidate_pairs

    fid = F.concat_ws("/", "repo", "path")
    out, seen = {}, {"buckets": [], "rounds": 0}
    with tr.span("scan"):
        combined = bar(mh.banded_ingest_scan(raw, cfg).withColumn("fid", fid))
        out["files"] = files = combined.drop("band_hashes")
        out["slim"] = slim = combined.select("fid", "sha", "size", "n_lines", "band_hashes")
    with tr.span("sha"):
        groups = bar(sha_groups(files))
        out["reps"] = reps = bar(slim.join(groups.select(F.col("root").alias("fid")), "fid", "left_semi"))
        exact = bar(exact_dup_pairs_from_groups(files, groups))

    def keep_buckets(df):
        seen["buckets"].append(bar(df))
        return seen["buckets"][-1]

    with tr.span("lsh"):
        out["band_rows"] = band_rows = mh.explode_bands(reps)
        pairs, out["dropped"] = lsh_candidate_pairs(band_rows, cfg, materialize=keep_buckets)
        out["pairs"] = pairs = bar(pairs)
    with tr.span("verify"):
        contents = ingest(raw, cfg).withColumn("fid", fid).select("fid", "content")
        out["near"] = near = bar(verify_candidate_pairs(pairs, slim, cfg, contents=contents))

    def count_rounds(df, tag):
        seen["rounds"] += tag.startswith("r")
        return bar(df)

    with tr.span("cc"):
        out["edges"] = edges = near.select("id_a", "id_b").union(exact)
        out["labels"] = labels = bar(connected_components(
            edges, cfg.cc_max_iterations, materialize=count_rounds, assume_unique_edges=True,
        ))
    with tr.span("keeper_plan"):
        out["plan"] = bar(action_plan(elect_keepers(files, labels, cfg), cfg))
    return out, seen


def append_pass(tr: Tracer, spark, batch, cfg, root: str, batch_id: int):
    """``process_append_batch``'s delta-layout steps for one batch."""
    from pyspark.sql import functions as F

    from deduplidog_spark.incremental import (
        BaseState,
        append_state_delta,
        incremental_dedupe,
        load_state_delta,
    )

    with tr.span("state.load"):
        batch.isEmpty()
        st = load_state_delta(spark, cfg, root, max_batch_id=batch_id)
        state = BaseState(
            files=bar(st.files), bands=bar(st.bands), labels=bar(st.labels),
            band_reps=bar(st.band_reps),
        )
    with tr.span("append.dedupe"):
        contents = spark.read.parquet(f"{root}/contents").filter(
            F.col("batch_id") < batch_id
        ).select("fid", "content")
        res = incremental_dedupe(batch, cfg, state, base_contents=contents)
        res.plan.write.mode("overwrite").parquet(f"{root}/plans/batch_id={batch_id}")
    with tr.span("state.append"):
        append_state_delta(spark, res, cfg, root, batch_id)
    with tr.span("state.contents"):
        batch.select(F.concat_ws("/", "repo", "path").alias("fid"), "content").write.mode(
            "overwrite"
        ).parquet(f"{root}/contents/batch_id={batch_id}")
    return state, res


def hashing_metrics(texts: list[str], pairs: list[tuple[str, str]], cfg) -> dict:
    """Single-threaded µs per doc / pair of the hashing kernels, median
    of HASH_REPEATS passes over a fixed sample."""
    from deduplidog_spark.functions import hashing as H

    k = cfg.shingle_k

    def per_item_us(fn, items) -> float:
        times = []
        for _ in range(HASH_REPEATS):
            t0 = time.perf_counter()
            for x in items:
                fn(x)
            times.append((time.perf_counter() - t0) / len(items) * 1e6)
        return statistics.median(times)

    shingles = [H.shingle_hashes_u64(t, k) for t in texts]
    sigs = np.stack([H.oph_signature(h, cfg.num_perm) for h in shingles])
    return {
        "hashing.shingle_us_per_doc": per_item_us(lambda t: H.shingle_hashes_u64(t, k), texts),
        "hashing.oph_us_per_doc": per_item_us(lambda h: H.oph_signature(h, cfg.num_perm), shingles),
        "hashing.band_us_per_doc": per_item_us(
            lambda s: H.band_hashes_from_sigs(s, cfg.lsh_bands, cfg.lsh_rows), [sigs]
        ) / len(texts),
        "hashing.jaccard_us_per_pair": per_item_us(lambda p: H.jaccard_of_texts(p[0], p[1], k), pairs),
    }


def hash_sample(data: str, base_dir: str, truth: dict):
    """The first HASH_SAMPLE docs of the base corpus and the first
    HASH_SAMPLE planted near pairs."""
    table = pq.read_table(f"{data}/{base_dir}", columns=["repo", "path", "content"])
    text = {
        f"{r}/{p}": c
        for r, p, c in zip(*(table.column(n).to_pylist() for n in ("repo", "path", "content")))
    }
    pairs = []
    for t in truth.values():
        for i, j in t["pairs"]:
            a, b = t["groups"][i][0], t["groups"][j][-1]
            if a != b and a in text and b in text:
                pairs.append((text[a], text[b]))
    return list(text.values())[:HASH_SAMPLE], pairs[:HASH_SAMPLE]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def timed(run, fn, *args):
    """(result, wall) of one operation; unlike ``Run.op`` an exception
    propagates, since the traced run cannot go on without the result."""
    run.attempted += 1
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def traced(run):
    """The traced run of ``run.workload``. Returns (raw per-layer values,
    spans, Spark application id); ``finish`` adds the event-log figures
    once the session has stopped."""
    import shutil

    from pyspark.sql import functions as F

    from deduplidog_spark.incremental import incremental_candidate_pairs, load_state_delta
    from deduplidog_spark.operators import minhash as mh
    from deduplidog_spark.operators.verify import size_ratio_gate
    from deduplidog_spark.streaming.incremental import bootstrap_append_state, process_append_batch

    import checks
    import gen

    spark, cfg, root = run.spark, run.cfg, run.state_root
    if run.workload == "near_dup_chains":
        data, base_dir, batch_dir = run.chains_inputs(), "base", "batch"
    else:
        data, base_dir, batch_dir = run.append_inputs(), "base", "batch0"
    truth = gen.load_truth(data)
    m = hashing_metrics(*hash_sample(data, base_dir, truth), cfg)
    m["setup.cold_s"] = run.setup_walls[0]

    base, batch = run.read(f"{data}/{base_dir}"), run.read(f"{data}/{batch_dir}")
    full = base.unionByName(batch)
    shutil.rmtree(root, ignore_errors=True)
    tr = Tracer(spark)
    with tr.span("bootstrap"):  # also the JIT warm-up for everything after it
        timed(run, bootstrap_append_state, base, cfg, root)
    # warms the in-memory path, which the bootstrap does not take; its
    # JIT cost hardly depends on the input size
    run.dedupe(batch)
    with tr.span(FULL_OP):
        ref, full_wall = timed(run, run.dedupe, full)
    ref_rows = checks.plan_rows(ref.plan)
    (out, seen), _ = timed(run, full_pass, tr, full, cfg)
    traced_rows = checks.plan_rows(out["plan"])

    with tr.span(BATCH_OP):
        _, batch_wall = timed(run, process_append_batch, batch, cfg, root, 0)
    batch_rows = checks.plan_rows(run.read(f"{root}/plans/batch_id=0"))
    (state, res), _ = timed(run, append_pass, tr, spark, batch, cfg, root, 0)
    replay_rows = checks.plan_rows(run.read(f"{root}/plans/batch_id=0"))

    labels = dict(r[:2] for r in ref_rows)
    chain = dict(load_state_delta(spark, cfg, root).labels.select("fid", "component").collect())
    present = {r[0] for r in full.select(F.concat_ws("/", "repo", "path")).collect()}
    rec, prec = checks.recall_precision(labels, truth, present)

    pairs = out["pairs"]
    size = out["slim"].select("fid", "size")
    m.update({
        "scan.rows": out["files"].count(),
        "sha.reps": out["reps"].count(),
        "lsh.band_rows": out["band_rows"].count(),
        "lsh.multi_buckets": seen["buckets"][0].count(),
        "lsh.dropped_buckets": out["dropped"].count(),
        "lsh.candidates": pairs.count(),
        "verify.size_gated": pairs.join(size.toDF("id_a", "size_a"), "id_a")
        .join(size.toDF("id_b", "size_b"), "id_b")
        .filter(size_ratio_gate(F.col("size_a"), F.col("size_b"), cfg.size_ratio_prefilter))
        .count(),
        "verify.verified": out["near"].count(),
        "cc.edges": out["edges"].count(),
        "cc.rounds": seen["rounds"],
        "cc.components": out["labels"].select("component").distinct().count(),
        "plan.rows": len(traced_rows),
        "state.bytes": dir_bytes(root),
        "append.candidates": incremental_candidate_pairs(
            mh.explode_bands(res.new_band_reps), mh.explode_bands(state.band_reps), cfg
        )[0].count(),
        "append.label_updates": res.label_updates.count(),
        "jvm.peak_rss_mb": run.peak_rss_mb(),
    })
    m["verify.yield"] = m["verify.verified"] / max(m["lsh.candidates"], 1)
    m.update({n: tr.wall(s) for s, n in SPANS.items()})
    traced_total = tr.window(list(SPANS)[:6]) + tr.window(list(SPANS)[6:])
    m["trace.overhead_s"] = traced_total - (full_wall + batch_wall)
    m["trace.unattributed_s"] = traced_total - sum(tr.wall(s) for s in SPANS)

    run.checked({  # failing any counts the last operation as failed
        "traced plan digest == untraced": checks.digest(traced_rows) == checks.digest(ref_rows),
        "traced batch plan digest == untraced": checks.digest(replay_rows) == checks.digest(batch_rows),
        "append chain labels == full recompute": chain == labels,
        "plan invariants": checks.plan_invariants(traced_rows) and checks.plan_invariants(batch_rows),
        **checks.quality(rec, prec),
        **(
            {"an LSH bucket dropped": m["lsh.dropped_buckets"] > 0}
            if run.workload == "near_dup_chains" else {}
        ),
    })
    return m, tr.spans, spark.sparkContext.applicationId


def finish(run, m: dict, spans: list, app_id: str) -> dict:
    """Add the event-log figures (the log is complete only once the
    session has stopped) and attach units."""
    from eventlog import read_jobs, runtime_figures

    jobs, tasks = read_jobs(os.path.join(run.events_dir, app_id))
    spans = {n: (t0, t1) for n, t0, t1 in spans}
    for prefix, op in (("runtime", FULL_OP), ("runtime.batch", BATCH_OP)):
        for k, v in runtime_figures(jobs, tasks, op, *spans[op]).items():
            m[f"{prefix}.{k}"] = v
    for s in SPANS:
        fig = runtime_figures(jobs, tasks, s, *spans[s])
        for k in PER_SPAN_RUNTIME:
            m[f"{s}.{k}"] = fig[k]
    return {k: {"value": m[k], "unit": u} for k, u in UNITS.items()}
