"""Measure the incremental batch-append speedup vs a full recompute.

The claim behind deduplidog_spark/incremental.py: appending a small
batch to a deduped base corpus should cost a fraction of re-deduping
base ∪ batch, because base signatures are reused from the checkpoint
and the base side is only probed map-side. This script measures all
three walls on the bench corpus (benchgen.synth_corpus, planted
duplicate classes) and verifies label equivalence:

  1. base run (N rows) with checkpoint    — produces the state
  2. incremental append of a batch (~10%) — reuses the state
  3. full recompute over base ∪ batch     — the alternative

Usage: python scripts/measure_incremental.py [base_rows] [batch_rows]
Appends one JSON line to stdout; paste the numbers into BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 600_000
BATCH_ROWS = int(sys.argv[2]) if len(sys.argv) > 2 else 60_000
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    from pyspark.sql import functions as F

    from deduplidog_spark.benchgen import synth_corpus
    from deduplidog_spark.config import DedupConfig
    from deduplidog_spark.incremental import (
        append_state_delta,
        incremental_dedupe,
        load_state,
    )
    from deduplidog_spark.pipeline import dedupe
    from deduplidog_spark.session import get_spark

    spark = get_spark(
        f"incr-bench-{CPUS}",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="incr_bench_")
    total = BASE_ROWS + BATCH_ROWS
    corpus_dir = os.path.join(tmp, "corpus")
    # one corpus, deterministic; the batch is a uniform ~10% slice so
    # it collides with base duplicate classes (the realistic case)
    synth_corpus(spark, total).write.parquet(corpus_dir)
    corpus = spark.read.parquet(corpus_dir)
    frac = BATCH_ROWS / total
    is_batch = F.pmod(F.xxhash64("repo", "path"), F.lit(1000)) < int(frac * 1000)
    base_raw = corpus.filter(~is_batch)
    batch_raw = corpus.filter(is_batch)
    n_base, n_batch = base_raw.count(), batch_raw.count()

    cfg = DedupConfig(
        mode="minhash", shingle_k=9, jaccard_threshold=0.6,
        sig_est_threshold=0.45, checkpoint_dir=os.path.join(tmp, "ckpt"),
    )
    # warm-up (executor pool + python workers are startup, not throughput)
    spark.range(10000).select(F.sha2(F.col("id").cast("string"), 256)).count()

    t0 = time.time()
    dedupe(base_raw, cfg).plan.count()
    t_base = time.time() - t0

    state = load_state(spark, cfg)
    # symmetric legs: the incremental side pays EVERYTHING a production
    # append pays — keeper election + action plan, persisted outputs,
    # and the state roll-forward (files/bands/labels written for the
    # next batch) — just like the full recompute persists its stages
    t0 = time.time()
    res = incremental_dedupe(
        batch_raw, cfg, state,
        base_contents=base_raw.select(
            F.concat_ws("/", "repo", "path").alias("fid"), "content"
        ),
    )
    res.plan.write.mode("overwrite").parquet(os.path.join(tmp, "append_plan"))
    res.labels.write.mode("overwrite").parquet(os.path.join(tmp, "append_labels"))
    n_labels = res.labels.count()
    t_incr = time.time() - t0
    # state roll-forward timed separately: the delta layout appends
    # the batch-sized partitions only (files, bands, fresh-sha reps,
    # affected labels) — nothing base-sized is rewritten
    t0 = time.time()
    append_state_delta(spark, res, cfg, os.path.join(tmp, "state"), batch_id=0)
    t_roll = time.time() - t0

    cfg_full = cfg.with_(checkpoint_dir=os.path.join(tmp, "ckpt_full"))
    t0 = time.time()
    full = dedupe(corpus, cfg_full)
    full.plan.count()
    t_full = time.time() - t0

    # equivalence spot-check (full label-set compare is itself a job)
    a = res.labels.withColumnRenamed("component", "c_inc")
    b = full.clusters.select("fid", F.col("component").alias("c_full"))
    mism = a.join(b, "fid", "full").filter(
        F.col("c_inc").isNull() | F.col("c_full").isNull()
        | (F.col("c_inc") != F.col("c_full"))
    ).count()

    print(json.dumps({
        "base_rows": n_base,
        "batch_rows": n_batch,
        "t_base_sec": round(t_base, 1),
        "t_incremental_sec": round(t_incr, 1),
        "t_state_rollforward_sec": round(t_roll, 1),
        "t_full_recompute_sec": round(t_full, 1),
        "speedup_vs_full": round(t_full / t_incr, 2),
        "speedup_incl_rollforward": round(t_full / (t_incr + t_roll), 2),
        "labels": n_labels,
        "label_mismatches_vs_full": mism,
        "cores": CPUS,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
