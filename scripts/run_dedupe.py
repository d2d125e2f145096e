"""spark-submit entry point: run the dedup pipeline on a corpus table.

Usage (via scripts/submit.sh):
    spark-submit --py-files deduplidog_spark.zip scripts/run_dedupe.py \
        <corpus_location> <checkpoint_target> [mode] [jaccard_threshold] \
        [--append <batch_location>] \
        [--collapse-versions [--version-order-col <col>]]

``checkpoint_target`` is either a path or
``table:<catalog.db.prefix>[:format]`` for catalog-table stage
checkpoints — e.g. ``table:lake.db.run1:iceberg`` on a cluster with
the Iceberg runtime (north_rule), or ``table:run1`` for the session
catalog's default format.

With a path target, the full run bootstraps an append chain rooted
there (streaming.incremental.bootstrap_append_state): the state stages
become the ``batch_id=-1`` partitions of a batch-keyed delta log, next
to the base contents. Every later ``--append <batch_location>`` run
against the SAME root dedupes the batch against base ∪ earlier batches
(deduplidog_spark/incremental.py: batch-only signatures, broadcast
probing of the base band table, subgraph connected components),
auto-assigns the next batch id, writes the batch plan to
``<root>/plans/batch_id=<k>`` and appends only batch-sized state
partitions (shared code: streaming.incremental.process_append_batch).
Daily-ingest loop:

    run_dedupe.py lake.parquet /state
    run_dedupe.py lake.parquet /state --append day1.parquet
    run_dedupe.py lake.parquet /state --append day2.parquet

``table:`` targets and ``--collapse-versions`` runs cannot host an
append chain (contents/plans are path-partitioned; appends reject
collapse): their full runs write plain stage checkpoints, and
``--append`` with either is refused. A root holding state of the old
whole-copy snapshot layout (``s<9 digits>`` dirs) is refused too.
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession

from deduplidog_spark.config import DedupConfig
from deduplidog_spark.metrics import lineage_report, lineage_report_table
from deduplidog_spark.pipeline import dedupe
from deduplidog_spark.sources.readers import read_corpus
from deduplidog_spark.streaming.incremental import (
    bootstrap_append_state,
    next_delta_batch_id,
    process_append_batch,
)

USAGE = (
    "usage: run_dedupe.py <corpus_location> <checkpoint_target> "
    "[mode] [tau] [--append <batch_location>] "
    "[--collapse-versions [--version-order-col <col>]]"
)


def _take_flag(argv: list[str], flag: str) -> str | None:
    if flag not in argv:
        return None
    i = argv.index(flag)
    if i + 1 >= len(argv):
        sys.exit(f"usage: {flag} <value>")
    val = argv[i + 1]
    del argv[i : i + 2]
    return val


def main() -> None:
    argv = list(sys.argv[1:])
    batch_loc = _take_flag(argv, "--append")
    version_order = _take_flag(argv, "--version-order-col")
    collapse = "--collapse-versions" in argv
    if collapse:
        argv.remove("--collapse-versions")
    unknown = [a for a in argv if a.startswith("--")]
    if unknown:
        # a stale option (e.g. the removed --state-out) must not be
        # read as a positional argument
        sys.exit(f"unknown option {unknown[0]}\n{USAGE}")
    if version_order and not collapse:
        sys.exit(
            "--version-order-col only orders the --collapse-versions "
            "election; without that flag no collapse runs — pass both "
            "or neither"
        )
    if len(argv) < 2:
        sys.exit(USAGE)
    corpus_loc = argv[0]
    ckpt = argv[1]
    mode = argv[2] if len(argv) > 2 else "minhash"
    tau = float(argv[3]) if len(argv) > 3 else 0.7
    if batch_loc is not None and ckpt.startswith("table:"):
        sys.exit(
            "--append takes a plain path as the state root: the append "
            "chain's contents and plans are path-partitioned, so a "
            "table: target cannot host one"
        )
    if batch_loc is not None and collapse:
        sys.exit(
            "--collapse-versions is a full-run pre-stage and cannot be "
            "combined with --append (a batch may supersede base "
            "versions); collapse upstream and append the collapsed batch"
        )

    spark = SparkSession.builder.appName("deduplidog-spark").getOrCreate()
    common = dict(
        mode=mode,
        shingle_k=9,
        jaccard_threshold=tau,
        collapse_versions=collapse,
        version_order_col=version_order,
    )
    if ckpt.startswith("table:"):
        parts = ckpt.split(":")
        prefix = parts[1]
        fmt = parts[2] if len(parts) > 2 else "parquet"
        cfg = DedupConfig(
            checkpoint_table_prefix=prefix, checkpoint_format=fmt, **common
        )
    else:
        cfg = DedupConfig(checkpoint_dir=ckpt, **common)

    if batch_loc is not None:
        k = next_delta_batch_id(spark, cfg, ckpt)
        res = process_append_batch(
            read_corpus(spark, batch_loc), cfg, ckpt, k,
            # same cadence as streaming_append_dedupe's default: the
            # CLI chain must not grow unboundedly either (bounded to
            # committed batches inside compact_state_delta)
            compact_every=16,
        )
        if res is None:
            print("empty batch — nothing to do")
            return
        res.metrics.show(truncate=False)
        print(
            f"batch {k}: plan at {ckpt.rstrip('/')}/plans/batch_id={k}; "
            "batch-sized state delta appended — re-run with the next "
            "--append against the SAME root to chain"
        )
        return
    if not (ckpt.startswith("table:") or collapse):
        bootstrap_append_state(read_corpus(spark, corpus_loc), cfg, ckpt)
        print(
            f"append chain bootstrapped at {ckpt} "
            f"(fingerprint {cfg.fingerprint()}); chain ingest batches with "
            "--append <batch> against the same root"
        )
        return

    corpus = read_corpus(spark, corpus_loc)
    if collapse and not version_order:
        # the default election orders by the commit STRING — fine for
        # counters/timestamps, wrong-but-plausible for git SHAs (the
        # lexicographically-largest hash wins). Cheap sampled check;
        # warn loudly rather than guess an order.
        from deduplidog_spark.operators.versions import commits_look_unsortable

        if commits_look_unsortable(corpus):
            print(
                "WARNING: --collapse-versions without --version-order-col, "
                "and the commit values look like git SHAs (uniform-width "
                "hex) — lexicographic order over hashes does NOT mean "
                "recency; pass --version-order-col <timestamp/ordinal col> "
                "or the election will keep an arbitrary version per path",
                file=sys.stderr,
            )

    res = dedupe(corpus, cfg)
    res.metrics.show(truncate=False)
    if cfg.checkpoint_table_prefix:
        lineage_report_table(spark, cfg.checkpoint_table_prefix).show(truncate=False)
        print(f"plan in table {cfg.checkpoint_table_prefix}_plan_{cfg.fingerprint()}")
    else:
        lineage_report(spark, f"{ckpt.rstrip('/')}/{cfg.fingerprint()}").show(truncate=False)
        print(f"plan written to {ckpt}/{cfg.fingerprint()}/plan")


if __name__ == "__main__":
    main()
