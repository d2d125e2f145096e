"""Seeded dedup benchmark of the library's public entry points.

    python3 perfbench/run.py --workload near_dup_chains --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The session is ``local[<nproc>]`` with
``shuffle_partitions=<nproc>``; the load is a closed loop with one
client, one job at a time from this single driver process. Inputs are
generated from ``--seed`` (gen.py) and cached under ``perfbench/_work``,
outside every timed span.

Workloads:

- ``near_dup_chains``: ``pipeline.dedupe`` once as warm-up on a seeded
  5% of the chains corpus (the first dedupe of a JVM pays ~8 s of JIT,
  whatever its input size), then timed on the whole corpus, repeated
  until ``--seconds`` have passed;
- ``append_chain``: ``pipeline.dedupe`` of one batch as warm-up, then
  ``streaming.incremental.bootstrap_append_state`` over a bulk-mix base
  (timed: the durable full run), then ``process_append_batch`` on
  consecutive batches, timed until ``--seconds`` have passed.

Every operation, warm-up included, is checked and counted.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
barrier-mode layer pass (layers.py) and prints the per-layer metrics.
The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. An operation fails when it raises or when an
output check on it fails (checks.py).
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, "_work")
CORES = len(os.sched_getaffinity(0))

CFG_KW = dict(mode="minhash", shingle_k=9, jaccard_threshold=0.6, sig_est_threshold=0.45)
SETUPS = 3  # session set-ups per run; setup_s is their median
DRIVER_MEM = "3g"
CHAINS_DOCS = 8_000
APPEND_BASE_DOCS = 6_000
APPEND_BATCH_DOCS = 1_000
APPEND_BATCHES = 4  # generated; the last is the warm-up, the others as many as --seconds allows

END_TO_END_UNITS = {
    "setup_s": "s",
    "files_per_s": "files/s",
    "full_run_s": "s",
    "recall": "ratio",
    "precision": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - PROCESS_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


class Run:
    """One invocation: the session, its inputs, and the tally of
    operations attempted and failed."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        from deduplidog_spark.config import DedupConfig

        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.cfg = DedupConfig(**CFG_KW)
        self.state_root = os.path.join(WORK, "state")
        self.events_dir = os.path.join(WORK, "events")
        self.attempted = self.failed = 0
        self.setup_walls: list[float] = []
        self.spark = None

    def setup(self) -> None:
        """SETUPS session set-ups (one in a traced run, which reports only
        the first): the first from process start (JVM launch included),
        the others a fresh SparkContext in the running JVM. Each includes
        get_spark's Python-worker prewarm."""
        from deduplidog_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
            ),
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.events_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        for i in range(1 if self.trace else SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = PROCESS_START if i == 0 else time.time()
            self.spark = get_spark(
                "perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES, extra_conf=conf
            )
            self.setup_walls.append(time.time() - t0)
            self.spark.sparkContext.setLogLevel("ERROR")
        log(f"setups {[round(s, 2) for s in self.setup_walls]}")

    def peak_rss_mb(self) -> float:
        """VmHWM of the Spark JVM."""
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the JVM exits when its stdin closes
            gw.proc.wait(timeout=60)

    def read(self, *paths: str):
        return self.spark.read.parquet(*paths)

    def dedupe(self, raw):
        """``pipeline.dedupe`` forced to completion through its plan."""
        from deduplidog_spark.pipeline import dedupe

        res = dedupe(raw, self.cfg)
        res.plan.count()
        return res

    def checked_dedupe(self, raw, truth: dict, what: str, more=lambda res: {}):
        """``dedupe(raw)``, its plan checked against the planted truth
        and by ``more(result)``: (result, wall, (recall, precision)),
        result and figures None when it raised."""
        import checks

        res, wall = self.op(self.dedupe, raw)
        log(f"{what} {wall:.2f}s")
        if res is None:
            return None, wall, None
        rows = checks.plan_rows(res.plan)
        labels = dict(r[:2] for r in rows)
        quality = checks.recall_precision(labels, truth, set(labels))
        self.checked({
            "plan invariants": checks.plan_invariants(rows),
            **checks.quality(*quality),
            **more(res),
        })
        return res, wall, quality

    def op(self, fn, *args):
        """(result, wall) of one operation; (None, wall) when it raised,
        which counts it as failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None, time.perf_counter() - t0
        return out, time.perf_counter() - t0

    def repeat(self, op, start: int, stop: int | None = None) -> list[float]:
        """Walls of ``op(start)``, ``op(start + 1)``, ... (below ``stop``)
        until ``--seconds`` have passed, at least one. ``op`` returns its
        wall, or None when it failed."""
        walls, t_end = [], time.perf_counter() + self.seconds
        for i in range(start, stop or sys.maxsize):
            wall = op(i)
            if wall is not None:
                walls.append(wall)
            if time.perf_counter() >= t_end:
                break
        return walls

    def checked(self, checks: dict[str, bool]) -> None:
        """Count the last operation as failed when any check is false."""
        bad = [what for what, ok in checks.items() if not ok]
        if bad:
            log(f"CHECK FAILED: {bad}")
            self.failed += 1

    def chains_inputs(self) -> str:
        import gen

        k, tau = self.cfg.shingle_k, self.cfg.jaccard_threshold
        return gen.chains_inputs(os.path.join(WORK, "data"), self.seed, CHAINS_DOCS, k, tau)

    def append_inputs(self) -> str:
        import gen

        k, tau = self.cfg.shingle_k, self.cfg.jaccard_threshold
        return gen.append_inputs(
            os.path.join(WORK, "data"), self.seed,
            APPEND_BASE_DOCS, APPEND_BATCH_DOCS, APPEND_BATCHES, k, tau,
        )


def near_dup_chains(run: Run) -> dict:
    import gen

    data = run.chains_inputs()
    truth = gen.load_truth(data)
    corpus = run.read(f"{data}/corpus")
    quality = []

    def timed_dedupe(i: int):
        res, wall, q = run.checked_dedupe(
            corpus, truth, f"dedupe {i}",
            # the hot family must overflow the bucket cap; same input
            # every time, so checked on the first timed operation only
            lambda res: {"an LSH bucket dropped": res.dropped_buckets.count() > 0} if i == 1 else {},
        )
        if res is None:
            return None
        quality.append(q)
        return wall

    # warm-up on the seeded 5% subset: the JIT cost of the first dedupe
    # in a JVM hardly depends on the input size
    _, _, q = run.checked_dedupe(run.read(f"{data}/batch"), truth, "warm-up dedupe")
    if q is not None:
        quality.append(q)
    wall = statistics.median(run.repeat(timed_dedupe, 1))
    return {
        "files_per_s": CHAINS_DOCS / wall,
        "full_run_s": wall,
        "recall": min(q[0] for q in quality),
        "precision": min(q[1] for q in quality),
    }


def append_chain(run: Run) -> dict:
    from pyspark.sql import functions as F

    from deduplidog_spark.incremental import load_state_delta
    from deduplidog_spark.streaming.incremental import bootstrap_append_state, process_append_batch

    import checks
    import gen

    data = run.append_inputs()
    truth = gen.load_truth(data)
    root = run.state_root
    shutil.rmtree(root, ignore_errors=True)
    # JIT warm-up of the shared layers (scan, LSH, verify, CC) on the last
    # batch, which the timed chain never reaches
    run.checked_dedupe(run.read(f"{data}/batch{APPEND_BATCHES - 1}"), truth, "warm-up dedupe")
    _, boot_wall = run.op(bootstrap_append_state, run.read(f"{data}/base"), run.cfg, root)
    log(f"bootstrap {boot_wall:.2f}s")
    done = []

    def checked_batch(k: int):
        res, wall = run.op(process_append_batch, run.read(f"{data}/batch{k}"), run.cfg, root, k)
        log(f"batch {k} {wall:.2f}s")
        done.append(k)
        if res is None:
            return None
        diverged = res.dropped_buckets.filter(F.col("base_kept_divergence")).count()
        plan = checks.plan_rows(run.read(f"{root}/plans/batch_id={k}"))
        run.checked({
            f"batch {k} plan invariants": checks.plan_invariants(plan),
            f"batch {k} base_kept_divergence={diverged}": diverged == 0,
        })
        return wall

    walls = run.repeat(checked_batch, 0, APPEND_BATCHES - 1)

    # the chain's labels after its batches, against the truth (the traced
    # run also checks them against a full recompute)
    run.attempted += 1
    labels = dict(load_state_delta(run.spark, run.cfg, root).labels.select("fid", "component").collect())
    processed = run.read(f"{data}/base", *(f"{data}/batch{k}" for k in done))
    present = {r[0] for r in processed.select(F.concat_ws("/", "repo", "path")).collect()}
    rec, prec = checks.recall_precision(labels, truth, present)
    run.checked(checks.quality(rec, prec))
    return {
        "files_per_s": APPEND_BATCH_DOCS / statistics.median(walls),
        "full_run_s": boot_wall,
        "recall": rec,
        "precision": prec,
    }


WORKLOADS = {"near_dup_chains": near_dup_chains, "append_chain": append_chain}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path[:0] = [os.path.dirname(HERE), HERE]
    import layers

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        run.setup()
        if run.trace:
            traced = layers.traced(run)
        else:
            metrics = WORKLOADS[args.workload](run)
            metrics["setup_s"] = statistics.median(run.setup_walls)
    finally:
        run.shutdown()
    if run.trace:
        metrics = layers.finish(run, *traced)
    else:
        metrics = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
