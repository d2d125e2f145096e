"""Measurement-only harness (guide §1): noop-sink isolation of
individual queries and their formatted plans. Per-stage cost of the
dedup pipeline comes from ``perfbench/layers.py`` (``perfbench/run.py
--trace 1``), which runs the library stages themselves.

This file is NOT part of the driver's frozen measurement; bench.py is.
Numbers from here are cited in OPTIMIZATION_r06.md.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _mk_spark():
    from deduplidog_spark.session import get_spark

    return get_spark(
        f"bench-extra-{CPUS}",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def profile_queries(names):
    import __spark_entry__ as E

    spark = _mk_spark()
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    spark.range(10000).select(F.sha2(F.col("id").cast("string"), 256)).count()
    qs = E.queries()
    for name in names:
        spark.sparkContext.setJobDescription(f"query: {name}")
        t0 = time.time()
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        print(f"  {name:28s} {time.time()-t0:7.2f}s")
    spark.stop()


def explain_query(name, out=None):
    import __spark_entry__ as E

    spark = _mk_spark()
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    df = qs[name](spark, SF_DIR)
    txt = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    if out:
        with open(out, "w") as fh:
            fh.write(txt)
        print(f"wrote {out}")
    else:
        print(txt)
    spark.stop()


USAGE = (
    "usage: python bench_extra.py queries q1 [q2 ...]  # noop-time named entry queries\n"
    "       python bench_extra.py explain q1 [out]     # formatted plan of a query"
)

if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else None
    if cmd == "queries":
        profile_queries(sys.argv[2:])
    elif cmd == "explain" and len(sys.argv) > 2:
        explain_query(sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else None)
    else:
        raise SystemExit(USAGE)
