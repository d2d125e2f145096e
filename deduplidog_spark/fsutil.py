"""Scheme-agnostic filesystem helpers via the Hadoop FS API.

Driver-local ``os`` calls only see the driver's disk; these work for
every scheme the cluster mounts (hdfs://, s3a://, file:). Shared by the
pipeline's stage checkpoints (pipeline.py), the delta state layout
(incremental.py) and the streaming append chain
(streaming/incremental.py).
"""

from __future__ import annotations


def _fs(spark, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def fs_list(spark, path: str) -> list[str]:
    """Child names under ``path``; [] when the path does not exist."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    return [s.getPath().getName() for s in fs.listStatus(p)]


def fs_delete(spark, path: str) -> None:
    """Recursive delete; no-op when the path does not exist."""
    fs, p = _fs(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


def fs_touch(spark, path: str) -> None:
    """Create an empty file (parents included). Visible atomically on
    close — used for commit markers whose NAME carries the payload, so
    no content write/read is ever needed."""
    fs, p = _fs(spark, path)
    out = fs.create(p, True)
    out.close()
