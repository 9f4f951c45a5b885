"""Shared timing primitives for bench.py and the tools/ probes.

The BASELINE.md drift-adjudication protocol depends on every canary
reading being comparable with every BENCH record ever taken — the
workloads therefore live HERE, in one place, imported by bench.py,
tools/canary_probe.py and tools/time_entries.py. Changing either
canary invalidates the recorded band: bump the note in BASELINE.md if
you do. Status-store readers (shuffle, spill) live in planinfo.
"""

from __future__ import annotations

import shutil
import tempfile
import time

from pyspark.sql import functions as F


def timed(fn, n: int = 3) -> float:
    """min-of-n wall seconds — the repo's standard on this shared host
    (single runs have shown 2-10x outliers; BASELINE.md)."""
    best = None
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def cpu_canary(spark, n: int = 3) -> float:
    """Fixed pure-CPU JVM aggregate (round 7): cost depends only on
    the machine, never on engine code. Fixed 32 partitions so the
    work is identical regardless of $SPARK_GRAFT_CPUS."""
    return timed(
        lambda: spark.range(0, 400_000_000, 1, 32)
        .select(F.sum(F.col("id") % 7))
        .collect(),
        n,
    )


def io_canary(spark, n: int = 3) -> float:
    """Fixed ~100 MB parquet write+read through the same temp
    filesystem the export entries use (round 8): the disk-path
    denominator the CPU canary cannot see."""

    def _probe():
        d = tempfile.mkdtemp(prefix="exporter_spark_iocanary_")
        try:
            p = f"{d}/t"
            spark.range(0, 12_500_000, 1, 32).withColumn(
                "pad", F.col("id") % 997
            ).write.mode("overwrite").parquet(p)
            spark.read.parquet(p).select(F.sum("pad")).collect()
        finally:
            shutil.rmtree(d, ignore_errors=True)

    return timed(_probe, n)
