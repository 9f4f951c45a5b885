#!/usr/bin/env python
"""Isolated per-entry timing with the bench's exact methodology
(min-of-N repeats, noop sink, cache_scope per entry, warmup action,
cpu/io canaries recorded). For an interleaved A/B, run it
alternately from the two checkouts being compared.

Usage:
    python tools/time_entries.py <name> [name ...]
    SPARK_GRAFT_BENCH_REPEAT=N  repeats (default 3)
    SPARK_GRAFT_SF_DIR          data dir (default /root/testdata/sf0.1)

Prints one line per entry plus the canaries; exit 0.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from exporter_spark.benchlib import cpu_canary, io_canary, timed  # noqa: E402
from exporter_spark.operators.partitioning import cache_scope  # noqa: E402
from exporter_spark.queries import QUERIES  # noqa: E402
from exporter_spark.session import get_spark  # noqa: E402
from exporter_spark.sources.files import load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPEAT = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "3")))


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print("usage: time_entries.py <entry> [entry ...]", file=sys.stderr)
        return 2
    spark = get_spark("exporter_spark-ab")
    spark.range(1_000_000).select(F.sum("id")).collect()
    load_table(spark, SF_DIR, "lineitem").limit(1000).count()
    print(f"cpu_canary {cpu_canary(spark, REPEAT)}")
    print(f"io_canary {io_canary(spark, REPEAT)}")
    for name in names:
        with cache_scope():
            t = timed(lambda: _force(QUERIES[name].fn(spark, SF_DIR)), REPEAT)
        print(f"{name} {t}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
