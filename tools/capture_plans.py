#!/usr/bin/env python
"""Capture .explain("formatted") for every bench-measured query into
plans/<tag>/<name>.txt (e.g. tag = r19_before / r19_after). Plans are the initial
AdaptiveSparkPlan (pre-execution) — the same artifact every prior
round's plan audits committed. Usage:

    python tools/capture_plans.py <tag> [sf_dir] [name ...]

With no names, captures all of bench.BENCH_QUERIES. The export entries are writer-side (no single DataFrame
plan) and are skipped here; their shape is documented from the
formatter code + scan audit instead.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from exporter_spark.operators.partitioning import cache_scope  # noqa: E402
from exporter_spark.queries import QUERIES  # noqa: E402
from exporter_spark.session import get_spark  # noqa: E402


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sys.argv[3:]
    if not names:
        import bench

        names = list(bench.BENCH_QUERIES)
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        tag,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("exporter_spark-plan-capture")
    for name in names:
        with cache_scope():
            df = QUERIES[name].fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"[plans] {name} -> {path} ({len(buf.getvalue())} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
