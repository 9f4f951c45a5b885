#!/usr/bin/env python
"""Shuffle-bytes audit: bytes actually moved per registry entry, from
the JVM AppStatusStore.

The scan-audit snapshot (tools/scan_audit.py) pins PLAN shape —
FileScan / InMemoryTableScan / ReusedExchange counts. This tool pins
the runtime complement: per registry entry, the shuffle WRITE and READ
bytes the executed job really moved at a fixed SF. That turns the
operator docstrings' "zero-shuffle" / "triples-only shuffle" /
"one broadcast, no corpus shuffle" claims from design assertions into
recorded numbers, and gives future rounds a byte-level diff when a
plan change silently starts shuffling the corpus (wall-clock at sf0.1
can hide a 2x byte regression inside host noise; bytes cannot).

Mechanics: planinfo.stage_marker / shuffle_since read the
AppStatusStore stage list before and after each entry's noop-forced
execution; the stages created in between carry the entry's traffic.
Deltas are exact in this single-session tool (queries run serially,
nothing else submits jobs). Shuffle bytes are
compression- and partitioning-dependent, so the committed snapshot is
an OBSERVABLE with a generous regression band, not a byte-exact pin —
tests/test_shuffle_audit.py gates only the structural claims (the
zero-shuffle set stays zero) and a 2x growth band on the flagships.

Usage: python tools/shuffle_audit.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from exporter_spark.operators.partitioning import cache_scope  # noqa: E402
from exporter_spark.planinfo import shuffle_since, stage_marker  # noqa: E402
from exporter_spark.queries import QUERIES  # noqa: E402
from exporter_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    wanted = sys.argv[2:]
    spark = get_spark("exporter_spark-shuffle-audit")
    out: dict[str, dict] = {}
    for name, q in QUERIES.items():
        if wanted and not any(w in name for w in wanted):
            continue
        try:
            # cache_scope isolates each query's materialize() caches:
            # without it a later query rides an earlier query's
            # persisted frames and its recorded bytes stop being the
            # standalone number (seen on minhash_dedup_survivors,
            # which inherited the pairs entry's tagged-frame cache)
            with cache_scope():
                # marker BEFORE q.fn: operators with eager internal
                # jobs (connected_components materializes its edge set
                # at plan-construction time) do real shuffle work
                # inside the builder, not the noop write. Marker-based
                # so stage-store eviction over a 98-entry run cannot
                # shrink a later entry's reading (planinfo.stage_marker).
                marker = stage_marker(spark)
                df = q.fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                dw, dr = shuffle_since(spark, marker)
            out[name] = {"write": dw, "read": dr}
            print(f"{name}: write={dw} read={dr}", file=sys.stderr)
        except Exception as e:  # noqa: BLE001 — audit every query regardless
            out[name] = {"err": f"{type(e).__name__}: {str(e)[:120]}"}
            print(f"{name}: ERR {out[name]['err']}", file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir, "shuffle_bytes": out}))


if __name__ == "__main__":
    main()
