#!/usr/bin/env python
"""Plan-shape audit over the query corpus: file scans, cache reads,
exchange reuse.

Spark shares no scans between plan branches, so a stats-then-join-back
pipeline silently multiplies corpus reads (round 4 found the bigram LM
at 5 scans, dup_rate_by_source at 21). This tool executes each query
at a small SF and reports counts from the query's PRE-execution
adaptive plan (the noop write runs its own QueryExecution, so
executedPlan() on the DataFrame still shows isFinalPlan=false —
ADVICE r08): FileScan counts are planning-time plan shape, stable
across SFs, unlike AQE's runtime stage replacements.
tests/test_scan_audit_regression.py compares against the snapshots
this writes using the identical parse, so the gate is consistent:

  FileScan            file scans that EXECUTE, counted by the JVM
                      plan-tree walk ``planinfo.executed_scans``:
                      subquery plans included, cache definitions
                      excluded (a cached subtree executes once at
                      cache build; InMemoryRelation only reprints it
                      under every consumer). RawFileScan keeps the raw
                      text count for diffs against older snapshots —
                      r07-r09 snapshots used it as their FileScan.
  InMemoryTableScan   branches served from a materialize()d frame
  ReusedExchange      runtime exchange dedup

Usage: python tools/scan_audit.py [sf_dir] [name_substring ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from exporter_spark.operators.partitioning import cache_scope  # noqa: E402
from exporter_spark.planinfo import executed_scans  # noqa: E402
from exporter_spark.queries import QUERIES  # noqa: E402
from exporter_spark.session import get_spark  # noqa: E402

def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    wanted = sys.argv[2:]
    spark = get_spark("exporter_spark-scan-audit")
    for name, q in QUERIES.items():
        if wanted and not any(w in name for w in wanted):
            continue
        try:
            # cache_scope isolates each query's materialize() caches
            # (round 10): without it, caches linger across the
            # registry loop and later queries' plans pick up another
            # query's InMemoryRelations — session-order-dependent
            # counts the regression test (fresh per-query scopes)
            # would never reproduce.  blocking=True (round 17): the
            # default async unpersist races the NEXT entry's
            # planning — a prior entry's CacheManager registration
            # still matching during plan substitution flipped
            # pretraining_mix_stats' parsed count 6 -> 24 in two
            # full-session runs, while the identical loop read 6 in
            # every isolated and prefix repro.  Synchronous release
            # makes the audit deterministic; the few extra seconds
            # per session are irrelevant here.
            with cache_scope(blocking=True):
                df = q.fn(spark, sf_dir)
                # The noop write is retained purely as an
                # executability check (a plan that cannot run should
                # show up as ERR, not as a clean count row); it does
                # NOT change the plan read below, which is the
                # PRE-execution adaptive plan — the regression test
                # reads the same pre-execution plan and deliberately
                # skips the execution (ADVICE r09).
                df.write.format("noop").mode("overwrite").save()
                jplan = df._jdf.queryExecution().executedPlan()
                plan = jplan.toString()
                # FileScan from the tree walk; RawFileScan/InMem/
                # Reused stay text counts for cross-round diffability.
                n_exec = executed_scans(jplan)
            print(
                f"{name}: FileScan={n_exec} "
                f"RawFileScan={plan.count('FileScan')} "
                f"InMem={plan.count('InMemoryTableScan')} "
                f"Reused={plan.count('ReusedExchange')}"
            )
        except Exception as e:  # noqa: BLE001 — audit every query regardless
            print(f"{name}: ERR {type(e).__name__}: {str(e)[:120]}")


if __name__ == "__main__":
    main()
