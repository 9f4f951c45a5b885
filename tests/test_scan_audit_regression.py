"""Plan-shape regression guard over sentinel queries.

Round 7 committed a full 98-plan scan audit
(tools/audits/r07_scan_audit_sf0.001.txt) but nothing diffed against
it — a plan-shape drift (e.g. a guard reintroducing the Catalyst
filter-pushdown double-eval that cost +35% in round 4, see
test_plan_single_eval.py and BASELINE.md r04) would surface only as a
bench wobble, which the round-7 host-drift protocol taught us never to
read as a code signal by itself.  This test re-runs the audit on a
handful of sentinel queries (the heaviest pipelines plus the two
documented multi-scan watch items from VERDICT r07) and asserts each
plan's FileScan count does not EXCEED the committed snapshot — fewer
scans is an improvement, more is the regression this exists to catch.

InMemoryTableScan / ReusedExchange counts are reported but not gated:
they vary with AQE's runtime broadcast-threshold decisions at tiny SFs,
whereas an EXECUTED-FileScan-count increase always means a real extra
pass over the corpus. "Executed" (round 10): FileScan nodes outside
any InMemoryRelation subtree — a cached plan prints its child subtree
under every consumer, so the raw text count rises exactly when a
materialize() REMOVES corpus passes (the r10 tagged-frame persist
doubled the raw count while cutting wall time 32%). Both sides of
the gate count with the JVM plan-tree walk ``planinfo.executed_scans``
(tools/scan_audit.py writes the snapshot with it): cache definitions
are never entered, subquery plans are. The snapshot's header records
its re-baselines.
"""

from __future__ import annotations

import pathlib
import re

import pytest

from exporter_spark.planinfo import executed_scans
from exporter_spark.queries import QUERIES

_AUDIT = (
    pathlib.Path(__file__).parent.parent
    / "tools"
    / "audits"
    / "r18_scan_audit_sf0.001.txt"
)

# The sentinels: the minhash pair pipeline (double-eval trap lives
# here), the deepest materialize() composition, the funnel (single-scan
# base was a round-5 fix), the two multi-scan watch items from
# VERDICT r07, and the bigram LM (round-4's 5-scan finding).
SENTINELS = (
    "minhash_near_dup_pairs",
    "pretraining_mix_stats",
    "conversion_funnel",
    "dup_rate_by_source",
    "bigram_lm_scores",
    # round 11: the incremental pair — the newest multi-materialize
    # composition (delta cache + matched-set cache + map-side store
    # probe); a FileScan-count rise here means a branch stopped
    # riding its cache
    "incremental_exact_survivors",
    "incremental_minhash_survivors",
)


def _recorded_counts() -> dict[str, dict[str, int]]:
    # snapshot format: FileScan is the EXECUTED count
    # (planinfo.executed_scans), RawFileScan the old text count kept
    # for cross-round diffs against the r07-r09 snapshots
    out: dict[str, dict[str, int]] = {}
    pat = re.compile(
        r"^(\w+): FileScan=(\d+) RawFileScan=(\d+)"
        r" InMem=(\d+) Reused=(\d+)\s*$"
    )
    for line in _AUDIT.read_text().splitlines():
        m = pat.match(line)
        if m:
            out[m.group(1)] = {
                "FileScan": int(m.group(2)),
                "RawFileScan": int(m.group(3)),
                "InMem": int(m.group(4)),
                "Reused": int(m.group(5)),
            }
    return out


def test_snapshot_covers_the_sentinels():
    recorded = _recorded_counts()
    missing = [s for s in SENTINELS if s not in recorded]
    assert not missing, f"sentinels absent from the committed audit: {missing}"


@pytest.mark.parametrize("name", SENTINELS)
def test_sentinel_plan_shape_within_snapshot(spark, sf_dir, name):
    recorded = _recorded_counts()[name]
    df = QUERIES[name].fn(spark, sf_dir)
    # NOTE (ADVICE r08/r09): executedPlan() below is this DataFrame's
    # PRE-execution adaptive plan (isFinalPlan=false) — FileScan
    # counts are planning-time, before AQE stage replacement.  That
    # is exactly how tools/scan_audit.py generated the committed
    # snapshot, so the comparison is apples-to-apples; switching both
    # sides to a final plan (collect() through the same DataFrame)
    # would invalidate every committed snapshot and gate on AQE's
    # SF-dependent runtime choices instead of the plan shape.  The
    # tool's noop write is NOT mirrored here: executing the sentinel
    # contributes nothing to the pre-execution plan being compared,
    # and run-to-completion coverage of every registry query already
    # lives in test_queries_oracle.py — repeating it per sentinel
    # only added wall time (ADVICE r09).
    jplan = df._jdf.queryExecution().executedPlan()  # noqa: SLF001
    plan = jplan.toString()
    got = {
        "FileScan": executed_scans(jplan),
        "InMem": plan.count("InMemoryTableScan"),
        "Reused": plan.count("ReusedExchange"),
    }
    assert got["FileScan"] <= recorded["FileScan"], (
        f"{name}: FileScan count grew {recorded['FileScan']} -> "
        f"{got['FileScan']} (InMem {recorded['InMem']}->{got['InMem']}, "
        f"Reused {recorded['Reused']}->{got['Reused']}) — an extra pass "
        "over the corpus; see tools/audits/ and BASELINE.md r04 for the "
        "last such regression"
    )


def test_tree_walk_counts_scans_structurally(spark, sf_dir):
    """Pin executed_scans' semantics on constructed plans:

    * an uncached aggregate over one parquet table = 1 executed scan;
    * a self-join of the scan = 2 (each side really reads the file);
    * a join against a CACHED aggregate = 1, and — the case that broke
      the r10 string parser — it STAYS 1 after the cached subtree has
      executed, when its InMemoryRelation printout grows nested
      'AdaptiveSparkPlan isFinalPlan=true' sections whose dedented
      '== Final/Initial Plan ==' blocks defeat indentation-based
      skipping. The tree walk never enters cache definitions
      (InMemoryTableScanExec is a leaf), so execution state of the
      cache cannot change its count;
    * a filter on a scalar subquery over a second parquet read = 2: the
      subquery's scan hangs off the filter's expression, not its
      children, and executes like any other.
    """
    from pyspark.sql import functions as F

    def n_scans(df):
        return executed_scans(
            df._jdf.queryExecution().executedPlan()  # noqa: SLF001
        )

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert n_scans(base.groupBy("lang").count()) == 1
    a, b = base.alias("a"), base.alias("b")
    assert (
        n_scans(a.join(b, F.col("a.doc_id") == F.col("b.doc_id"))) == 2
    )
    other = spark.read.parquet(f"{sf_dir}/orders.parquet")
    top = other.select(F.max("o_custkey")).scalar()
    assert n_scans(base.filter(F.col("doc_id") < top)) == 2

    cached = base.groupBy("lang").count().persist()
    try:
        joined = base.join(cached, "lang")
        assert n_scans(joined) == 1  # cache not yet executed
        cached.count()  # materialize -> nested final-AQE printout
        # rebuild the consumer so the plan picks up the executed cache
        joined2 = base.join(cached, "lang")
        assert n_scans(joined2) == 1
    finally:
        cached.unpersist(blocking=True)


class _Seq(list):
    """Stand-in for a py4j-wrapped Scala Seq."""

    def size(self):
        return len(self)

    def apply(self, i):
        return self[i]


class _Node:
    """Stand-in for a JVM plan node: class name, children, no subqueries."""

    def __init__(self, name, *children):
        self.name, self.kids = name, children

    def getClass(self):
        return self

    def getSimpleName(self):
        return self.name

    def children(self):
        return _Seq(self.kids)

    def subqueries(self):
        return _Seq()

    def plan(self):
        from py4j.protocol import Py4JError

        raise Py4JError("no plan()")


def test_walk_fails_loudly_instead_of_undercounting():
    scans = _Node(
        "UnionExec",
        _Node("FileSourceScanExec"),
        _Node("RowDataSourceScanExec"),
        _Node("HiveTableScanExec"),
        _Node("LocalTableScanExec"),
        _Node("InMemoryTableScanExec"),
    )
    assert executed_scans(scans) == 3
    with pytest.raises(RuntimeError, match="MicroBatchScanExec"):
        executed_scans(_Node("ProjectExec", _Node("MicroBatchScanExec")))
    with pytest.raises(RuntimeError, match="ShuffleQueryStageExec"):
        executed_scans(_Node("ShuffleQueryStageExec"))
