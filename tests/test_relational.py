"""as-of join and range join operator semantics."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from exporter_spark.operators.relational import asof_join, range_join


def _ts(m):
    return dt.datetime(2024, 1, 1, 12, m, 0)


def test_asof_join_backward_inclusive(spark):
    left = spark.createDataFrame(
        [(1, _ts(10)), (2, _ts(20)), (3, _ts(5))], "lid long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(100, _ts(10)), (101, _ts(15))], "rid long, ts timestamp"
    )
    left = left.withColumn("k", F.lit(1))
    right = right.withColumn("k", F.lit(1))
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts", right_cols=["rid"])
    got = {r["lid"]: r["rid_asof"] for r in out.collect()}
    # equal timestamp matches (inclusive); earlier left row has no match
    assert got == {1: 100, 2: 101, 3: None}


def test_asof_join_tie_is_deterministic(spark):
    """Several right rows at the same (key, ts): the winner must not
    depend on partitioning/shuffle order."""
    left = spark.createDataFrame([(1, 1, 10)], "lid long, k long, t long")
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 10, "b"), (1, 10, "c")], "k long, t long, v string"
    )
    got = {
        asof_join(
            left,
            right.repartition(n),
            on="k",
            left_ts="t",
            right_ts="t",
            right_cols=["v"],
        ).collect()[0]["v_asof"]
        for n in (1, 2, 3, 5)
    }
    assert len(got) == 1  # same winner under every partitioning


def test_range_join_rejects_unsupported_how_and_reversed_intervals(spark):
    import pytest

    facts = spark.createDataFrame([(5,)], "v long")
    ivals = spark.createDataFrame([(10, 0), (0, 10)], "lo long, hi long")
    with pytest.raises(ValueError, match="inner"):
        range_join(
            facts, ivals, fact_col="v", lo_col="lo", hi_col="hi", bucket=5, how="right"
        )
    # the reversed interval (10, 0) must contribute nothing — and must
    # not explode a descending bucket sequence
    out = range_join(facts, ivals, fact_col="v", lo_col="lo", hi_col="hi", bucket=5)
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["lo"] == 0


def test_range_join_span_guard_fires_and_disables(spark):
    """The round-9 max_span_buckets guard: an interval whose
    span/bucket exceeds the bound fails loudly IN-PLAN (naming the
    `bucket` lever) instead of exploding span/bucket rows; None
    restores the old unguarded behavior; a span exactly at the bound
    passes."""
    import pytest

    facts = spark.createDataFrame([(5,)], "v long")
    wide = spark.createDataFrame([(0, 1_000_000)], "lo long, hi long")
    with pytest.raises(Exception, match="max_span_buckets"):
        range_join(
            facts, wide, fact_col="v", lo_col="lo", hi_col="hi",
            bucket=5, max_span_buckets=100,
        ).collect()
    # disabled: the same interval joins fine (one fact, one match)
    out = range_join(
        facts, wide, fact_col="v", lo_col="lo", hi_col="hi",
        bucket=5, max_span_buckets=None,
    )
    assert out.count() == 1
    # at the bound: interval covering exactly max_span_buckets buckets
    edge = spark.createDataFrame([(0, 500)], "lo long, hi long")
    out = range_join(
        facts, edge, fact_col="v", lo_col="lo", hi_col="hi",
        bucket=5, max_span_buckets=100,
    )
    assert out.count() == 1


def test_range_join_half_open_and_multi_match(spark):
    facts = spark.createDataFrame([(1, 100), (2, 250), (3, 999)], "fid long, v long")
    ivals = spark.createDataFrame(
        [(10, 100, 200), (11, 50, 300), (12, 200, 250)], "iid long, lo long, hi long"
    )
    out = range_join(facts, ivals, fact_col="v", lo_col="lo", hi_col="hi", bucket=100)
    got = sorted((r["fid"], r["iid"]) for r in out.collect())
    # v=100: in [100,200) and [50,300); NOT in [200,250)
    # v=250: in [50,300) only (hi exclusive kills [200,250))
    # v=999: nowhere
    assert got == [(1, 10), (1, 11), (2, 11)]

