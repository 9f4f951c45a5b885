"""An ordered, limited ``write_string`` costs a bounded number of py4j
commands and runs its top-K as one Spark stage.

Every projection the engine builds (display strings, each format's
record) is SQL text applied with one ``selectExpr``, so building an
export costs a few commands plus about one per column (the list of
projection texts crosses into the JVM one element at a time); a tree of
``F.*`` calls costs several commands per call. With a limit the stream
collects its rows: a ``TakeOrderedAndProject`` collects in one stage,
where the RDD iterator adds a single-partition shuffle.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from exporter_spark import Exporter, ExportSpec

BUDGET = 150
PER_EXTRA_COLUMN = 2

CASES = {
    "csv": ("csv", lambda s: s),
    "xml": ("xml", lambda s: s),
    "html": ("html", lambda s: s),
    "json": ("json", lambda s: s),
    "ndjson": ("json", lambda s: s.with_newline_delimited()),
}


def _frame(spark, copies: int):
    """The benchmark table's nine column types, ``copies`` times over."""
    cols = []
    for k in range(copies):
        sfx = f"_{k}" if k else ""
        cols += [
            f"id AS key{sfx}",
            f"CAST(id * 7919 % 1000 AS INT) AS i32{sfx}",
            f"CASE WHEN id % 5 = 0 THEN NULL ELSE id / 8 END AS f64{sfx}",
            f"id % 2 = 0 AS flag{sfx}",
            f"timestamp_micros(id * 1000003) AS ts{sfx}",
            f"date_add(DATE'2020-01-01', CAST(id AS INT)) AS d{sfx}",
            f"concat('n,\"<&', id) AS name{sfx}",
            f"array('a', CAST(id AS STRING)) AS tags{sfx}",
            f"map('k', CAST(id AS INT)) AS attrs{sfx}",
        ]
    return spark.range(0, 400, numPartitions=3).selectExpr(*cols)


def _spec() -> ExportSpec:
    return ExportSpec().with_filter(F.col("key") >= 100).with_order_by("key").with_limit(50)


@pytest.fixture(scope="module")
def frames(spark):
    # one export per case first, so that once-per-session work (the
    # float renderer's registration) stays out of the counts
    for fmt, variant in CASES.values():
        Exporter(_frame(spark, 1), fmt, variant(_spec())).write_string()
    Exporter(_frame(spark, 1), "csv", _spec().with_float_go()).write_string()
    return {1: _frame(spark, 1), 4: _frame(spark, 4)}


def _commands(count_py4j, df, fmt, spec) -> int:
    sent, text = count_py4j(Exporter(df, fmt, spec).write_string)
    assert "149" in text  # the last of the 50 rows
    return sent


@pytest.mark.parametrize("case", sorted(CASES))
def test_write_string_py4j_budget(frames, count_py4j, case):
    fmt, variant = CASES[case]
    nine = _commands(count_py4j, frames[1], fmt, variant(_spec()))
    assert nine <= BUDGET, f"{case}: {nine} py4j commands on 9 columns"
    wide = _commands(count_py4j, frames[4], fmt, variant(_spec()))
    extra = wide - nine
    assert extra <= PER_EXTRA_COLUMN * 27, f"{case}: 9 -> 36 columns added {extra} commands"


def test_float_go_write_string_py4j_budget(frames, count_py4j):
    sent = _commands(count_py4j, frames[1], "csv", _spec().with_float_go())
    assert sent <= BUDGET, f"csv float_go: {sent} py4j commands"


@pytest.mark.parametrize("case", sorted(CASES))
def test_write_string_is_one_job_of_one_stage(frames, count_stages, case):
    fmt, variant = CASES[case]
    jobs, stages, _ = count_stages(Exporter(frames[1], fmt, variant(_spec())).write_string)
    assert (jobs, stages) == (1, 1), f"{case}: {jobs} jobs, {stages} stages"
