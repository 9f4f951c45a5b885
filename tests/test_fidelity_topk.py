"""An ordered, limited ``write_string`` is one top-K Spark job.

Every text format's record expression references each display column
once, so CollapseProject folds ``spec.compile``'s display projection
into the record and ``Limit(Project(Sort))`` plans as
``TakeOrderedAndProject``: one job that projects only the K surviving
rows. A record that references a column twice keeps the two Projects
apart, and the stream becomes a range-partitioned global sort under
``CollectLimit`` (a sampling job plus shuffle stages, 2–3 jobs here).
The Go float renderer is a JVM UDF, so float_go records fold the same
way; a Python UDF would be extracted below the limit and block it.
"""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from exporter_spark import Exporter, ExportSpec

ROWS, LIMIT = 200, 50

CASES = {
    "csv": ("csv", lambda s: s),
    "csv_crlf": ("csv", lambda s: s.with_crlf()),
    "csv_delimiter": ("csv", lambda s: s.with_delimiter(";")),
    "csv_null": ("csv", lambda s: s.with_null("NULL")),
    "csv_header_off": ("csv", lambda s: s.with_header(False)),
    "csv_float_go": ("csv", lambda s: s.with_float_go()),
    "xml": ("xml", lambda s: s),
    "xml_null": ("xml", lambda s: s.with_null("NULL")),
    "xml_declaration_off": ("xml", lambda s: dataclasses.replace(s, declaration=False)),
    "xml_float_go": ("xml", lambda s: s.with_float_go()),
    "html": ("html", lambda s: s),
    "html_null": ("html", lambda s: s.with_null("NULL")),
    "html_float_go": ("html", lambda s: s.with_float_go()),
    "json": ("json", lambda s: s),
    "ndjson": ("json", lambda s: s.with_newline_delimited()),
}


@pytest.fixture(scope="module")
def table(spark):
    """Three partitions, a long sort key out of row order, string cells
    that quote and escape, NULLs, and a double."""
    ids = spark.range(0, ROWS, numPartitions=3)
    return ids.select(
        ((F.col("id") * 7919) % ROWS).alias("key"),
        F.when(F.col("id") % 3 == 0, None)
        .otherwise(F.concat(F.lit(' a,"b;<c>&'), F.col("id").cast("string")))
        .alias("text"),
        (F.col("id") * 0.5).alias("value"),
    )


def _ordered(n_rows: int) -> ExportSpec:
    spec = ExportSpec().with_order_by("key").with_limit(LIMIT)
    return spec if n_rows else spec.with_filter(F.col("key") < 0)


@pytest.mark.parametrize("n_rows", [0, LIMIT])
@pytest.mark.parametrize("case", sorted(CASES))
def test_ordered_limited_write_string_is_one_topk_job(table, count_jobs, case, n_rows):
    fmt, variant = CASES[case]
    exporter = Exporter(table, fmt, variant(_ordered(n_rows)))
    jobs, _ = count_jobs(exporter.write_string)
    assert jobs == 1, f"{case}: {jobs} Spark jobs"
    rows = exporter.formatter.stream_rows(table)[0]
    plan = rows._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "TakeOrderedAndProject" in plan and "CollectLimit" not in plan, plan


def test_unordered_limit_csv_and_xml_run_no_more_jobs_than_html(table, count_jobs):
    spec = ExportSpec().with_limit(LIMIT)
    jobs = {f: count_jobs(Exporter(table, f, spec).write_string)[0] for f in ("csv", "xml", "html")}
    assert jobs["csv"] <= jobs["html"] and jobs["xml"] <= jobs["html"], jobs
