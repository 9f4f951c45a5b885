"""Contracts around the unordered-input spread in the export writers
(r18, VERDICT r17 #6 + ADVICE r17).

Three things are pinned here:

1. EVERY ExportSpec field is classified as order-bearing or
   order-free, and every order-bearing field is named in
   ``BaseFormatter._spread_unordered``'s guard — a future spec field
   that implies a global row order (e.g. a row-id column) fails this
   test until the guard learns about it, instead of silently letting
   the round-robin spread permute ordered output.
2. The spread applies ONLY to scan-level plans: an exchange-bearing
   input (join/aggregate/sort/window/repartition/limit/offset/distinct,
   subqueries included) is
   already multi-partition at scale, and spread()'s partition probe
   would eagerly execute the upstream shuffle stages once per export
   on top of the write itself (ADVICE r17 medium #1).
3. The single-document paths keep their row-order contracts:
   ``XMLFormatter.write_single_part`` reconstructs the input's order
   (``_spread=False`` — ADVICE r17 medium #2), while
   ``JSONFormatter.write_array_file`` without an ``order_by`` is
   explicitly order-UNSPECIFIED (same multiset, some permutation) and
   byte-exact framing either way.
"""

from __future__ import annotations

import dataclasses
import inspect
import json
import os

from pyspark.sql import functions as F

from exporter_spark.formatters.base import BaseFormatter
from exporter_spark.formatters.json import JSONFormatter
from exporter_spark.formatters.xml import XMLFormatter
from exporter_spark.plans.spec import ExportSpec

# Fields whose semantics are coupled to a single global row order (or
# count): the unordered-input spread must NOT apply when any is set.
ORDER_BEARING = {"order_by", "limit", "preprocessor"}

# Fields that configure rendering only — row placement is free.
ORDER_FREE = {
    "header",
    "header_when_no_data",
    "custom_header",
    "delimiter",
    "crlf",
    "null_value",
    "filter",
    "formatters",
    "type_formatters",
    "float_mode",
    "newline_delimited",
    "sort_keys",
    "duplicate_columns",
    "root_tag",
    "row_tag",
    "declaration",
}


def test_every_spec_field_is_order_classified():
    names = {f.name for f in dataclasses.fields(ExportSpec)}
    unclassified = names - ORDER_BEARING - ORDER_FREE
    assert not unclassified, (
        f"new ExportSpec field(s) {sorted(unclassified)} not classified:"
        " decide whether each implies a global row order; if it does,"
        " add it to BaseFormatter._spread_unordered's guard AND to"
        " ORDER_BEARING here, else to ORDER_FREE"
    )
    ghosts = (ORDER_BEARING | ORDER_FREE) - names
    assert not ghosts, f"classified fields no longer on ExportSpec: {sorted(ghosts)}"


def test_guard_names_every_order_bearing_field():
    src = inspect.getsource(BaseFormatter._spread_unordered)
    missing = [f for f in ORDER_BEARING if f"spec.{f}" not in src]
    assert not missing, (
        f"order-bearing spec fields {missing} are not checked by"
        " _spread_unordered's guard"
    )


def test_spread_skipped_on_non_scan_plans(spark, sf_dir):
    from exporter_spark.sources.files import load_table

    fmt = BaseFormatter(ExportSpec())
    # a one-row-group parquet file: the unsplittable single-partition
    # scan the spread exists for — it must apply (plan changes)
    table = load_table(spark, sf_dir, "documents")
    assert fmt._spread_unordered(table) is not table
    # projections/filters keep a plan scan-level
    assert fmt._spread_unordered(table.select("doc_id").filter("doc_id > 0")) is not table
    scan = spark.createDataFrame(
        [(i, f"v{i}") for i in range(8)], "id int, v string"
    ).coalesce(1)
    # an EXPLICIT caller coalesce reads as a Repartition node: the
    # caller chose that layout — respected, not overridden
    assert fmt._spread_unordered(scan) is scan
    # exchange-bearing / order-bearing plans: returned untouched (same
    # object — the probe never runs, nothing upstream executes)
    for shaped in (
        scan.groupBy("v").count(),
        scan.join(scan.withColumnRenamed("v", "w"), "id"),
        scan.orderBy("id"),
        scan.limit(3),
        scan.repartition(2, "id"),
        scan.dropDuplicates(["v"]),
        scan.select(F.row_number().over(__import__("pyspark").sql.Window.orderBy("id")).alias("r")),
        # on the bare parquet scan (no coalesce node to hide behind):
        # SQL DISTINCT plans a Distinct node, not Deduplicate
        spark.sql("SELECT DISTINCT lang FROM {t}", t=table),
        table.offset(3),
        spark.sql("SELECT /*+ REBALANCE */ * FROM {t}", t=table),
        # the Aggregate sits in a scalar subquery, off the children
        table.filter(F.col("doc_id") > table.select(F.max("doc_id")).scalar()),
    ):
        assert fmt._spread_unordered(shaped) is shaped, (
            f"spread applied to non-scan plan: {shaped._jdf.queryExecution().analyzed().toString()[:200]}"
        )
    # explicit opt-out (the write_single_part path) is honored even on
    # scan-level input
    assert fmt._spread_unordered(scan, False) is scan


def test_spread_skipped_when_spec_is_order_bearing(spark):
    scan = spark.createDataFrame([(1, "a")], "id int, v string")
    for spec in (
        ExportSpec().with_order_by("id"),
        ExportSpec().with_limit(1),
        ExportSpec().with_preprocessor(lambda rid, row: row),
    ):
        fmt = BaseFormatter(spec)
        assert fmt._spread_unordered(scan) is scan


def test_xml_single_part_preserves_source_order_unordered(tmp_path, spark):
    # 40 rows, ids deliberately NOT sorted, NO order_by on the spec:
    # pre-r17 behavior (one part = source order) is the pinned contract
    rows = [(i * 7919 % 40, f"t{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "id int, v string").coalesce(1)
    out = str(tmp_path / "doc.xml")
    XMLFormatter(ExportSpec()).write_single_part(df, out)
    with open(out, encoding="utf-8") as fh:
        body = fh.read()
    got = [
        int(line.split("<id>")[1].split("</id>")[0])
        for line in body.splitlines()
        if "<id>" in line
    ]
    assert got == [r[0] for r in rows]


def test_json_array_unordered_is_a_valid_permutation(tmp_path, spark):
    rows = [(i, f"t{i}") for i in range(64)]
    df = spark.createDataFrame(rows, "id int, v string").coalesce(1)
    out = str(tmp_path / "arr.json")
    JSONFormatter(ExportSpec()).write_array_file(df, out)
    with open(out, encoding="utf-8") as fh:
        doc = json.load(fh)  # framing must stay valid JSON
    assert sorted((d["id"], d["v"]) for d in doc) == rows
    assert not os.path.exists(out + "._spark_parts")


def test_json_array_ordered_is_byte_stable_source_order(tmp_path, spark):
    # with an order_by the spread is a no-op and the document's row
    # order is the spec's order — the documented fidelity-parity case
    rows = [(i * 31 % 16, f"t{i}") for i in range(16)]
    df = spark.createDataFrame(rows, "id int, v string")
    spec = ExportSpec().with_order_by("id", "v")
    out = str(tmp_path / "arr_ordered.json")
    JSONFormatter(spec).write_array_file(df, out)
    with open(out, encoding="utf-8") as fh:
        doc = json.load(fh)
    assert [(d["id"], d["v"]) for d in doc] == sorted(rows)
