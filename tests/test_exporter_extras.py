"""Partitioned writes, single-part writes, simhash UDF/SQL parity."""

from __future__ import annotations

import dataclasses
import glob
import os

import pytest
from pyspark.sql import functions as F

from exporter_spark import Exporter, ExportSpec
from exporter_spark.formatters.html import HTMLFormatter
from exporter_spark.formatters.json import JSONFormatter
from exporter_spark.formatters.xml import XMLFormatter
from exporter_spark.operators import dedup
from exporter_spark.sources.files import load_table


def test_partitioned_csv_write(spark, sf_dir, tmp_path):
    e = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "by_type")
    Exporter(e, "csv", ExportSpec()).write(out, partition_by=["event_type"])
    dirs = {os.path.basename(p) for p in glob.glob(f"{out}/event_type=*")}
    assert {"event_type=click", "event_type=purchase"} <= dirs
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == e.count()
    # partition pruning reaches the file listing: the scan node must
    # carry the partition predicate, not just produce correct rows
    pruned = back.filter(F.col("event_type") == "click")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "click" in plan, plan
    assert pruned.count() > 0


def test_write_single_part(spark, sf_dir, tmp_path):
    e = load_table(spark, sf_dir, "events").limit(50)
    target = str(tmp_path / "events.csv")
    Exporter(e, "csv", ExportSpec()).write_single_part(target)
    assert os.path.isfile(target)
    back = spark.read.option("header", "true").csv(target)
    assert back.count() == 50


def test_ndjson_paths_agree_on_timestamps(spark, sf_dir, tmp_path):
    """Distributed NDJSON and the fidelity stream must serialize
    timestamps identically (RFC3339Nano, trimmed fractional zeros)."""
    e = load_table(spark, sf_dir, "events").limit(10)
    spec = ExportSpec().with_newline_delimited(True).with_order_by("event_id")
    fid = set(Exporter(e, "json", spec).write_string().splitlines())
    out = str(tmp_path / "nd")
    Exporter(e, "json", spec).write(out)
    native = set()
    for p in glob.glob(f"{out}/part-*"):
        if not p.endswith(".crc"):
            native.update(l for l in open(p).read().splitlines() if l)
    assert fid == native


def test_csv_paths_agree_on_quoting(spark, tmp_path):
    """The distributed writer and the fidelity stream must emit
    byte-identical records (regression: Spark's default backslash
    escape diverged from Go quote-doubling)."""
    df = spark.createDataFrame(
        [(1, 'say "hi"'), (2, "a,b"), (3, "plain")], "id long, v string"
    )
    spec = ExportSpec().with_order_by("id")
    fid = Exporter(df, "csv", spec).write_string().splitlines()
    target = str(tmp_path / "one.csv")
    Exporter(df, "csv", spec).write_single_part(target)
    native = open(target).read().splitlines()
    assert fid == native
    assert '"say ""hi"""' in fid[1]


def test_simhash_udf_matches_sql_expr(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    both = docs.select(
        dedup.simhash32("text").alias("sql_fp"),
        dedup._simhash32_fast()(F.col("text")).alias("udf_fp"),
    )
    rows = both.collect()
    assert all(r["sql_fp"] == r["udf_fp"] for r in rows)


def test_xml_stream_parts_concat(spark, sf_dir, tmp_path):
    """Default scale path: concatenated parts + wrapper == the full
    document body (rows come from the same Catalyst expression)."""

    e = load_table(spark, sf_dir, "events").limit(40)
    out = str(tmp_path / "xml_stream")
    fmt = XMLFormatter(ExportSpec())
    fmt.write(e, out)
    lines = []
    for p in sorted(glob.glob(f"{out}/part-*")):
        if not p.endswith(".crc"):
            lines += open(p, encoding="utf-8").read().splitlines()
    assert len(lines) == 40
    assert all(l.startswith("<row>") and l.endswith("</row>") for l in lines)


def test_json_array_file_matches_fidelity(spark, sf_dir, tmp_path):
    """Distributed array assembly (executor NDJSON parts + driver
    splice) must be byte-identical to the driver-streamed fidelity
    array document."""

    e = load_table(spark, sf_dir, "events").limit(120)
    spec = ExportSpec().with_order_by("event_id")
    target = str(tmp_path / "arr.json")
    JSONFormatter(spec).write_array_file(e, target)
    assert open(target, encoding="utf-8").read() == Exporter(
        e, "json", spec
    ).write_string()
    assert not os.path.exists(target + "._spark_parts")  # tmp cleaned

    # empty input => empty file, not "[]" (json.go:94-98)
    empty_target = str(tmp_path / "empty.json")
    JSONFormatter(spec).write_array_file(e.limit(0), empty_target)
    assert open(empty_target).read() == ""


def _single_part(fmt, df, target):
    fmt.write_single_part(df, target)


def _write_and_assemble(fmt, df, target):
    fmt.write(df, target + ".parts")
    fmt.assemble(target + ".parts", target, df.sparkSession)


# case: (formatter class, constructor options, spec fields, writer)
SINGLE_DOCUMENT_CASES = {
    "json_array": (JSONFormatter, {}, {}, lambda f, df, t: f.write_array_file(df, t)),
    "xml": (XMLFormatter, {}, {}, _single_part),
    "xml_no_declaration": (XMLFormatter, {}, {"declaration": False}, _single_part),
    "xml_documents": (XMLFormatter, {"documents": True}, {}, _single_part),
    "html_assemble": (HTMLFormatter, {}, {}, _write_and_assemble),
    "html_single_part": (HTMLFormatter, {}, {}, _single_part),
    "html_no_header_assemble": (HTMLFormatter, {}, {"header": False}, _write_and_assemble),
    "html_no_header_single_part": (HTMLFormatter, {}, {"header": False}, _single_part),
    "html_lazy_assemble": (
        HTMLFormatter, {}, {"header_when_no_data": False}, _write_and_assemble
    ),
    "html_lazy_single_part": (
        HTMLFormatter, {}, {"header_when_no_data": False}, _single_part
    ),
}
RECORD_MARKER = {JSONFormatter: '{"', XMLFormatter: "<row>", HTMLFormatter: "<tr><td>"}


@pytest.mark.parametrize("rows", [0, 1, 3])
@pytest.mark.parametrize("case", list(SINGLE_DOCUMENT_CASES))
def test_single_document_matches_fidelity(spark, sf_dir, tmp_path, case, rows):
    """Every single-document writer — executor-written records spliced
    inside the format's framing — is byte-identical to the fidelity
    stream: the empty rule at 0 rows (XML and JSON: nothing; HTML: the
    skeleton unless the header is lazy), the last part's separator
    dropped on a lone part at 1 row, separators between rows at 3. All
    IO through explicit file:-scheme Hadoop paths (the object-store-safe
    route), and no tmp parts directory is left behind."""
    cls, options, fields, write = SINGLE_DOCUMENT_CASES[case]
    spec = dataclasses.replace(ExportSpec().with_order_by("event_id"), **fields)
    fmt = cls(spec, **options)
    e = load_table(spark, sf_dir, "events").limit(rows)
    target = str(tmp_path / "doc")
    write(fmt, e, "file://" + target)
    got = open(target, encoding="utf-8").read()
    assert got == fmt.format_string(e)
    assert got.count(RECORD_MARKER[cls]) == rows
    if cls is HTMLFormatter and fields.get("header_when_no_data", True):
        assert got.startswith("<!DOCTYPE html>") and got.endswith("</html>\n")
    elif rows == 0:
        assert got == ""
    assert not [n for n in os.listdir(tmp_path) if "._spark_" in n]


def test_csv_native_path_preserves_whitespace(spark, tmp_path):
    """Spark's CSV write defaults trim unquoted fields — silent data
    corruption the scale path must disable. Values (not bytes) must
    round-trip identically to the fidelity stream."""
    df = spark.createDataFrame(
        [(1, "  leading"), (2, "trailing  "), (3, "\tTabbed")], "id long, v string"
    )
    spec = ExportSpec().with_order_by("id")
    out = str(tmp_path / "ws")
    Exporter(df, "csv", spec).write(out)
    back = spark.read.options(header="true", quote='"', escape='"').csv(out)
    got = {r["id"]: r["v"] for r in back.collect()}
    assert got == {"1": "  leading", "2": "trailing  ", "3": "\tTabbed"}


def test_csv_go_quoting_parts_match_fidelity(spark, tmp_path):
    """go_quoting=True: distributed records are byte-identical to the
    fidelity stream, Go quirks included (leading-IsSpace quoting, the
    lone backslash-dot)."""
    from exporter_spark.formatters.csv import CSVFormatter

    df = spark.createDataFrame(
        [(1, "  leading"), (2, 'say "hi"'), (3, "a,b"), (4, r"\."), (5, "plain")],
        "id long, v string",
    )
    spec = ExportSpec().with_order_by("id")
    out = str(tmp_path / "goq")
    CSVFormatter(spec, go_quoting=True).write(df, out)
    lines = []
    for p in sorted(glob.glob(f"{out}/part-*")):
        if not p.endswith(".crc"):
            lines += open(p, encoding="utf-8").read().splitlines()
    fid = Exporter(df, "csv", spec).write_string().splitlines()
    assert lines == fid[1:]  # bare records: no header in parts
    assert '"  leading"' in lines[0] and '"\\."' in lines[3]


def test_xml_stream_parts_partitioned(spark, sf_dir, tmp_path):
    """Default XML scale path under hive-style partition_by: rows land
    under their partition directories as bare <row> records."""

    e = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "xml_part")
    XMLFormatter(ExportSpec()).write(e, out, partition_by=["event_type"])
    dirs = {os.path.basename(p) for p in glob.glob(f"{out}/event_type=*")}
    assert {"event_type=click", "event_type=purchase"} <= dirs
    lines = []
    for p in glob.glob(f"{out}/event_type=*/part-*"):
        if not p.endswith(".crc"):
            lines += open(p, encoding="utf-8").read().splitlines()
    assert len(lines) == e.count()
    assert all(l.startswith("<row>") and l.endswith("</row>") for l in lines)
    # partition column is carried by the directory, not the row body
    assert all("<event_type>" not in l for l in lines[:50])


def test_xml_documents_mode_omits_null_elements(spark, tmp_path):
    """documents=True (StAX writer) must keep the reference's NULL
    rule — a NULL cell omits its element entirely (xml.go:113-115) —
    even though its pretty-printed layout is not byte-parity."""

    df = spark.createDataFrame([(1, None, "x")], "id long, a string, b string")
    out = str(tmp_path / "docs")
    XMLFormatter(ExportSpec(), documents=True).write(df, out)
    body = "".join(
        open(p, encoding="utf-8").read()
        for p in glob.glob(f"{out}/part-*")
        if not p.endswith(".crc")
    )
    assert "<a>" not in body and "<b>x</b>" in body


def test_json_array_decimal_and_ntz_parity(spark, tmp_path):
    """json_line_expr's fallback branches: decimals render as QUOTED
    strings (matching _json_token's str() fallthrough) and
    timestamp_ntz columns plan and render instead of crashing."""
    from decimal import Decimal


    df = spark.createDataFrame(
        [(1, Decimal("11.50")), (2, Decimal("0.07"))], "id long, d decimal(10,2)"
    )
    spec = ExportSpec().with_order_by("id")
    target = str(tmp_path / "dec.json")
    JSONFormatter(spec).write_array_file(df, target)
    got = open(target).read()
    assert got == Exporter(df, "json", spec).write_string()
    assert '"d":"11.50"' in got

    import datetime as dt

    ntz = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 2, 3, 4, 5, 500000))], "id long, ts timestamp_ntz"
    )
    t2 = str(tmp_path / "ntz.json")
    JSONFormatter(spec).write_array_file(ntz, t2)
    assert '"ts":"2024-01-02T03:04:05.5Z"' in open(t2).read()


def test_json_array_nan_raises(spark, tmp_path):
    """NaN/Inf doubles: Go's encoding/json errors, the fidelity path
    raises — the distributed array writer must fail loudly too."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException


    df = spark.createDataFrame([(1, float("nan"))], "id long, v double")
    # only the two Spark-side error wrappers: a bare Exception would
    # also accept unrelated crashes and make the test meaningless
    with pytest.raises((Py4JJavaError, SparkRuntimeException)):
        JSONFormatter(ExportSpec()).write_array_file(df, str(tmp_path / "nan.json"))


def test_json_array_nan_cleans_tmp(spark, tmp_path):
    """A failed distributed write must not leak the parts directory."""
    import pytest


    df = spark.createDataFrame([(1, float("nan"))], "id long, v double")
    target = str(tmp_path / "nan.json")
    with pytest.raises(Exception):
        JSONFormatter(ExportSpec()).write_array_file(df, target)
    assert not os.path.exists(target + "._spark_parts")


def test_json_array_nested_null_fields_and_timestamps(spark, tmp_path):
    """Nested struct NULL fields must survive (Jackson's default drops
    them) and nested timestamps must keep full microsecond precision
    (the default to_json format truncates to milliseconds)."""
    import datetime as dt


    df = spark.createDataFrame(
        [(1, (None, 2), [dt.datetime(2024, 1, 2, 3, 4, 5, 123456)])],
        "id long, s struct<a:long,b:long>, ts array<timestamp>",
    )
    spec = ExportSpec().with_order_by("id")
    target = str(tmp_path / "nested.json")
    JSONFormatter(spec).write_array_file(df, target)
    got = open(target, encoding="utf-8").read()
    assert '"s":{"a":null,"b":2}' in got
    assert "123456" in got  # microseconds not truncated to .123


def test_json_array_control_char_escape_case(spark, tmp_path):
    """Jackson up-cases \\u escapes; the fidelity serializer's
    json.dumps writes lowercase. The array path must byte-match the
    fidelity stream on raw control characters AND must not touch
    literal backslash-u text (whose backslash Jackson doubles)."""

    df = spark.createDataFrame(
        [
            (1, "a\x0bb"),  # raw vertical tab
            (2, "x\x1a\x1a\x1ay"),  # adjacent identical escapes
            (3, "lit \\u000B text"),  # literal text, case preserved
            (4, "\\\\u000E"),  # doubled literal backslashes
        ],
        "id long, t string",
    )
    spec = ExportSpec().with_order_by("id")
    target = str(tmp_path / "ctrl.json")
    JSONFormatter(spec).write_array_file(df, target)
    got = open(target, encoding="utf-8").read()
    assert got == Exporter(df, "json", spec).write_string()
    assert '"a\\u000bb"' in got
    assert "\\u001a\\u001a\\u001a" in got
    assert "lit \\\\u000B text" in got


def test_xml_single_part_object_store_path(spark, sf_dir, tmp_path):
    """write_single_part assembles through the Hadoop FS API — drive
    it with an explicit file:-scheme path (the object-store-safe
    route) and check byte parity with the fidelity stream, plus the
    empty-input empty-file rule and tmp cleanup."""

    e = load_table(spark, sf_dir, "events").limit(40)
    spec = ExportSpec().with_order_by("event_id")
    target = str(tmp_path / "doc.xml")
    XMLFormatter(spec).write_single_part(e, "file:" + target)
    assert open(target, encoding="utf-8").read() == Exporter(
        e, "xml", spec
    ).write_string()
    assert not os.path.exists(target + "._spark_tmp")

    empty_target = str(tmp_path / "empty.xml")
    XMLFormatter(spec).write_single_part(e.limit(0), "file:" + empty_target)
    assert open(empty_target).read() == ""


def test_exporter_rejects_conflicting_spec(spark, sf_dir):
    from exporter_spark.formatters.csv import CSVFormatter

    e = load_table(spark, sf_dir, "events").limit(1)
    import pytest

    with pytest.raises(ValueError, match="formatter instance"):
        Exporter(e, CSVFormatter(), ExportSpec().with_limit(5))
    # same spec object through the formatter is fine
    spec = ExportSpec()
    Exporter(e, CSVFormatter(spec), spec).write_string()


def test_ndjson_write_preserves_ntz_and_nested_micros(spark, tmp_path):
    """The distributed NDJSON writer must not truncate temporal
    precision: top-level NTZ renders like the fidelity path, nested
    timestamps keep microseconds."""
    import datetime as dt
    import glob


    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 2, 3, 4, 5, 500000),
          [dt.datetime(2024, 1, 2, 3, 4, 5, 123456)])],
        "id long, nt timestamp_ntz, ts array<timestamp>",
    )
    out = str(tmp_path / "ndjson_out")
    JSONFormatter(ExportSpec().with_newline_delimited(True)).write(df, out)
    text = "".join(
        open(p, encoding="utf-8").read()
        for p in sorted(glob.glob(f"{out}/part-*"))
        if not p.endswith(".crc")
    )
    assert '"nt":"2024-01-02T03:04:05.5Z"' in text
    assert "123456" in text  # nested micros survive


def test_splice_parts_rejects_overlong_drop(spark, tmp_path):
    import pytest

    from exporter_spark import fsio

    d = str(tmp_path / "parts")
    os.makedirs(d)
    open(f"{d}/part-00000", "w").write("x")
    with pytest.raises(ValueError, match="exceeds"):
        fsio.splice_parts(d, str(tmp_path / "out"), drop_last_bytes=2, spark=spark)


def test_xml_documents_mode_honors_declaration_off(spark, sf_dir, tmp_path):
    import glob


    import dataclasses

    e = load_table(spark, sf_dir, "events").limit(5)
    spec = dataclasses.replace(ExportSpec(), declaration=False)
    out = str(tmp_path / "xml_docs")
    XMLFormatter(spec, documents=True).write(e.coalesce(1), out)
    part = [p for p in glob.glob(f"{out}/part-*") if not p.endswith(".crc")][0]
    assert not open(part, encoding="utf-8").read().startswith("<?xml")
