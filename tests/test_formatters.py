"""Formatter semantics, porting the reference's only test file
(/root/reference/codec/xml/xml_test.go) to every formatter, plus the
golden-matrix behaviors of FIXTURES.md §C."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from exporter_spark import Exporter, ExportSpec
from exporter_spark.formatters.csv import CSVFormatter, _go_csv_field
from exporter_spark.formatters.html import NULL_SPAN, HTMLFormatter
from exporter_spark.formatters.json import JSONFormatter
from exporter_spark.formatters.xml import XMLFormatter

TS = dt.datetime(2024, 3, 1, 12, 30, 45, 500000)


@pytest.fixture(scope="module")
def mixed(spark):
    """FIXTURES.md §A1 — the xml_test.go:120-125 fixture."""
    schema = T.StructType(
        [
            T.StructField("column_0", T.LongType()),
            T.StructField("column_1", T.LongType()),
            T.StructField("column_2", T.TimestampType()),
            T.StructField("column_3", T.LongType()),
            T.StructField("column_4", T.StringType()),
            T.StructField("column_5", T.DoubleType()),
        ]
    )
    rows = [
        (1, 2, TS, 5, "text", 3.14),
        (4, 5, TS, None, "<text>", 3.14),
        (7, 8, TS, 5, "text", 3.14),
    ]
    return spark.createDataFrame(rows, schema)


@pytest.fixture(scope="module")
def two_col(spark):
    """FIXTURES.md §A2."""
    return spark.createDataFrame(
        [(1, "first"), (2, "second"), (3, "third")], "column_0 long, column_1 string"
    )


def ordered(spec=None):
    return (spec or ExportSpec()).with_order_by("column_0")


# ---------------------------------------------------------------- XML


def test_xml_full_write(mixed):
    out = Exporter(mixed, XMLFormatter(ordered().with_float_go())).write_string()
    assert out.startswith('<?xml version="1.0" encoding="UTF-8"?>\n<data>\n')
    assert out.endswith("</data>\n")
    assert out.count("<row>") == 3
    # null element omitted entirely (xml.go:113-115)
    assert out.count("<column_3>") == 2
    # escaping (xml_test.go asserts &lt;text&gt;)
    assert "<column_4>&lt;text&gt;</column_4>" in out
    # RFC3339Nano with trimmed fraction
    assert "<column_2>2024-03-01T12:30:45.5Z</column_2>" in out
    # go float mode: 3.14 stays 3.14
    assert "<column_5>3.14</column_5>" in out


def test_xml_preprocessor_filter(two_col):
    def pre(rid, row):
        return None if row["column_1"] == "second" else row

    out = Exporter(
        two_col, XMLFormatter(ordered().with_preprocessor(pre))
    ).write_string()
    assert out.count("<row>") == 2
    assert "second" not in out


def test_xml_limit(two_col):
    out = Exporter(two_col, XMLFormatter(ordered().with_limit(2))).write_string()
    assert out.count("<row>") == 2
    assert "third" not in out


def test_xml_empty_and_limit0(spark, two_col):
    empty = spark.createDataFrame([], "a long")
    assert Exporter(empty, XMLFormatter()).write_string() == ""
    # limit=0 ⇒ no output at all (xml_test.go:248-258)
    assert Exporter(two_col, XMLFormatter(ExportSpec().with_limit(0))).write_string() == ""


def test_xml_custom_type_mapper(spark):
    df = spark.createDataFrame([(42,)], "column_0 long")
    spec = ExportSpec().with_formatter(
        "column_0", F.concat(F.lit("custom:"), F.col("column_0").cast("string"))
    )
    out = Exporter(df, XMLFormatter(spec)).write_string()
    assert "<column_0>custom:42</column_0>" in out  # xml_test.go:27-54


# ---------------------------------------------------------------- CSV


def test_go_csv_quoting_rules():
    assert _go_csv_field("plain", ",") == "plain"
    assert _go_csv_field("a,b", ",") == '"a,b"'
    assert _go_csv_field('say "hi"', ",") == '"say ""hi"""'
    assert _go_csv_field("line\nbreak", ",") == '"line\nbreak"'
    assert _go_csv_field(" leading", ",") == '" leading"'  # Go quirk
    assert _go_csv_field("a;b", ";") == '"a;b"'
    assert _go_csv_field("a,b", ";") == "a,b"


def test_csv_default(mixed):
    out = Exporter(mixed, CSVFormatter(ordered().with_float_go())).write_string()
    lines = out.split("\n")
    assert lines[0] == "column_0,column_1,column_2,column_3,column_4,column_5"
    assert lines[1] == "1,2,2024-03-01T12:30:45.5Z,5,text,3.14"
    assert lines[2] == "4,5,2024-03-01T12:30:45.5Z,,<text>,3.14"  # null ⇒ ""
    assert len([l for l in lines if l]) == 4


def test_csv_options(two_col):
    spec = (
        ordered()
        .with_delimiter(";")
        .with_crlf(True)
        .with_custom_header(["id", "word"])
        .with_limit(1)
    )
    out = Exporter(two_col, CSVFormatter(spec)).write_string()
    assert out == "id;word\r\n1;first\r\n"


def test_csv_null_string(spark):
    df = spark.createDataFrame([(1, None)], "a long, b string")
    out = Exporter(df, CSVFormatter(ExportSpec().with_null("NULL"))).write_string()
    assert out == "a,b\n1,NULL\n"


def test_csv_header_modes(spark, two_col):
    empty = spark.createDataFrame([], "column_0 long, column_1 string")
    # eager (default): header even when no data
    assert (
        Exporter(empty, CSVFormatter()).write_string() == "column_0,column_1\n"
    )
    # lazy: nothing at all when no data
    spec = ExportSpec().with_header_when_no_data(False)
    assert Exporter(empty, CSVFormatter(spec)).write_string() == ""
    # header off
    out = Exporter(two_col, CSVFormatter(ordered().with_header(False))).write_string()
    assert out.startswith("1,first\n")
    # limit=0 still emits header in eager mode (csv.go:147-154)
    assert (
        Exporter(two_col, CSVFormatter(ExportSpec().with_limit(0))).write_string()
        == "column_0,column_1\n"
    )


def test_csv_distributed_roundtrip(spark, two_col, tmp_path):
    path = str(tmp_path / "csv_out")
    Exporter(two_col, CSVFormatter(ExportSpec())).write(path)
    back = spark.read.option("header", "true").csv(path)
    assert back.count() == 3
    assert back.columns == ["column_0", "column_1"]


# ---------------------------------------------------------------- JSON


def test_json_array_framing(two_col):
    out = Exporter(two_col, JSONFormatter(ordered())).write_string()
    assert out.startswith("[\n")
    assert out.endswith("\n]\n")
    data = json.loads(out)
    assert data == [
        {"column_0": 1, "column_1": "first"},
        {"column_0": 2, "column_1": "second"},
        {"column_0": 3, "column_1": "third"},
    ]


def test_json_sorted_keys_and_raw_values(spark):
    df = spark.createDataFrame(
        [(2.5, [1, 2], "x", TS)], "beta double, alpha array<long>, gamma string, delta timestamp"
    )
    out = Exporter(df, JSONFormatter(ExportSpec().with_newline_delimited(True))).write_string()
    # alphabetical keys (jsoniter std-compat, json.go:17); raw nested array;
    # RFC3339Nano timestamp; Go float (2.5 not 2.50000)
    assert (
        out
        == '{"alpha":[1,2],"beta":2.5,"delta":"2024-03-01T12:30:45.5Z","gamma":"x"}\n'
    )


def test_json_empty_emits_nothing(spark):
    empty = spark.createDataFrame([], "a long")
    assert Exporter(empty, JSONFormatter()).write_string() == ""
    assert (
        Exporter(empty, JSONFormatter(ExportSpec().with_newline_delimited(True))).write_string()
        == ""
    )


def test_json_ndjson_distributed(spark, two_col, tmp_path):
    path = str(tmp_path / "json_out")
    Exporter(two_col, JSONFormatter(ExportSpec())).write(path)
    back = spark.read.json(path)
    assert back.count() == 3


# ---------------------------------------------------------------- HTML


def test_html_document(mixed):
    out = Exporter(mixed, HTMLFormatter(ordered())).write_string()
    assert out.startswith("<!DOCTYPE html>")
    assert out.endswith("</html>\n")
    assert out.count("<tr>") == 4  # thead + 3 rows
    assert "<th>column_2<br/><small>timestamp</small></th>" in out
    assert NULL_SPAN in out  # null cell rendering (html.go:36)
    assert "<td><text></td>" in out  # values NOT escaped (html.go:160)


def test_html_header_modes(spark):
    empty = spark.createDataFrame([], "a long")
    out = Exporter(empty, HTMLFormatter()).write_string()
    assert "<thead>" in out and "<td>" not in out
    spec = ExportSpec().with_header_when_no_data(False)
    assert Exporter(empty, HTMLFormatter(spec)).write_string() == ""


def test_html_header_off_still_standalone_doc(spark):
    """with_header(False) must suppress the <thead> but keep the doc
    skeleton (reference honors writeHeader; html.go:146-151)."""
    df = spark.createDataFrame([(1,)], "a long")
    out = Exporter(df, HTMLFormatter(ExportSpec().with_header(False))).write_string()
    assert "<thead>" not in out and "<th>" not in out
    assert out.startswith("<!DOCTYPE html>") and "<td>1</td>" in out


def test_html_custom_null(spark):
    df = spark.createDataFrame([(1, None)], "a long, b string")
    out = Exporter(df, HTMLFormatter(ExportSpec().with_null("(nil)"))).write_string()
    assert "<td>(nil)</td>" in out and NULL_SPAN not in out


def test_json_duplicate_columns_strict_and_collapse(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "s", 2.5)], "a long, b string, c double")
    dup = df.select("a", "b", F.col("c").alias("b"))
    import pytest

    with pytest.raises(ValueError, match="duplicate output column"):
        Exporter(dup, "json").write_string()
    out = Exporter(
        dup, "json", ExportSpec().with_duplicate_columns("collapse")
    ).write_string()
    assert '"b":2.5' in out and '"b":"s"' not in out  # last wins (json.go:108-110)


def test_csv_go_unicode_space_quoting(spark):
    """Go encoding/csv quotes any field whose first rune is
    unicode.IsSpace — not just space/tab. NBSP and ideographic space
    must quote; an *embedded* (non-leading) space must not."""
    df = spark.createDataFrame(
        [(1, " lead-nbsp"), (2, "　lead-ideo"), (3, "mid space")],
        "a long, b string",
    )
    out = Exporter(df, "csv", ExportSpec().with_order_by("a")).write_string()
    lines = out.splitlines()
    assert lines[1] == '1," lead-nbsp"'
    assert lines[2] == '2,"　lead-ideo"'
    assert lines[3] == "3,mid space"
    # dual-path parity: the Python fidelity quoting agrees
    from exporter_spark.formatters.csv import _go_csv_field

    assert _go_csv_field(" x", ",") == '" x"'
    assert _go_csv_field("x y", ",") == "x y"


def test_delimiter_validation_matches_go():
    """encoding/csv validDelim: NUL, quote, CR, LF, RuneError,
    surrogate code points (utf8.ValidRune is false for U+D800-DFFF)
    and multi-char are rejected with Go's exact error; ordinary
    unicode runes are fine."""
    import pytest

    from exporter_spark.plans.spec import ExportSpec

    bads = ['\x00', '"', '\r', '\n', '\ufffd', 'ab', '',
            '\ud800', '\udbff', '\udc00', '\udfff']
    for bad in bads:
        with pytest.raises(ValueError, match="invalid field or comment delimiter"):
            ExportSpec().with_delimiter(bad)
    for ok in [';', '\t', '|', '\u20ac']:
        assert ExportSpec().with_delimiter(ok).delimiter == ok


def test_xml_surrogates_unreachable_in_plan(spark):
    """Pins the round-9 adjudication of ADVICE r08 item 2: the XML
    escape expression carries no surrogate replacement because the
    class cannot occur in the JVM expression domain \u2014 Spark string
    ops are code-point-based, so nothing in-plan can split an astral
    pair into a lone surrogate, and chr() of a surrogate code point
    masks to a byte rather than producing one. If a Spark upgrade
    ever changes either fact, this test fails and the (measured,
    rejected: +60% on the escape chain) regexp_replace defense must
    be reconsidered."""
    from pyspark.sql import functions as F

    from exporter_spark.formatters.xml import xml_escape_expr

    df = spark.createDataFrame([("a\U0001f600b",)], ["s"])
    # a full astral pair passes through the escape chain untouched
    assert (
        df.selectExpr(f"{xml_escape_expr('s')} AS e").collect()[0].e
        == "a\U0001f600b"
    )
    # substring is code-point-based: "cutting" after the emoji's
    # first UTF-16 unit still yields the WHOLE code point, never a
    # lone surrogate
    cut = df.select(F.substring("s", 1, 2).alias("c")).collect()[0].c
    assert cut == "a\U0001f600"
    assert not any("\ud800" <= ch <= "\udfff" for ch in cut)
    # chr() cannot manufacture a surrogate either (masks to a byte)
    made = spark.range(1).select(F.chr(F.lit(0xD83D)).alias("c")).collect()[0].c
    assert not any("\ud800" <= ch <= "\udfff" for ch in made)
    # and the Python fidelity twin DOES sanitize a lone surrogate the
    # way Go treats the invalid UTF-8 it would be encoded as
    from exporter_spark.formatters.xml import xml_escape

    assert xml_escape("a\ud800b") == "a\ufffdb"
