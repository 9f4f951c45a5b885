"""Column names and spec literals survive the SQL text the formatters
build, whatever ``spark.sql.parser.escapedStringLiterals`` says.

Names are backtick-quoted with doubled inner backticks (``sql_name``);
a string literal is plain ``'...'`` only over a safe ASCII set and
otherwise its UTF-8 bytes (``sql_str``). Expected bytes come from the
Python twins: ``_go_csv_field``, ``xml_escape`` and ``_json_token``.
"""

from __future__ import annotations

import dataclasses
import json

import pytest
from pyspark.sql import types as T

from exporter_spark import Exporter, ExportSpec
from exporter_spark.formatters.csv import CSVFormatter, _go_csv_field
from exporter_spark.formatters.html import HTMLFormatter
from exporter_spark.formatters.json import JSONFormatter, _json_token
from exporter_spark.formatters.xml import XMLFormatter, xml_escape
from exporter_spark.functions.tostring import jvm_str, sql_name, sql_str

# a backtick, a dot, a space, a quote and a non-BMP character
NAMES = ["key", "a`b", "x.y", "s p", "it's", "\U0001d11e"]
# spec literals: a quote, a backslash, a regex group reference, U+FFFD
# and a lone surrogate (which reaches the JVM as U+FFFD)
LITERALS = ["'", "\\", "$0", "\ufffd", "\ud800"]
# one character each; with_delimiter refuses U+FFFD and surrogates
DELIMITERS = ["'", "\\", "$"]
ROWS = [
    (3, "it's", "C:\\dir\\", "$0 ${x}", "\ufffd", None),
    (1, None, "a,b;c", '"q"', "<&>\t", "plain"),
    (2, "\\.", " lead", "x'y\\'", "\U0001d11e", "$1\\1"),
]
ORDERED = sorted(ROWS)
SPEC = ExportSpec().with_order_by("key")


@pytest.fixture(params=["false", "true"])
def df(spark, request):
    conf = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(conf)
    spark.conf.set(conf, request.param)
    schema = T.StructType(
        [T.StructField("key", T.LongType())]
        + [T.StructField(n, T.StringType()) for n in NAMES[1:]]
    )
    yield spark.createDataFrame(ROWS, schema)
    spark.conf.set(conf, before)


def _cells(row, null):
    return [null if v is None else str(v) for v in row]


def _csv_records(d: str, null: str) -> str:
    return "".join(d.join(_go_csv_field(v, d) for v in _cells(r, null)) + "\n" for r in ORDERED)


def _xml(root: str, row: str) -> str:
    root, row = jvm_str(root), jvm_str(row)
    records = [
        f"<{row}>"
        + "".join(f"<{n}>{xml_escape(str(v))}</{n}>" for n, v in zip(NAMES, r) if v is not None)
        + f"</{row}>"
        for r in ORDERED
    ]
    return f'<?xml version="1.0" encoding="UTF-8"?>\n<{root}>\n' + "\n".join(records) + f"\n</{root}>\n"


def _json_objects() -> list[str]:
    return [
        "{"
        + ",".join(
            json.dumps(n, ensure_ascii=False) + ":" + _json_token(v)
            for n, v in sorted(zip(NAMES, r))
        )
        + "}"
        for r in ORDERED
    ]


def _read(path) -> str:
    with open(path, encoding="utf-8", newline="") as fh:
        return fh.read()


@pytest.mark.parametrize("i", range(len(LITERALS)))
def test_csv_write_string(df, i):
    d, null = DELIMITERS[i % len(DELIMITERS)], LITERALS[i]
    spec = SPEC.with_delimiter(d).with_null(null).with_limit(10)
    header = d.join(_go_csv_field(n, d) for n in NAMES) + "\n"
    assert Exporter(df, "csv", spec).write_string() == header + _csv_records(d, null)


@pytest.mark.parametrize("i", range(len(LITERALS)))
def test_xml_write_string(df, i):
    root, row = LITERALS[i], LITERALS[(i + 1) % len(LITERALS)]
    spec = dataclasses.replace(SPEC.with_limit(10), root_tag=root, row_tag=row)
    assert Exporter(df, "xml", spec).write_string() == _xml(root, row)


@pytest.mark.parametrize("null", LITERALS)
def test_html_write_string(df, null):
    spec = SPEC.with_null(null).with_limit(10)
    fmt = HTMLFormatter(spec)
    framing = fmt.framing(df)
    rows = [
        "<tr>" + "".join(f"<td>{v}</td>" for v in _cells(r, jvm_str(null))) + "</tr>"
        for r in ORDERED
    ]
    assert fmt.format_string(df) == framing.prologue + "\n".join(rows) + framing.epilogue


def test_json_write_string(df):
    objects = _json_objects()
    spec = SPEC.with_limit(10)
    assert Exporter(df, "json", spec).write_string() == "[\n" + ",\n".join(objects) + "\n]\n"
    ndjson = spec.with_newline_delimited()
    assert Exporter(df, "json", ndjson).write_string() == "".join(o + "\n" for o in objects)


@pytest.mark.parametrize("i", [0, 1])
def test_distributed_writers(df, tmp_path, i):
    d, null = DELIMITERS[i], LITERALS[i]
    spec = SPEC.with_delimiter(d).with_null(null)
    CSVFormatter(spec, go_quoting=True).write_single_part(df, str(tmp_path / "out.csv"))
    assert _read(tmp_path / "out.csv") == _csv_records(d, null)

    root, row = LITERALS[i + 2], LITERALS[i + 3]
    xml_spec = dataclasses.replace(SPEC, root_tag=root, row_tag=row)
    XMLFormatter(xml_spec).write_single_part(df, str(tmp_path / "out.xml"))
    assert _read(tmp_path / "out.xml") == _xml(root, row)

    JSONFormatter(SPEC).write_array_file(df, str(tmp_path / "out.json"))
    assert _read(tmp_path / "out.json") == "[\n" + ",\n".join(_json_objects()) + "\n]\n"


def test_sql_str_round_trips(df):
    values = [*LITERALS, "", "plain text", "'; DROP", "\\u0041", "${spark.app.name}"]
    got = df.limit(1).selectExpr(*[f"{sql_str(v)} AS v{i}" for i, v in enumerate(values)]).first()
    assert list(got) == [jvm_str(v) for v in values]


def test_sql_name_refuses_variable_reference():
    with pytest.raises(ValueError, match="substitutes"):
        sql_name("a${b}")
