"""Adversarial round-trip fuzz over the export fidelity paths.

The golden suite pins the quoting/escaping tables on curated inputs;
this file pins them on hypothesis-generated unicode — weighted toward
the characters the tables exist for (quotes, delimiters, CR/LF, Go's
unicode.IsSpace set, XML entities, C0 controls, U+FFFE/FFFF) — by
writing through the REAL fidelity stream and parsing back with an
independent parser (csv.reader / xml.etree).

Parity targets: Go encoding/csv quoting (reference codec/csv/
csv.go:196-210) and Go xml.EscapeText (codec/xml/xml.go:118), whose
entity table AND out-of-character-range -> U+FFFD rule both must
survive a parse round-trip byte-exactly.

Each example pays Spark jobs, so example counts are small; the
adversarial alphabet (not volume) is what buys coverage here.
"""

from __future__ import annotations

import csv
import io
import xml.etree.ElementTree as ET

from hypothesis import given, settings
from hypothesis import strategies as st

from exporter_spark import Exporter, ExportSpec
from exporter_spark.formatters.base import jvm_str
from exporter_spark.formatters.csv import GO_SPACE_CHARS, _go_csv_field
from exporter_spark.formatters.xml import _XML_INVALID, xml_escape

# The characters the quoting/escaping tables branch on, heavily
# over-weighted relative to plain unicode. Includes raw unpaired
# surrogates — CPython can hold them, the JVM/Arrow boundary cannot
# (they become U+FFFD in a DataFrame), and the round-8 fuzz caught
# the Python twins diverging from the JVM expressions on exactly that.
_NASTY = sorted(
    set(
        '",;\r\n\t\\.&<>\''
        + GO_SPACE_CHARS
        + _XML_INVALID
        + "\x7f\x85�\U0001f600\ud800􏰀\udfff"
    )
)
_CELL = st.text(
    alphabet=st.one_of(
        st.sampled_from(_NASTY),
        st.characters(max_codepoint=0x10FFFF),
    ),
    max_size=12,
)
# Round-trip tests compare OUTPUT against INPUT, so their domain is
# what a DataFrame can actually carry: the jvm_str projection of the
# raw strategy (lone surrogates -> U+FFFD, pairs combined). The
# dual-path test keeps the RAW domain — the twins must agree with the
# JVM expressions even on inputs only CPython can represent.
_JCELL = _CELL.map(jvm_str)
_ROWS = st.lists(st.tuples(_JCELL, _JCELL), min_size=1, max_size=5)


def _xml_expected(s: str) -> str:
    """What Go xml.EscapeText preserves of a text node: everything,
    except runes outside the XML character range become U+FFFD."""
    return "".join(
        ch
        if (
            ch in "\t\n\r"
            or 0x20 <= ord(ch) <= 0xD7FF
            or 0xE000 <= ord(ch) <= 0xFFFD
            or ord(ch) >= 0x10000
        )
        else "�"
        for ch in s
    )


@given(_ROWS)
@settings(max_examples=8, deadline=None)
def test_csv_fidelity_round_trip(spark, rows):
    """fidelity stream -> csv.reader recovers every cell byte-exactly.
    Go quoting is a superset of what Python's reader requires (extra
    quotes on leading-IsSpace fields are harmless), so any divergence
    from encoding/csv's table shows up as a value mismatch here."""
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)], "id long, c0 string, c1 string"
    )
    out = Exporter(df, "csv", ExportSpec().with_order_by("id")).write_string()
    parsed = list(csv.reader(io.StringIO(out)))
    assert parsed[0] == ["id", "c0", "c1"]
    assert parsed[1:] == [[str(i), a, b] for i, (a, b) in enumerate(rows)]


# Go's two quote triggers besides the delimiter, quote and CR/LF: a
# lone ``\.`` (and only that field) and a leading unicode.IsSpace rune
# beyond Latin-1's space/tab. Checked in every dual-path example.
_CURATED = ["\\.", "\\.x", "a\\.", "\\.\n", "\u3000x", "\x85x"]
# regex metacharacters among them: the JVM rule must keep each literal
_DELIMITERS = [",", ";", "\t", "|", "]", "^", "\\", "-"]


@given(
    st.lists(_CELL | st.none(), min_size=1, max_size=8),
    st.sampled_from(_DELIMITERS),
    _JCELL,
)
@settings(max_examples=8, deadline=None)
def test_csv_dual_path_quoting_agrees(spark, cells, delimiter, null_value):
    """The JVM expression (csv_field_expr, the scale/fidelity record
    path) and the Python twin (_go_csv_field, the header path) must
    emit byte-identical fields for arbitrary unicode, any delimiter
    and a NULL cell's replacement string — same dual-path contract
    the goldens pin on curated strings."""
    from exporter_spark.formatters.csv import csv_field_expr

    cells = cells + _CURATED
    df = spark.createDataFrame([(c,) for c in cells], "raw string")
    got = [
        r["q"]
        for r in df.selectExpr(
            f"{csv_field_expr('raw', delimiter, null_value)} AS q"
        ).collect()
    ]
    assert got == [
        _go_csv_field(null_value if c is None else c, delimiter) for c in cells
    ]


@given(st.lists(st.tuples(_JCELL | st.none(), _JCELL), min_size=1, max_size=5))
@settings(max_examples=8, deadline=None)
def test_xml_fidelity_round_trip(spark, rows):
    """fidelity stream -> ElementTree recovers every cell after Go's
    EscapeText transform (entity table + invalid-rune -> U+FFFD), and
    NULL cells are absent elements (xml.go:113-115). A missing entity
    or an unreplaced control rune makes the document unparseable or
    the value wrong — either fails here."""
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)], "id long, c0 string, c1 string"
    )
    out = Exporter(df, "xml", ExportSpec().with_order_by("id")).write_string()
    root = ET.fromstring(out)
    assert root.tag == "data" and len(root) == len(rows)
    for row_el, (i, (a, b)) in zip(root, enumerate(rows)):
        assert row_el.find("id").text == str(i)
        for tag, val in (("c0", a), ("c1", b)):
            el = row_el.find(tag)
            if val is None:
                assert el is None
            else:
                assert (el.text or "") == _xml_expected(val)


@given(st.lists(st.tuples(_JCELL | st.none(), _JCELL), min_size=1, max_size=5))
@settings(max_examples=8, deadline=None)
def test_json_array_round_trip(spark, rows):
    """Array framing -> json.loads recovers every cell byte-exactly
    (reference codec/json/json.go:83-156: array framing, sorted keys,
    NULL -> null). The JSON escape table has no lossy transform, so
    unlike XML the recovered value must equal the INPUT, including C0
    controls, lone-surrogate-adjacent planes, and U+FFFE/FFFF."""
    import json as pyjson

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)], "id long, c0 string, c1 string"
    )
    out = Exporter(df, "json", ExportSpec().with_order_by("id")).write_string()
    parsed = pyjson.loads(out)
    assert parsed == [
        {"id": i, "c0": a, "c1": b} for i, (a, b) in enumerate(rows)
    ]


@given(st.lists(st.tuples(_JCELL | st.none(), _JCELL), min_size=1, max_size=5))
@settings(max_examples=8, deadline=None)
def test_ndjson_round_trip(spark, rows):
    """NDJSON mode: one json.loads-able object per line, same
    byte-exact cell recovery; the framing toggle must change framing
    ONLY (json.go:51-55), never the escape table."""
    import json as pyjson

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)], "id long, c0 string, c1 string"
    )
    out = Exporter(
        df, "json", ExportSpec().with_order_by("id").with_newline_delimited()
    ).write_string()
    lines = [ln for ln in out.split("\n") if ln]
    assert [pyjson.loads(ln) for ln in lines] == [
        {"id": i, "c0": a, "c1": b} for i, (a, b) in enumerate(rows)
    ]


def test_jvm_str_projection():
    """jvm_str is exactly the Python->JVM string boundary: every
    surrogate CODE POINT -> its own U+FFFD (measured: even an ordered
    high+low sequence does NOT pair across the transfer — CPython
    strings are code points, and each is UTF-8-encoded separately);
    boundary-representable strings pass through untouched."""
    assert jvm_str("\ud800") == "\ufffd"
    assert jvm_str("a\udfffb") == "a\ufffdb"
    # an ordered high+low sequence stays TWO replacement chars — the
    # boundary never reassembles pairs (probe-verified in round 8:
    # '\\ud800\\udfff' through createDataFrame arrives as two U+FFFD)
    assert jvm_str("\ud83d\ude00") == "\ufffd\ufffd"
    assert jvm_str("\udc00\ud800") == "\ufffd\ufffd"
    plain = "plain ascii, caf\xe9, \U0001f600, \ufffd, \x00\t\r\n"
    assert jvm_str(plain) == plain
    # twins apply the projection, so raw-surrogate input quotes/escapes
    # exactly like its DataFrame image
    assert _go_csv_field("\ud800", ",") == "\ufffd"
    assert xml_escape("<\ud800>") == "&lt;\ufffd&gt;"


def test_xml_python_twin_matches_expr_table(spark):
    """xml_escape (Python twin) agrees with xml_escape_expr (the SQL
    expression) on the full adversarial alphabet in one batch."""
    from exporter_spark.formatters.xml import xml_escape_expr

    cells = ["".join(_NASTY), "plain", "", "a\x00b￾￿c", "&<>\"'\t\n\r"]
    df = spark.createDataFrame([(c,) for c in cells], "raw string")
    got = [
        r["e"]
        for r in df.selectExpr(f"{xml_escape_expr('raw')} AS e").collect()
    ]
    assert got == [xml_escape(c) for c in cells]


def test_adversarial_column_names(spark):
    """The reference treats column names as opaque strings; Spark
    parses them everywhere (F.col dots -> struct access, Dataset.apply
    rejecting backticks). All four fidelity exports, order_by on the
    weird name, and the distributed writers must work — while string
    order_by that does NOT name a column keeps plain parsing (struct
    access)."""
    import shutil
    import tempfile

    df = spark.createDataFrame(
        [(2, "y"), (1, "x")], "id long, v string"
    ).toDF("a.b", "c`d")
    for fmt in ["csv", "json", "xml", "html"]:
        out = Exporter(df, fmt, ExportSpec().with_order_by("a.b")).write_string()
        assert out and "x" in out, fmt
    got = Exporter(df, "csv", ExportSpec().with_order_by("a.b")).write_string()
    assert got == 'a.b,c`d\n1,x\n2,y\n'
    d = tempfile.mkdtemp(prefix="colnames_")
    try:
        for fmt in ["csv", "json", "parquet"]:
            Exporter(df, fmt, ExportSpec()).write(f"{d}/{fmt}")
        back = spark.read.parquet(f"{d}/parquet")
        assert set(back.columns) == {"a.b", "c`d"}
    finally:
        shutil.rmtree(d, ignore_errors=True)
    # struct-field order_by strings still parse as expressions
    df2 = spark.createDataFrame([((3, 4),), ((1, 2),)], "s struct<a:long,b:long>")
    rows = ExportSpec().with_order_by("s.a")._compile(df2, display=False).collect()
    assert [r["s"]["a"] for r in rows] == [1, 3]


@given(st.lists(st.tuples(_JCELL | st.none(), _JCELL), min_size=1, max_size=5))
@settings(max_examples=8, deadline=None)
def test_html_template_assembly_round_trip(spark, rows):
    """HTML cells are deliberately NOT escaped (html.go:160 parity
    quirk), so there is no parse-back oracle; the property instead is
    exact template assembly — the Catalyst <tr> concat expression and
    the skeleton splice must reproduce an independently-computed
    Python document byte-for-byte for arbitrary unicode cells, with
    NULL as the gray span (html.go:36) and the header carrying
    name + lowercase type (html.go:104-109)."""
    from exporter_spark.formatters.html import _STYLE, NULL_SPAN

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)], "id long, c0 string, c1 string"
    )
    out = Exporter(df, "html", ExportSpec().with_order_by("id")).write_string()
    th = "".join(
        f"<th>{n}<br/><small>{t}</small></th>"
        for n, t in [("id", "bigint"), ("c0", "string"), ("c1", "string")]
    )
    expected = (
        '<!DOCTYPE html>\n<html>\n<head>\n<meta charset="utf-8"/>\n'
        + _STYLE
        + "</head>\n<body>\n<table>\n"
        + "<thead>\n<tr>" + th + "</tr>\n</thead>\n<tbody>\n"
        + "".join(
            f"<tr><td>{i}</td><td>{NULL_SPAN if a is None else a}</td>"
            f"<td>{b}</td></tr>\n"
            for i, (a, b) in enumerate(rows)
        )
        + "</tbody>\n</table>\n</body>\n</html>\n"
    )
    assert out == expected


# Mapper outputs must ride the SAME Go-quoting path as plain cells —
# the suffix carries every character class the quoting table branches
# on, so an unquoted mapper output corrupts the parse and fails here.
_MAPPER_SUFFIX = '|,"x\r\n\t  '


@given(st.lists(st.tuples(_JCELL | st.none(), _JCELL), min_size=1, max_size=5))
@settings(max_examples=8, deadline=None)
def test_mapper_path_round_trip(spark, rows):
    """Per-column and per-type mapper outputs (plans/spec.py
    _resolve_formatters, the r08 qcol routing) through the CSV
    fidelity stream: csv.reader must recover the TRANSFORMED cells —
    column mapper on c0 (nil bypass: NULL skips the mapper and stays
    ""), type mapper on the long id observing CellMeta.row_id (1-based
    under order_by, reference Metadata dispatch csv.go:199-205)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)], "id long, c0 string, c1 string"
    )
    spec = (
        ExportSpec()
        .with_order_by("id")
        .with_formatter(
            "c0", lambda col, meta: F.concat(col, F.lit(_MAPPER_SUFFIX))
        )
        .with_type_formatter(
            T.LongType,
            lambda col, meta: F.concat(
                F.lit("#"),
                meta.row_id.cast("string"),
                F.lit(":"),
                col.cast("string"),
            ),
        )
    )
    out = Exporter(df, "csv", spec).write_string()
    parsed = list(csv.reader(io.StringIO(out)))
    assert parsed[0] == ["id", "c0", "c1"]
    assert parsed[1:] == [
        [
            f"#{i + 1}:{i}",
            "" if a is None else a + _MAPPER_SUFFIX,
            b,
        ]
        for i, (a, b) in enumerate(rows)
    ]
