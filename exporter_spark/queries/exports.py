"""Export-surface semantics as queries (the tostring layer, SURVEY §1.2).

Split out of the monolithic queries.py in round 15; registration
order within this module is unchanged (see queries/__init__.py for
the cross-module order and the driver-window contract).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from exporter_spark.formatters.csv import GO_SPACE_CHARS
from exporter_spark.functions.tostring import display_columns, display_expr, go_float_fn, project
from exporter_spark.queries._registry import _dsum, _register
from exporter_spark.sources.files import load_table

# =====================================================================
# Export-surface semantics as queries (the tostring layer, SURVEY §1.2)
# =====================================================================


# The display-string SQL fragments shared by the tostring and
# formatter-semantics oracles — DuckDB replicas of
# functions/tostring.display_expr.
#
# Timestamp: RFC3339Nano with trailing fractional zeros trimmed, plus
# Go's zero-time rule (tostring.go:67-69: IsZero() => NULL cell).
_DUCK_TS = (
    "CASE WHEN ts = TIMESTAMP '0001-01-01 00:00:00' THEN NULL "
    "ELSE strftime(ts, '%Y-%m-%dT%H:%M:%S') || CASE WHEN microsecond(ts) % 1000000 = 0 "
    "THEN '' ELSE '.' || regexp_replace(printf('%06d', microsecond(ts) % 1000000), "
    "'0+$', '') END || 'Z' END"
)


def _duck_go_float(v: str) -> str:
    """DuckDB replica of strconv.FormatFloat(x, 'f', -1, 64) — Go's
    shortest-round-trip digits rendered in fixed notation, never
    scientific (the ``float_mode="go"`` display path, tostring.go:71-74).

    DuckDB's own double→VARCHAR is NOT shortest-round-trip in its
    fixed-notation regime (~3% of full-precision doubles lose their
    last digit, e.g. the double nearest -940.4055611238593 prints as
    ...592), so the digits come from the classic shortest-digits
    construction instead: the first of printf('%.15g'/'%.16g'/'%.17g')
    whose round-trip CAST equals the value — correct rounding makes
    that string's digits the unique shortest form. The CASE below then
    re-renders fixed (zero-padding around the decimal point for
    scientific forms). Exact for NULL / NaN / ±Inf / ±0 (sign
    preserved), every integral double, and every NORMAL double
    (fuzz-pinned against the Python/Go shortest-repr reference in
    tests/test_degenerate_oracle_parity.py). Out of domain:
    subnormals (|x| < 2.2e-308), where the half-ulp window is wide
    enough that a non-shortest 15-digit string can round-trip.
    """
    s = (
        f"CASE WHEN CAST(printf('%.15g', {v}) AS DOUBLE) = {v} "
        f"THEN printf('%.15g', {v}) "
        f"WHEN CAST(printf('%.16g', {v}) AS DOUBLE) = {v} "
        f"THEN printf('%.16g', {v}) "
        f"ELSE printf('%.17g', {v}) END"
    )
    man = f"split_part({s}, 'e', 1)"
    expn = f"CAST(split_part({s}, 'e', 2) AS INTEGER)"
    sign = f"CASE WHEN {s} LIKE '-%' THEN '-' ELSE '' END"
    digits = f"replace(replace({man}, '-', ''), '.', '')"
    # scientific 'd.ddde±XX' -> fixed: place the decimal point at
    # digit position 1+exp, zero-padding either side as needed
    sci_fixed = (
        f"CASE WHEN {expn} < 0 "
        f"THEN {sign} || '0.' || repeat('0', -{expn} - 1) || {digits} "
        f"WHEN length({digits}) <= {expn} + 1 "
        f"THEN {sign} || {digits} || repeat('0', {expn} + 1 - length({digits})) "
        f"ELSE {sign} || substr({digits}, 1, {expn} + 1) || '.' "
        f"|| substr({digits}, {expn} + 2) END"
    )
    strip_dot0 = (
        f"CASE WHEN {s} LIKE '%.0' THEN substr({s}, 1, length({s}) - 2) ELSE {s} END"
    )
    return (
        f"CASE WHEN {v} IS NULL THEN NULL "
        f"WHEN isnan({v}) THEN 'NaN' "
        f"WHEN isinf({v}) THEN CASE WHEN {v} > 0 THEN '+Inf' ELSE '-Inf' END "
        # %g keeps the sign of negative zero, matching Go's "-0"
        f"WHEN {v} = 0 THEN printf('%g', {v}) "
        # below 2^53 integral doubles ARE their integer (shortest =
        # exact); above, shortest may drop digits, so use the
        # renderer's shortest digits instead of a BIGINT cast
        f"WHEN {v} = trunc({v}) THEN "
        f"CASE WHEN abs({v}) < 9007199254740992.0 "
        f"THEN CAST(CAST({v} AS BIGINT) AS VARCHAR) "
        f"WHEN instr({s}, 'e') = 0 THEN {strip_dot0} "
        f"ELSE {sci_fixed} END "
        f"WHEN instr({s}, 'e') = 0 THEN {s} "
        f"ELSE {sci_fixed} END"
    )


_DUCK_VAL = _duck_go_float("value")


@_register(
    "tostring_events",
    f"""
    SELECT CAST(event_id AS VARCHAR) AS event_id,
           {_DUCK_TS} AS ts_str,
           {_DUCK_VAL} AS value_str,
           event_type, props
    FROM events
    """,
)
def tostring_events(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    fields = {f.name: f.dataType for f in e.schema.fields}
    go = go_float_fn(spark)
    return e.selectExpr(
        f"{display_expr('event_id', fields['event_id'])} AS event_id",
        f"{display_expr('ts', fields['ts'])} AS ts_str",
        f"{display_expr('value', fields['value'], go_float=go)} AS value_str",
        "event_type",
        "props",
    )


# Go unicode.IsSpace leading-rune quoting set — the same 21
# characters csv_field_expr checks, kept in one place.
_GO_SPACE_IN = ", ".join(f"chr({ord(c)})" for c in GO_SPACE_CHARS)


def _duck_csv_q(expr: str) -> str:
    """DuckDB replica of formatters.csv.csv_field_expr (delimiter ','
    and null string ''): quote when the field contains the delimiter,
    a quote, or CR/LF, when its FIRST rune is in Go's unicode.IsSpace
    set (all 21 GO_SPACE_CHARS, not just space/tab), or when it is
    the literal ``\\.``."""
    s = f"coalesce({expr}, '')"
    return (
        f"CASE WHEN instr({s}, ',') > 0 OR instr({s}, '\"') > 0 "
        f"OR instr({s}, chr(13)) > 0 OR instr({s}, chr(10)) > 0 "
        f"OR substr({s}, 1, 1) IN ({_GO_SPACE_IN}) OR {s} = '\\.' "
        f"THEN '\"' || replace({s}, '\"', '\"\"') || '\"' ELSE {s} END"
    )


def _duck_xml_esc(expr: str) -> str:
    """DuckDB replica of formatters.xml.xml_escape_expr (Go
    xml.EscapeText entity table, & first; then the out-of-character-
    range runes → U+FFFD translate pass, same set as _XML_INVALID)."""
    out = expr
    for raw, ent in [
        ("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&#34;"),
        ("''", "&#39;"), ("\t", "&#x9;"), ("\n", "&#xA;"), ("\r", "&#xD;"),
    ]:
        raw_sql = "''''" if raw == "''" else f"'{raw}'"
        out = f"replace({out}, {raw_sql}, '{ent}')"
    invalid = [*range(0x00, 0x09), 0x0B, 0x0C, *range(0x0E, 0x20), 0xFFFE, 0xFFFF]
    frm = " || ".join(f"chr({c})" for c in invalid)
    return f"translate({out}, {frm}, repeat(chr(65533), {len(invalid)}))"


# Display-string subquery shared by the CSV/XML record oracles: the
# (large) value/timestamp expressions are rendered ONCE here, and the
# quoting/escaping layers below reference plain column names.
_EV_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
_EV_DISPLAY_SQL = (
    "SELECT CAST(event_id AS VARCHAR) AS event_id, "
    f"{_DUCK_TS} AS ts, "
    "CAST(user_id AS VARCHAR) AS user_id, "
    "event_type, "
    f"{_DUCK_VAL} AS value, "
    "props FROM events"
)


@_register(
    "csv_lines_events",
    "SELECT "
    + " || ',' || ".join(_duck_csv_q(c) for c in _EV_COLS)
    + f" AS line FROM ({_EV_DISPLAY_SQL}) ev",
)
def csv_lines_events(spark, sf_dir):
    """The CSV sink's record semantics (Go quoting + tostring display
    strings) as an oracle-checkable query: one formatted CSV record
    per event (codec/csv/csv.go:156-190 parity, minus framing)."""
    from exporter_spark.formatters.csv import csv_line_expr

    e = load_table(spark, sf_dir, "events")
    disp = project(e, display_columns(e, float_mode="go"))
    return disp.selectExpr(f"{csv_line_expr(e.columns, ',', '')} AS line")


def _xml_rows_oracle() -> str:
    parts = []
    for name in _EV_COLS:
        parts.append(
            f"CASE WHEN {name} IS NULL THEN '' "
            f"ELSE '<{name}>' || {_duck_xml_esc(name)} || '</{name}>' END"
        )
    return (
        "SELECT '<row>' || " + " || ".join(parts)
        + f" || '</row>' AS xml_row FROM ({_EV_DISPLAY_SQL}) ev"
    )


@_register("xml_rows_events", _xml_rows_oracle())
def xml_rows_events(spark, sf_dir):
    """The XML sink's record semantics (entity escaping, NULL-element
    omission) as an oracle-checkable query (codec/xml/xml.go:81-127
    parity, minus framing)."""
    from exporter_spark.formatters.xml import xml_row_expr

    e = load_table(spark, sf_dir, "events")
    disp = project(e, display_columns(e, float_mode="go"))
    return disp.selectExpr(f"{xml_row_expr(e.columns, e.columns)} AS xml_row")


def _html_rows_oracle() -> str:
    # the gray NULL span byte-for-byte (formatters/html.py NULL_SPAN,
    # html.go:36); cells are intentionally unescaped (html.go:160)
    null_span = '<span style="color:#aaaaaa;">[NULL]</span>'
    cells = " || ".join(
        f"'<td>' || coalesce({name}, '{null_span}') || '</td>'"
        for name in _EV_COLS
    )
    return (
        f"SELECT '<tr>' || {cells} || '</tr>' AS html_row "
        f"FROM ({_EV_DISPLAY_SQL}) ev"
    )


@_register("html_rows_events", _html_rows_oracle())
def html_rows_events(spark, sf_dir):
    """The HTML sink's record semantics (``<tr>`` concat over display
    strings, gray-span NULL rendering, unescaped cells) as an
    oracle-checkable query (codec/html/html.go:126-168 parity, minus
    the document framing) — round 12: the last codec to gain a driver
    CORRECTNESS entry."""
    from exporter_spark.formatters.html import html_row_expr

    e = load_table(spark, sf_dir, "events")
    disp = project(e, display_columns(e, float_mode="go"))
    return disp.selectExpr(f"{html_row_expr(e.columns)} AS html_row")


@_register(
    "ndjson_lines_docs",
    """
    SELECT to_json(struct_pack(doc_id := doc_id, lang := lang,
                               source := source))::VARCHAR AS line
    FROM documents
    """,
)
def ndjson_lines_docs(spark, sf_dir):
    """NDJSON record framing (sorted keys, compact separators) as an
    oracle-checkable query (codec/json/json.go:103-153 parity)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(F.to_json(F.struct("doc_id", "lang", "source")).alias("line"))


