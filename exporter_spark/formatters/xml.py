"""XML formatter — parity target /root/reference/codec/xml/xml.go.

Framing (xml.go:67-130): optional declaration line, ``<data>`` root,
one ``<row>`` element per record with one child element per column;
NULL cells omit their element entirely (xml.go:113-115); text is
escaped with Go xml.EscapeText's entity set; element names are the raw
column names (the reference does not sanitize — xml.go:116-119 — we
keep that behavior on the fidelity path and document that the scale
path, Spark's native XML writer, sanitizes).

Record: the entire row string is ONE expression (concat of per-column
fragments), built as SQL text, so escaping runs JVM-side inside
codegen, on the fidelity stream and the part files alike.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from exporter_spark.formatters.base import BaseFormatter, Framing, jvm_str, sql_name, sql_str

_DECLARATION = '<?xml version="1.0" encoding="UTF-8"?>\n'

# Go xml.EscapeText entity table (order matters: & first).
_XML_ESCAPES = [
    ("&", "&amp;"),
    ("<", "&lt;"),
    (">", "&gt;"),
    ('"', "&#34;"),
    ("'", "&#39;"),
    ("\t", "&#x9;"),
    ("\n", "&#xA;"),
    ("\r", "&#xD;"),
]


# Go xml.EscapeText additionally replaces runes outside the XML
# character range (isInCharacterRange: \t \n \r, 0x20-0xD7FF,
# 0xE000-0xFFFD, 0x10000-0x10FFFF) with U+FFFD — i.e. the C0 controls
# other than \t\n\r, plus U+FFFE/U+FFFF. Done as one translate() pass
# (no regex) for the BMP singletons.
_XML_INVALID = "".join(
    chr(c)
    for c in [*range(0x00, 0x09), 0x0B, 0x0C, *range(0x0E, 0x20), 0xFFFE, 0xFFFF]
)
_XML_INVALID_REPL = "�" * len(_XML_INVALID)
# Surrogates (U+D800-DFFF) are deliberately ABSENT from the
# expression-side set, with evidence (round 9, ADVICE r08 item 2
# adjudicated): Spark's string domain is UTF8String (UTF-8 bytes), in
# which a lone surrogate exists only as invalid bytes, and every
# route into a java.lang.String — where Go-divergent output could
# form — decodes with REPLACE, yielding the same U+FFFD Go
# xml.EscapeText emits for invalid UTF-8. Nor can a plan manufacture
# one: Spark string expressions are code-point-based (substring
# cannot split an astral pair; chr() masks to a byte) — pinned by
# tests/test_formatters.py::test_xml_surrogates_unreachable_in_plan.
# An unconditional regexp_replace("[\\uD800-\\uDFFF]") here was
# measured at +60% on the escape chain (~7% of export_xml at sf0.1)
# for a class that cannot match — rejected. The Python fidelity twin
# handles surrogates via its jvm_str projection (base.py) — they are
# gone before this table is consulted, so the table carries none.
_XML_INVALID_TABLE = str.maketrans(dict.fromkeys(_XML_INVALID, "�"))


def xml_escape_expr(c: str) -> str:
    """Go xml.EscapeText of the value ``c``, as SQL text."""
    for raw, ent in _XML_ESCAPES:
        c = f"replace({c}, {sql_str(raw)}, {sql_str(ent)})"
    return f"translate({c}, {sql_str(_XML_INVALID)}, {sql_str(_XML_INVALID_REPL)})"


def xml_escape(s: str) -> str:
    # JVM-domain projection first (see formatters/base.jvm_str): an
    # unpaired surrogate is both invalid XML and unrepresentable in a
    # JVM string — it becomes U+FFFD here exactly as it would crossing
    # into a DataFrame, keeping this twin aligned with
    # xml_escape_expr on all Python inputs.
    s = jvm_str(s)
    for raw, ent in _XML_ESCAPES:
        s = s.replace(raw, ent)
    return s.translate(_XML_INVALID_TABLE)


def xml_row_expr(
    cols: list[str],
    tags: list[str],
    row_tag: str = "row",
    escape_safe: set[str] | frozenset[str] = frozenset(),
) -> str:
    """One ``<row>...</row>`` record over the named display columns as
    one SQL expression; NULL cells omit their element (xml.go:113-115):
    its ``concat`` is NULL exactly when the cell is. Each column is
    referenced once, so CollapseProject inlines the display projection
    and an ordered limit plans as one TakeOrderedAndProject job.
    Columns named in ``escape_safe`` skip the 8-entity replace chain —
    their display strings provably contain no escapable characters
    (numeric, boolean, temporal renderings)."""
    parts = [sql_str(f"<{row_tag}>")]
    for c, tag in zip(cols, tags):
        body = sql_name(c) if c in escape_safe else xml_escape_expr(sql_name(c))
        element = f"concat({sql_str(f'<{tag}>')}, {body}, {sql_str(f'</{tag}>')})"
        parts.append(f"coalesce({element}, '')")
    parts.append(sql_str(f"</{row_tag}>"))
    return f"concat({', '.join(parts)})"


# Display strings of these source types are drawn from
# [0-9A-Za-z .:+-] (digits, sign, exponent marker, T/Z separators,
# true/false, NaN/Infinity) — no XML-escapable character can appear,
# so the escape chain is provably a no-op and is elided.
_ESCAPE_SAFE_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
    T.BooleanType,
    T.TimestampType,
    T.TimestampNTZType,
    T.DateType,
)


class XMLFormatter(BaseFormatter):
    def __init__(self, spec=None, *, documents: bool = False):
        super().__init__(spec)
        self.documents = documents

    def _escape_safe(self, source_df: DataFrame) -> frozenset[str]:
        """Columns whose display strings cannot contain escapable
        characters. Conservative: a preprocessor or any custom mapper
        can rewrite display strings arbitrarily, so their presence
        disables elision for the affected columns (preprocessor: all)."""
        spec = self.spec
        if spec.preprocessor is not None:
            return frozenset()
        return frozenset(
            fld.name
            for fld in source_df.schema.fields
            if isinstance(fld.dataType, _ESCAPE_SAFE_TYPES)
            and spec._mapper_for(fld) is None
        )

    def framing(self, df: DataFrame) -> Framing:
        spec = self.spec
        # declaration and root only once a row exists: empty input /
        # limit=0 ⇒ no output at all (xml.go:68-70)
        root = jvm_str(spec.root_tag)  # as the row tag reaches the JVM
        return Framing(
            (_DECLARATION if spec.declaration else "") + f"<{root}>\n",
            "\n",
            f"\n</{root}>\n",
        )

    def records(self, df: DataFrame, partition_by: Sequence[str] = ()) -> DataFrame:
        spec = self.spec
        safe = self._escape_safe(df)
        # hive-style convention: partition columns ride in the
        # directory name, not the row body
        keep = [
            (c, t) for c, t in zip(df.columns, spec.header_names(df)) if c not in partition_by
        ]
        row = xml_row_expr([c for c, _ in keep], [t for _, t in keep], spec.row_tag, safe)
        return spec.compile(df).selectExpr(*map(sql_name, partition_by), f"{row} AS value")

    # -- scale path --------------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        path: str,
        partition_by: list[str] | None = None,
        *,
        _spread: bool = True,
    ) -> None:
        """Distributed part files. Two shapes:

        * default (stream parts): bare ``<row>`` lines via the SAME
          Catalyst row expression as the fidelity path (no two-path
          drift), written by the text writer. The whole row serializes
          inside whole-stage codegen — ~2x faster than the StAX-based
          XML data source at sf0.1 and stable across runs — and parts
          concatenate (with declaration + root wrapper) into one
          document byte-identical to the fidelity stream. Each part
          alone is a fragment, not a well-formed doc.
        * ``documents=True`` on the constructor: the Spark XML data
          source writer — every part is a well-formed document
          (declaration + root), independently parseable by any XML
          tooling and ``spark.read.format("xml")``. Costs ~2x the
          stream path (per-field StAX calls, no codegen).
        """
        if not self.documents:
            return super().write(df, path, partition_by, _spread=_spread)
        spec = self.spec
        df = self._spread_unordered(df, _spread)
        out = spec.compile(df)
        if spec.custom_header is not None:
            out = out.toDF(*spec.header_names(df))
        writer = out.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        (
            writer
            .format("xml")
            .option("rootTag", spec.root_tag)
            .option("rowTag", spec.row_tag)
            # empty string suppresses the <?xml ...?> line — documents
            # mode must honor spec.declaration like every other path
            .option(
                "declaration",
                'version="1.0" encoding="UTF-8"' if spec.declaration else "",
            )
            .save(path)
        )

    def write_single_part(self, df: DataFrame, path: str) -> None:
        """One complete XML document, whatever the sink shape: the row
        stream's part files spliced inside the framing, byte-identical
        to the fidelity stream. No input spread: the contract is ONE
        document whose name-ordered parts reconstruct the input's row
        order (order_by-ranged or unshuffled-source) — the unordered
        round-robin spread would silently permute it."""
        self._write_document(df, path, self.framing(df), path + "._spark_tmp", spread=False)
