"""CSV formatter — parity target /root/reference/codec/csv/csv.go.

Option surface (SURVEY.md §2.2 K1): delimiter, CRLF, header on/off,
custom header, header-when-no-data (eager vs lazy), custom NULL
string, per-column formatters, filter hook, post-filter limit.

Scale path: the display-string projection plus ``df.write.csv`` — the
whole pipeline (format expressions included) stays inside whole-stage
codegen and writes partition-parallel part files.

Record: Go ``encoding/csv`` quoting re-implemented exactly (quotes
when the field contains the delimiter, a quote, CR/LF, or *begins with
any unicode.IsSpace rune* — the leading-whitespace rule is a Go quirk
Python's csv module does not share).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame

from exporter_spark.formatters.base import BaseFormatter, Framing, jvm_str, sql_name, sql_str

# Go unicode.IsSpace set (encoding/csv fieldNeedsQuotes quotes a field
# whose FIRST rune is any of these — not just space/tab):
# Latin-1 fast path + the Unicode White_Space ranges.
GO_SPACE_CHARS = (
    "\t\n\v\f\r \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)


_QUOTED_MATCH = sql_str('"$0"')


def csv_field_expr(c: str, delimiter: str, null_value: str) -> str:
    """Go encoding/csv field quoting as SQL text over the value ``c``
    (the exact rule set of _go_csv_field below, but JVM-side). NULL
    cells become the configured null string first, then quote like
    any field — matching the reference (csv.go:196-210).

    ``c`` is referenced once, so CollapseProject inlines the display
    projection and an ordered limit plans as one TakeOrderedAndProject
    job (a second reference keeps both Projects: 3–4 jobs under
    CollectLimit). Hence quote-doubling, then one whole-field regex."""
    # written as \x{..}, a delimiter that is a regex metacharacter stays literal
    esc = "".join(f"\\x{{{ord(ch):x}}}" for ch in delimiter + '"\r\n')
    ws = "".join(f"\\x{{{ord(ch):x}}}" for ch in GO_SPACE_CHARS)
    s = f"replace(coalesce({c}, {sql_str(null_value)}), '\"', '\"\"')"
    rule = rf"(?s)\A(?:[{ws}].*|\\\.|[^{esc}]*+[{esc}].*)\z"
    return f"regexp_replace({s}, {sql_str(rule)}, {_QUOTED_MATCH})"


def csv_line_expr(cols: list[str], delimiter: str, null_value: str) -> str:
    """One CSV record (no line terminator) over the named columns, as
    one SQL expression."""
    fields = [csv_field_expr(sql_name(c), delimiter, null_value) for c in cols]
    return f"concat_ws({', '.join([sql_str(delimiter), *fields])})"


def _go_csv_field(s: str, delimiter: str) -> str:
    # JVM-domain projection (formatters/base.jvm_str): unpaired
    # surrogates become U+FFFD exactly as they would crossing into a
    # DataFrame, keeping this twin byte-identical to csv_field_expr
    # on ALL Python inputs, not just boundary-representable ones.
    s = jvm_str(s)
    if s == r"\.":  # encoding/csv special-cases a lone `\.`
        return '"\\."'
    needs = (
        delimiter in s
        or '"' in s
        or "\r" in s
        or "\n" in s
        or (s[:1] and s[0] in GO_SPACE_CHARS)
    )
    if not needs:
        return s
    return '"' + s.replace('"', '""') + '"'


def csv_writer_options(spec) -> dict[str, str]:
    """The option set of Spark's CSV writer, for the batch
    ``DataFrameWriter`` and the streaming ``DataStreamWriter`` alike."""
    return {
        "header": str(spec.header).lower(),
        "sep": spec.delimiter,
        "nullValue": spec.resolved_null(""),
        "emptyValue": "",
        # escape = quote char ⇒ RFC-4180 quote doubling, matching Go
        # encoding/csv and our fidelity path (Spark's default
        # backslash-escape would write "\"" instead of "\"\"")
        "quote": '"',
        "escape": '"',
        # Spark's WRITE defaults trim unquoted fields — that is silent
        # data corruption, never acceptable
        "ignoreLeadingWhiteSpace": "false",
        "ignoreTrailingWhiteSpace": "false",
        "lineSep": "\r\n" if spec.crlf else "\n",
    }


class CSVFormatter(BaseFormatter):
    def __init__(self, spec=None, *, go_quoting: bool = False):
        super().__init__(spec)
        self.go_quoting = go_quoting

    def framing(self, df: DataFrame) -> Framing:
        spec = self.spec
        end, d = "\r\n" if spec.crlf else "\n", spec.delimiter
        header = ""
        if spec.header:
            header = d.join(_go_csv_field(c, d) for c in spec.header_names(df)) + end
        # eager header (codec/csv/csv.go:147-151), or lazy: only once a
        # surviving row exists (:175-179)
        return Framing(header, end, end, header if spec.header_when_no_data else "")

    def records(self, df: DataFrame, partition_by: Sequence[str] = ()) -> DataFrame:
        # record strings are assembled JVM-side (codegen) — the driver
        # only concatenates; quoting parity with Go encoding/csv is in
        # csv_field_expr / _go_csv_field (same rules, two dialects)
        spec = self.spec
        cols = [c for c in df.columns if c not in partition_by]
        line = csv_line_expr(cols, spec.delimiter, spec.resolved_null(""))
        return spec.compile(df).selectExpr(*map(sql_name, partition_by), f"{line} AS value")

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

        * default: the native CSV writer — header-per-part, readable
          by ``spark.read.csv``. Whitespace trimming is DISABLED
          (Spark's write default silently strips leading/trailing
          whitespace from unquoted fields — data corruption, not
          formatting). Quoting is RFC-4180 quote-doubling; Go's two
          extra quote triggers (leading IsSpace rune, lone ``\\.``)
          do not fire here, so bytes can differ from the fidelity
          stream on such fields while VALUES round-trip identically.
        * ``go_quoting=True`` on the constructor: bare records via the
          SAME ``csv_line_expr`` as the fidelity path through the text
          writer — byte-identical records including the Go quoting
          quirks; parts carry no header (splice one in on assembly, as
          write_single_part cannot — use the default path when
          per-part headers matter)."""
        if self.go_quoting:
            return super().write(df, path, partition_by, _spread=_spread)
        spec = self.spec
        df = self._spread_unordered(df, _spread)
        out = spec.compile(df)
        if spec.custom_header is not None:
            out = out.toDF(*spec.header_names(df))
        writer = out.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.options(**csv_writer_options(spec)).csv(path)
