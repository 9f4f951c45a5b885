"""HTML table formatter — parity target /root/reference/codec/html/html.go.

Emits a standalone HTML document: styled ``<table>`` with a sticky
header showing each column's name and lowercase type
(html.go:104-109), display-string cells, and NULL rendered as a gray
``[NULL]`` span (html.go:36). Like the reference, cell values are NOT
HTML-escaped (html.go:160) — documented quirk, kept for parity.

The template below is our own; it reproduces the reference's
*structure* (doc skeleton, sticky thead, name+type header cells, null
span), not its bytes.

Record: each ``<tr>`` is a single Catalyst concat expression
(JVM-side). Scale path writes the ``<tr>`` strings as text part files
plus ``_header.html`` / ``_footer.html`` companions so a downstream cat
can assemble the document without re-reading data.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from exporter_spark import fsio
from exporter_spark.formatters.base import BaseFormatter, Framing, qcol, splice_document

NULL_SPAN = '<span style="color:#aaaaaa;">[NULL]</span>'

_STYLE = """\
<style>
body { margin: 0; font-family: -apple-system, 'Segoe UI', Roboto, sans-serif; }
table { border-collapse: collapse; width: 100%; }
thead th { position: sticky; top: 0; background: #f4f4f4;
  border-bottom: 2px solid #ccc; padding: 6px 10px; text-align: left; }
thead small { color: #888; font-weight: normal; }
td { border-bottom: 1px solid #eee; padding: 4px 10px; white-space: nowrap; }
tr:hover td { background: #fafafa; }
</style>
"""


def html_row_expr(cols: list[str], null_s: str = NULL_SPAN) -> Column:
    """One ``<tr>`` per row as a single Catalyst concat over display
    strings (codec/html/html.go:126-168 parity): each cell is
    ``<td>value</td>`` with NULL rendered as ``null_s`` (the gray
    span by default — html.go:36,176-180) and values NOT HTML-escaped
    (html.go:160, the documented parity quirk). Module-level twin of
    csv.csv_line_expr / xml.xml_row_expr so the record semantics are
    oracle-checkable independent of the document framing. Like those
    two, it references each column once (see csv_field_expr), so an
    ordered limit plans as one TakeOrderedAndProject job."""
    parts: list[Column] = [F.lit("<tr>")]
    for c in cols:
        parts.append(F.lit("<td>"))
        parts.append(F.coalesce(qcol(c), F.lit(null_s)))
        parts.append(F.lit("</td>"))
    parts.append(F.lit("</tr>"))
    return F.concat(*parts)


class HTMLFormatter(BaseFormatter):
    def _head(self, df: DataFrame) -> str:
        """Document skeleton; the <thead> block only when the spec asks
        for a header (reference honors writeHeader — html.go:146-151;
        the skeleton itself is always needed for a standalone doc)."""
        thead = ""
        if self.spec.header:
            types = [f.dataType.simpleString() for f in df.schema.fields]
            cells = "".join(
                f"<th>{n}<br/><small>{t.lower()}</small></th>"
                for n, t in zip(self.spec.header_names(df), types)
            )
            thead = "<thead>\n<tr>" + cells + "</tr>\n</thead>\n"
        return (
            "<!DOCTYPE html>\n<html>\n<head>\n<meta charset=\"utf-8\"/>\n"
            + _STYLE
            + "</head>\n<body>\n<table>\n"
            + thead
            + "<tbody>\n"
        )

    _FOOT = "</tbody>\n</table>\n</body>\n</html>\n"

    def _framing(self, head: str, foot: str) -> Framing:
        # the skeleton is eager by default; lazy header
        # (with_header_when_no_data(False), html.go:146-157): zero data
        # rows ⇒ empty output with no document skeleton
        return Framing(
            head, "\n", "\n" + foot, head + foot if self.spec.header_when_no_data else ""
        )

    def framing(self, df: DataFrame) -> Framing:
        return self._framing(self._head(df), self._FOOT)

    def records(self, df: DataFrame, partition_by: Sequence[str] = ()) -> DataFrame:
        if partition_by:
            raise ValueError("HTML sink does not support partitioned layout")
        out = self.spec.compile(df)
        # WithCustomNULL (html.go:74-78); default is the gray span
        null_s = self.spec.resolved_null(NULL_SPAN)
        return out.select(html_row_expr(out.columns, null_s).alias("value"))

    # -- scale path --------------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        path: str,
        partition_by: list[str] | None = None,
        *,
        _spread: bool = True,
    ) -> None:
        super().write(df, path, partition_by, _spread=_spread)
        # sidecars via the Hadoop FS API — lands next to the parts on
        # any scheme (file:, hdfs:, s3a:), not just the driver's disk
        spark = df.sparkSession
        fsio.write_text(f"{path}/_header.html", self._head(df), spark)
        fsio.write_text(f"{path}/_footer.html", self._FOOT, spark)

    def write_single_part(self, df: DataFrame, path: str) -> None:
        """One complete HTML DOCUMENT: the rows' part files spliced
        inside the skeleton, honoring the lazy-header empty rule. No
        input spread, so name-ordered parts keep the input's row
        order."""
        self._write_document(df, path, self.framing(df), path + "._spark_tmp", spread=False)

    def assemble(self, parts_dir: str, out_file: str, spark=None) -> None:
        """Splice a ``write`` directory into one document without
        re-reading the data: the sidecars are its prologue and
        epilogue, and the spec's lazy-header rule decides an empty
        result."""
        head = fsio.read_text(f"{parts_dir}/_header.html", spark)
        foot = fsio.read_text(f"{parts_dir}/_footer.html", spark)
        splice_document(parts_dir, out_file, self._framing(head, foot), spark)
