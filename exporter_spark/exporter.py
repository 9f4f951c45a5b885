"""Exporter — the top-level pairing of a DataFrame source with a
formatter, mirroring /root/reference/exporter.go:17-48 (``New`` +
``Write`` + ``WriteFile``) on Spark.

    from exporter_spark import Exporter, ExportSpec
    from exporter_spark.formatters.csv import CSVFormatter

    Exporter(df, CSVFormatter(ExportSpec().with_limit(100))).write_file("/tmp/out.csv")
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from exporter_spark.formatters.base import BaseFormatter
from exporter_spark.formatters.columnar import ORCFormatter, ParquetFormatter
from exporter_spark.formatters.csv import CSVFormatter
from exporter_spark.formatters.html import HTMLFormatter
from exporter_spark.formatters.json import JSONFormatter
from exporter_spark.formatters.xml import XMLFormatter
from exporter_spark.plans.spec import ExportSpec

_FORMATTERS = {
    "csv": CSVFormatter,
    "json": JSONFormatter,
    "xml": XMLFormatter,
    "html": HTMLFormatter,
    # beyond the reference's text codecs: the columnar formats the
    # next pipeline stage actually reads (typed values, compile_raw)
    "parquet": ParquetFormatter,
    "orc": ORCFormatter,
}


def formatter(kind: str, spec: ExportSpec | None = None) -> BaseFormatter:
    """Factory matching codec.CSV()/JSON()/XML()/HTML()
    (/root/reference/codec/codec.go:24-44)."""
    try:
        return _FORMATTERS[kind](spec)
    except KeyError:
        raise ValueError(f"unknown format {kind!r}; one of {sorted(_FORMATTERS)}")


class Exporter:
    def __init__(self, df: DataFrame, fmt: BaseFormatter | str, spec: ExportSpec | None = None):
        self.df = df
        if isinstance(fmt, str):
            self.formatter = formatter(fmt, spec)
        else:
            if spec is not None and spec is not fmt.spec:
                # silently ignoring the spec would export with the
                # formatter's own settings while the caller believes
                # theirs applied (limits/filters dropped = wrong data)
                raise ValueError(
                    "pass the spec through the formatter instance"
                    " (Formatter(spec)) or use a format name string"
                )
            self.formatter = fmt

    def write_string(self) -> str:
        """Single ordered byte stream — exporter.Write(w) analog."""
        return self.formatter.format_string(self.df)

    def write_file(self, path: str) -> None:
        """Single-file output — exporter.WriteFile analog."""
        self.formatter.write_single_file(self.df, path)

    def write(self, path: str, partition_by: list[str] | None = None) -> None:
        """Distributed part-file output — the scale path. Optional
        hive-style directory partitioning (partition_by) for
        downstream partition pruning."""
        self.formatter.write(self.df, path, partition_by=partition_by)

    def write_single_part(self, path: str) -> None:
        """One output file, formatted executor-side."""
        self.formatter.write_single_part(self.df, path)
