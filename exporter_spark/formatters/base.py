"""Formatter protocol — the Spark analog of codec.Codec
(/root/reference/codec/codec.go:18-20).

Every formatter has two execution paths:

* ``write(df, path)`` — the scale path: distributed part-files via
  Spark's native writers (or partition-parallel text for HTML). This
  is what runs on a 1000-executor cluster; no driver funneling.
* ``format_string(df)`` / ``write_single_file(df, path)`` — the
  fidelity path: one ordered byte stream identical to what the
  reference's io.Writer would receive. Streams through
  ``toLocalIterator()`` so the driver holds one partition at a time,
  but it is inherently a single-stream concentration point — used for
  golden-file tests, oracle comparison, and small exports only.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Protocol

from pyspark.sql import DataFrame

from exporter_spark import planinfo
from exporter_spark.plans.spec import ExportSpec


from exporter_spark.functions.tostring import qcol  # noqa: F401  (re-export:
# every formatter record expression resolves literal column names
# through qcol — see its docstring in functions/tostring.py)


def jvm_str(s: str) -> str:
    """Project a Python string onto the JVM string domain — what the
    same value looks like after crossing into a DataFrame.

    CPython strings may carry surrogate CODE POINTS (U+D800-DFFF);
    JVM/Arrow strings cannot receive them — the transfer encodes each
    Python code point to UTF-8, where every surrogate (even a
    high+low sequence that would pair in UTF-16) is individually
    unencodable and becomes its own U+FFFD. Measured against the real
    boundary in the round-8 fuzz: '\\ud800\\udfff' arrives as TWO
    replacement chars, never the combined astral char — so the
    projection is strictly per-code-point, no pairing. Go strings
    (the parity target) can't hold surrogates either (invalid
    UTF-8). The Python formatter twins run BEFORE any JVM boundary
    (headers, fidelity-stream assembly); without this projection they
    diverge from their Catalyst-expression counterparts on inputs the
    pipeline can never actually carry. No-op for any string that ever
    crossed the boundary."""
    if any("\ud800" <= ch <= "\udfff" for ch in s):
        return "".join(
            "�" if "\ud800" <= ch <= "\udfff" else ch for ch in s
        )
    return s


class Formatter(Protocol):
    spec: ExportSpec

    def write(
        self, df: DataFrame, path: str, partition_by: list[str] | None = None
    ) -> None: ...

    def iter_chunks(self, df: DataFrame) -> Iterator[str]: ...


class BaseFormatter:
    def __init__(self, spec: ExportSpec | None = None):
        self.spec = spec or ExportSpec()

    # -- input parallelism -----------------------------------------------------

    def _spread_unordered(self, df: DataFrame, enabled: bool = True) -> DataFrame:
        """Scale-adaptive input parallelism for the distributed write
        paths. A one-row-group parquet input is an unsplittable
        single-partition scan, so the whole render + serialize + write
        otherwise runs as ONE task no matter how many executors exist.
        Round-robin spread applies ONLY when the spec defines no
        global row order or count — ``order_by`` establishes its own
        range partitioning, and ``limit``/``preprocessor`` semantics
        are coupled to a single global order — and the cross-part row
        order of an unordered distributed write is unspecified either
        way (the dual-path byte-parity contract holds under
        ``order_by``, where this is a no-op). Pass-through whenever
        the input already has >= default-parallelism partitions (any
        real corpus), so production plans are unchanged.

        Two further gates (r18, ADVICE r17): ``enabled=False`` is the
        explicit single-part opt-out (``write_single_part`` passes it
        through ``write(..., _spread=False)`` — its coalesce(1) IS the
        contract; a parameter, not instance state, so concurrent
        writes on one formatter cannot race a toggle), and the spread
        only applies to SCAN-LEVEL plans (``planinfo.scan_level``): an
        exchange-bearing input is already multi-partition at scale,
        and spread()'s partition probe would otherwise eagerly execute
        the upstream shuffle stages once per export on top of the
        write's own execution.

        NEW ExportSpec fields that imply a global row order or count
        MUST be added to the guard below — the classification is
        pinned by tests/test_export_contracts.py::
        test_every_spec_field_is_order_classified, which fails on any
        unclassified field."""
        spec = self.spec
        if (
            not enabled
            or spec.order_by
            or spec.limit >= 0
            or spec.preprocessor is not None
            or df.isStreaming
            or not planinfo.scan_level(df)
        ):
            return df
        from exporter_spark.operators.partitioning import spread

        return spread(df)

    # -- fidelity path -------------------------------------------------------
    def iter_chunks(self, df: DataFrame) -> Iterator[str]:  # pragma: no cover
        raise NotImplementedError

    def format_string(self, df: DataFrame) -> str:
        return "".join(self.iter_chunks(df))

    def write_single_file(self, df: DataFrame, path: str) -> None:
        with open(path, "w", encoding="utf-8", newline="") as fh:
            for chunk in self.iter_chunks(df):
                fh.write(chunk)

    # -- scale path ------------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        path: str,
        partition_by: list[str] | None = None,
        *,
        _spread: bool = True,
    ) -> None:  # pragma: no cover
        """Concrete formatters accept keyword-only ``_spread=False``
        (forwarded to ``_spread_unordered``) so ``write_single_part``
        can disable the unordered-input spread without mutating shared
        instance state."""
        raise NotImplementedError

    def write_single_part(self, df: DataFrame, path: str) -> None:
        """One output FILE via the distributed writer: coalesce(1),
        write, promote the lone part file to ``path``. Executor-side
        formatting (unlike the driver-streaming fidelity path), but
        single-task — use for modest outputs that must be one file.
        All IO through the Hadoop FS API, so scheme-qualified paths
        (file:, hdfs:, s3a:) work — driver-local glob would silently
        find nothing there."""
        from exporter_spark import fsio

        spark = df.sparkSession
        tmp = path + "._spark_tmp"
        try:
            # _spread=False: the coalesce(1) IS the contract here — the
            # unordered-input spread in the concrete write() would undo
            # it (explicit parameter since r18; the previous mutable
            # _spread_off instance flag raced under concurrent writes)
            self.write(df.coalesce(1), tmp, _spread=False)
            fsio.splice_parts(tmp, path, spark=spark)
        finally:
            fs, jpath = fsio._fs_path(spark, tmp)
            fs.delete(jpath, True)
