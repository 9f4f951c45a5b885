"""Formatter protocol — the Spark analog of codec.Codec
(/root/reference/codec/codec.go:18-20).

A text format describes itself once: a ``Framing``, the bytes around
and between its records, which covers every rule of the reference's
codecs (eager or lazy csv header and HTML skeleton, ndjson lines, the
JSON array with nothing at all for no rows, XML's root written only
once a row exists); and a record per row, a Catalyst ``Column`` over
the spec's projection (``records``; JSON's fidelity stream renders in
Python instead, ``stream_rows``). Two drivers consume it:

* the fidelity stream (``iter_chunks``, behind ``format_string`` and
  ``write_single_file``): one ordered byte stream identical to what the
  reference's io.Writer would receive. The driver holds one partition
  at a time, but it is a single-stream concentration point — golden
  files, oracle comparison and small exports only.
* the part-file driver (``write``, ``splice_document``): executors
  write the records as text part files, partition columns in the
  directory name; one document is those parts spliced JVM-side by
  ``fsio.splice_parts`` inside the framing.

Spark's native writers take ``write`` over where their bytes serve
(csv, ndjson, XML ``documents``, columnar).
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass
from operator import itemgetter
from typing import Callable, Iterator, Protocol, Sequence

from pyspark.sql import DataFrame, Row

from exporter_spark import fsio, planinfo
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


@dataclass(frozen=True)
class Framing:
    """A document with records is ``prologue + sep.join(records) +
    epilogue``; a document with no records is ``empty``."""

    prologue: str
    sep: str
    epilogue: str
    empty: str = ""


def splice_document(parts_dir: str, out_path: str, framing: Framing, spark=None) -> None:
    """One document from a directory of record part files, through the
    Hadoop FS API (part bytes never transit Python; any scheme).
    Name-ordered parts preserve a global order_by's range partitioning.
    The last part's final ``sep`` makes way for the epilogue."""
    fsio.splice_parts(
        parts_dir,
        out_path,
        prefix=framing.prologue,
        suffix=framing.epilogue,
        drop_last_bytes=len(framing.sep.encode("utf-8")),
        spark=spark,
    )
    # splice_parts writes nothing when no part holds a record
    if framing.empty and not fsio.file_len(out_path, spark):
        fsio.write_text(out_path, framing.empty, spark)


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

    # -- the format's description -----------------------------------------------
    def framing(self, df: DataFrame) -> Framing:
        raise NotImplementedError(
            f"{type(self).__name__} has no single-stream text mode;"
            " use write()/write_single_part()"
        )

    def records(self, df: DataFrame, partition_by: Sequence[str] = ()) -> DataFrame:
        """The partition columns, then each row's record as ``value``."""
        raise NotImplementedError

    def stream_rows(self, df: DataFrame) -> tuple[DataFrame, Callable[[Row], str]]:
        """The fidelity stream's rows and each one's record."""
        return self.records(df), itemgetter(0)

    # -- fidelity path -------------------------------------------------------
    def iter_chunks(self, df: DataFrame) -> Iterator[str]:
        framing = self.framing(df)
        rows, render = self.stream_rows(df)
        lead, wrote = framing.prologue, False
        for row in rows.toLocalIterator():
            yield lead + render(row)
            lead, wrote = framing.sep, True
        yield framing.epilogue if wrote else framing.empty

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
    ) -> None:
        """Distributed part files of the records. Keyword-only
        ``_spread=False`` (forwarded to ``_spread_unordered``) lets
        ``write_single_part`` disable the unordered-input spread
        without mutating shared instance state."""
        self._write_records(df, path, self.framing(df).sep, partition_by, spread=_spread)

    def _write_records(
        self,
        df: DataFrame,
        path: str,
        sep: str,
        partition_by: list[str] | None = None,
        *,
        spread: bool,
    ) -> None:
        """Text part files: every record followed by ``sep``. Hive-style
        convention: partition columns ride in the directory name, not
        the record (matches the native writers' partitionBy behavior)."""
        records = self.records(self._spread_unordered(df, spread), partition_by or ())
        writer = records.write.mode("overwrite").option("lineSep", sep)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.text(path)

    def write_single_part(self, df: DataFrame, path: str) -> None:
        """One output FILE via the distributed writer: coalesce(1),
        write, promote the lone part file to ``path``. Executor-side
        formatting (unlike the driver-streaming fidelity path), but
        single-task — use for modest outputs that must be one file.
        All IO through the Hadoop FS API, so scheme-qualified paths
        (file:, hdfs:, s3a:) work — driver-local glob would silently
        find nothing there."""
        # _spread=False: the coalesce(1) IS the contract here — the
        # unordered-input spread in the concrete write() would undo it
        # (explicit parameter since r18; the previous mutable
        # _spread_off instance flag raced under concurrent writes)
        with _scratch(df, path + "._spark_tmp") as tmp:
            self.write(df.coalesce(1), tmp, _spread=False)
            fsio.splice_parts(tmp, path, spark=df.sparkSession)

    def _write_document(
        self, df: DataFrame, path: str, framing: Framing, tmp: str, *, spread: bool
    ) -> None:
        """One document through the part-file driver."""
        with _scratch(df, tmp):
            self._write_records(df, tmp, framing.sep, spread=spread)
            splice_document(tmp, path, framing, df.sparkSession)


@contextmanager
def _scratch(df: DataFrame, tmp: str) -> Iterator[str]:
    """``tmp`` for the block, deleted afterwards: a failed distributed
    write (a NaN double raises in json_line_expr) must not leak it."""
    try:
        yield tmp
    finally:
        fs, jpath = fsio._fs_path(df.sparkSession, tmp)
        fs.delete(jpath, True)
