"""ExportSpec — the reference's functional-option surface, compiled to
Spark transformations.

Covers (SURVEY.md §2.3): header control (eager/lazy/custom,
codec/csv/csv.go:88-106), delimiter + CRLF (csv.go:74-85), custom NULL
string (csv.go:109-113, html.go:74-78), per-type/-column value mappers
(csv.go:52-63), the row preprocessor/filter hook (csv.go:67-71), and
post-filter LIMIT (csv.go:116-120, applied after the filter hook —
csv.go:170-185 ordering).

Design stance: the declarative members (``filter``, ``limit``,
``formatters``) compile to Catalyst expressions so pushdown/pruning
still work, and the display projection is SQL text applied with one
``selectExpr``; the imperative ``preprocessor`` escape hatch runs as an
Arrow-batched hook over already-stringified rows and is the slow path,
exactly like the reference's per-row Go hook.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from exporter_spark.functions.tostring import display_columns, project, qcol
from exporter_spark.sources.meta import driver_of

# preprocessor: (row_id | None, {col: display_str|None}) -> (dict | None)
# Returning None drops the row — the reference's (nil, false) return
# (codec/csv/csv.go:170-173). row_id is the 1-based *output* row number
# and is only defined when the spec has an ``order_by`` (a distributed
# engine has no inherent row order; the reference is single-threaded).
PreProcessor = Callable[[int | None, dict[str, Any]], dict[str, Any] | None]


@dataclass(frozen=True)
class CellMeta:
    """Expression-level analog of the reference's per-cell
    ``scanner.Metadata{RowID, Driver, Column}``
    (/root/reference/scanner/scanner.go:27-31). Custom mappers receive
    it as their second argument and can fold any part into the
    returned expression.

    ``row_id`` is a Column: the 1-based output row number when the
    spec has an ``order_by`` (the only setting under which a
    distributed engine HAS a row number), NULL otherwise."""

    row_id: Column
    driver: str
    column: T.StructField


# mapper: (value column, CellMeta) -> replacement Column.
# NULL inputs bypass the mapper and render as the codec's null —
# reference toString dispatch, codec/csv/csv.go:195-205 (nil short-
# circuits before the customMapper lookup).
Mapper = Callable[[Column, CellMeta], Column]


@dataclass(frozen=True)
class ExportSpec:
    """Immutable export configuration; ``with_*`` methods mirror the
    reference's functional options."""

    header: bool = True
    header_when_no_data: bool = True
    custom_header: list[str] | None = None
    delimiter: str = ","
    crlf: bool = False
    # None ⇒ each codec's own default (CSV/streaming "", HTML the gray
    # [NULL] span) — mirrors the reference, where every codec carries
    # its own nullValue default and WithCustomNULL overrides it
    # (codec/csv/csv.go:109-113, codec/html/html.go:36,74-78).
    null_value: str | None = None
    limit: int = -1
    filter: Column | str | None = None
    order_by: list[str] | None = None
    preprocessor: PreProcessor | None = None
    formatters: dict[str, Any] = field(default_factory=dict)
    type_formatters: dict[Any, Mapper] = field(default_factory=dict)
    float_mode: str = "java"
    # JSON
    newline_delimited: bool = False
    sort_keys: bool = True  # jsoniter std-compat sorts map keys (json.go:17)
    # duplicate output names: "error" (strict, default) or "collapse"
    # (last-wins — the reference's map-overwrite, json.go:108-110)
    duplicate_columns: str = "error"
    # XML
    root_tag: str = "data"
    row_tag: str = "row"
    declaration: bool = True

    # -- functional options ------------------------------------------------
    def with_header(self, on: bool = True) -> "ExportSpec":
        return replace(self, header=on)

    def with_header_when_no_data(self, on: bool) -> "ExportSpec":
        return replace(self, header_when_no_data=on)

    def with_custom_header(self, names: list[str]) -> "ExportSpec":
        return replace(self, custom_header=list(names))

    def with_delimiter(self, d: str) -> "ExportSpec":
        # encoding/csv validDelim (csv.go hands the rune to
        # csv.Writer.Comma; Write then rejects NUL, '"', CR, LF and
        # anything failing utf8.ValidRune — i.e. surrogate code
        # points and utf8.RuneError — with this exact error). A rune
        # is ONE character by construction — multi-char also can't
        # reach Spark's native csv writer, whose sep is one char — so
        # the fidelity and scale paths stay behavior-identical. The
        # surrogate check matters beyond parity: a lone surrogate
        # degrades to U+FFFD at the JVM boundary, the very RuneError
        # this guard rejects.
        if (
            len(d) != 1
            or d in '\x00"\r\n�'
            or "\ud800" <= d <= "\udfff"
        ):
            raise ValueError("csv: invalid field or comment delimiter")
        return replace(self, delimiter=d)

    def with_crlf(self, on: bool = True) -> "ExportSpec":
        return replace(self, crlf=on)

    def with_null(self, s: str) -> "ExportSpec":
        return replace(self, null_value=s)

    def resolved_null(self, codec_default: str = "") -> str:
        """The NULL rendering this codec should use."""
        return self.null_value if self.null_value is not None else codec_default

    def with_limit(self, n: int) -> "ExportSpec":
        return replace(self, limit=n)

    def with_filter(self, predicate: Column | str) -> "ExportSpec":
        return replace(self, filter=predicate)

    def with_order_by(self, *cols: str) -> "ExportSpec":
        return replace(self, order_by=list(cols))

    def with_preprocessor(self, fn: PreProcessor) -> "ExportSpec":
        return replace(self, preprocessor=fn)

    def with_formatter(self, column: str, expr: "Column | Mapper") -> "ExportSpec":
        """Column-keyed custom mapper: a ready Column expression, or a
        callable ``(value_col, CellMeta) -> Column`` that additionally
        sees RowID/Driver/Column (reference Metadata dispatch,
        codec/csv/csv.go:199-205). Column keys beat type keys."""
        return replace(self, formatters={**self.formatters, column: expr})

    def with_type_formatter(self, dtype: Any, fn: Mapper) -> "ExportSpec":
        """Type-keyed custom mapper — one registration covers every
        column of the type (reference ``WithCustomType``'s
        reflect.Type registry, codec/csv/csv.go:52-63). ``dtype``:
        a DataType class (``T.TimestampType`` — isinstance match), a
        DataType instance (exact match, e.g. ``T.DecimalType(12, 2)``),
        or a simpleString like ``"timestamp"``."""
        return replace(self, type_formatters={**self.type_formatters, dtype: fn})

    def with_newline_delimited(self, on: bool = True) -> "ExportSpec":
        return replace(self, newline_delimited=on)

    def with_duplicate_columns(self, mode: str) -> "ExportSpec":
        if mode not in ("error", "collapse"):
            raise ValueError("duplicate_columns must be 'error' or 'collapse'")
        return replace(self, duplicate_columns=mode)

    def with_float_mode(self, mode: str) -> "ExportSpec":
        if mode not in ("java", "go"):
            raise ValueError("float_mode must be 'java' or 'go'")
        return replace(self, float_mode=mode)

    def with_float_go(self) -> "ExportSpec":
        """Byte-parity floats (strconv.FormatFloat 'f' -1) via the
        Arrow pandas-UDF path — fidelity over codegen speed."""
        return self.with_float_mode("go")

    # -- compilation ---------------------------------------------------------
    def header_names(self, df: DataFrame) -> list[str]:
        if self.custom_header is not None:
            if len(self.custom_header) != len(df.columns):
                raise ValueError(
                    f"custom header has {len(self.custom_header)} names, "
                    f"dataframe has {len(df.columns)} columns"
                )
            return self.custom_header
        return df.columns

    def compile(self, df: DataFrame) -> DataFrame:
        """source df → display-string df with filter → preprocessor →
        post-filter limit applied, in the reference's ordering
        (codec/csv/csv.go:156-188). The result keeps the source's
        column names, in order."""
        return self._compile(df, display=True)

    def compile_raw(self, df: DataFrame) -> DataFrame:
        """Same pipeline but values stay in their native Spark types —
        the JSON codec path, which hands raw values to the serializer
        (codec/json/json.go:108-130) instead of display strings."""
        return self._compile(df, display=False)

    def _compile(self, df: DataFrame, *, display: bool) -> DataFrame:
        # the source's schema describes every stage below: filter and
        # sort keep it, and the RowID column is never an output
        src = df
        if self.filter is not None:
            df = df.filter(self.filter)
        if self.order_by:
            # a string that names an ACTUAL column resolves exactly
            # (backtick-quoted — F.col would parse a dot in the name
            # as struct access and fail); anything else keeps plain
            # parsing so "s.a" struct-field ordering still works
            cols = set(src.columns)
            df = df.orderBy(
                *[
                    qcol(c) if isinstance(c, str) and c in cols else c
                    for c in self.order_by
                ]
            )
        rid, df = self._with_row_id(df)
        resolved = self._resolve_formatters(src, rid)
        if display:
            out = project(
                df,
                display_columns(src, float_mode=self.float_mode, formatters=resolved),
            )
        else:
            out = df
            for name, expr in resolved.items():
                out = out.withColumn(name, expr)
            if rid is not None:
                out = out.drop("__rid__")
        if self.preprocessor is not None:
            out = self._apply_preprocessor(out, schema=None if display else out.schema)
        if self.limit == 0:
            out = out.limit(0)
        elif self.limit > 0:
            out = out.limit(self.limit)
        return out

    def _mapper_for(self, fld: T.StructField) -> "Column | Mapper | None":
        """Column key beats type key; type keys match by class,
        instance equality, or simpleString."""
        if fld.name in self.formatters:
            return self.formatters[fld.name]
        for key, fn in self.type_formatters.items():
            if isinstance(key, str):
                if fld.dataType.simpleString() == key:
                    return fn
            elif isinstance(key, type):
                if isinstance(fld.dataType, key):
                    return fn
            elif fld.dataType == key:
                return fn
        return None

    def _with_row_id(self, df: DataFrame) -> tuple[Column | None, DataFrame]:
        """RowID column for mapper CellMeta: 1-based output row number
        under order_by (same single-window fidelity trick as the
        preprocessor), None (NULL to mappers) otherwise. Only
        materialized when some registered mapper is a callable (can
        observe it)."""
        needs = bool(self.type_formatters) or any(
            not isinstance(v, Column) and callable(v)
            for v in self.formatters.values()
        )
        if needs and self.order_by:
            return F.col("__rid__"), df.selectExpr(
                "*",
                "CAST(row_number() OVER (ORDER BY monotonically_increasing_id()) AS BIGINT)"
                " AS __rid__",
            )
        return None, df

    def _resolve_formatters(
        self, df: DataFrame, rid: Column | None = None
    ) -> dict[str, Column]:
        """Each mapped column's mapper result, as a Column; ``rid`` is
        the RowID mappers see (None: NULL)."""
        resolved: dict[str, Column] = {}
        drv = driver_of(df)
        for fld in df.schema.fields:
            m = self._mapper_for(fld)
            if m is None:
                continue
            if isinstance(m, Column):
                resolved[fld.name] = m
            else:
                if rid is None:
                    rid = F.lit(None).cast("long")
                meta = CellMeta(row_id=rid, driver=drv, column=fld)
                # qcol: positional df[i] still parses the name
                col = qcol(fld.name)
                # nil never reaches reference mappers (csv.go:195-198)
                resolved[fld.name] = F.when(col.isNull(), F.lit(None)).otherwise(
                    m(col, meta)
                )
        return resolved

    def _apply_preprocessor(
        self, df: DataFrame, schema: T.StructType | None = None
    ) -> DataFrame:
        fn = self.preprocessor
        cols = df.columns
        if schema is None:
            schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])
        ordered = bool(self.order_by)

        if ordered:
            # Deterministic 1-based output row ids. monotonically
            # increasing ids respect the just-established global sort,
            # so numbering by them reproduces it; the single window
            # partition makes this the ordered/correctness path only —
            # the distributed path runs with row_id=None.
            w_df = df.selectExpr(
                "*", "row_number() OVER (ORDER BY monotonically_increasing_id()) AS __rid__"
            )
        else:
            w_df = df.selectExpr("*", "CAST(NULL AS BIGINT) AS __rid__")

        def run(iterator):
            for pdf in iterator:
                kept = []
                for rec in pdf.to_dict("records"):
                    rid = rec.pop("__rid__", None)
                    rid = int(rid) if rid is not None and rid == rid else None
                    res = fn(rid, rec)
                    if res is not None:
                        kept.append({c: res.get(c) for c in cols})
                import pandas as pd

                yield pd.DataFrame(kept, columns=cols) if kept else pd.DataFrame(
                    {c: pd.Series(dtype="object") for c in cols}
                )

        return w_df.mapInPandas(run, schema)
