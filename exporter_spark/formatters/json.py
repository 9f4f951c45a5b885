"""JSON formatter — parity target /root/reference/codec/json/json.go.

Two framings (SURVEY.md §2.2 K2):
  * NDJSON (``with_newline_delimited(True)``) — one object per line.
    Scale path is Spark's native JSON writer (Spark JSON *is* NDJSON).
  * JSON array — ``[`` emitted with the first row, ``,\n`` separators,
    ``]\n`` close; an empty result emits NOTHING (not ``[]``) —
    json.go:94-98,135-147.

Key order is alphabetical (jsoniter std-compat marshals maps with
sorted keys, json.go:17); values are RAW (nested structures stay
structural, json.go:108-130), except timestamps which marshal as
RFC3339Nano (Go's time.Time MarshalJSON) and floats which marshal
with Go's shortest-round-trip rules.
"""

from __future__ import annotations

import datetime as dt
import json
import math
from typing import Callable, Sequence

from pyspark.sql import DataFrame, Row
from pyspark.sql import types as T

from exporter_spark.formatters.base import BaseFormatter, Framing, sql_name, sql_str
from exporter_spark.functions.tostring import _go_fixed_repr, _rfc3339nano, go_float_for

# empty result ⇒ empty output, not "[]" (json.go:94-98)
_NDJSON = Framing("", "\n", "\n")
_ARRAY = Framing("[\n", ",\n", "\n]\n")


def _rfc3339nano_py(v: dt.datetime) -> str:
    """Fallback for temporals NESTED inside arrays/structs (top-level
    timestamp columns are rendered JVM-side before collection, so the
    driver's OS timezone never touches them). Aware datetimes are
    converted to UTC; naive ones are trusted to already be UTC (the
    engine session runs with spark.sql.session.timeZone=UTC)."""
    if v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    s = v.strftime("%Y-%m-%dT%H:%M:%S")
    if v.microsecond:
        s += (".%06d" % v.microsecond).rstrip("0")
    return s + "Z"


def _json_token(v) -> str:
    """Serialize one value as Go's encoding/json would (compact)."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            raise ValueError("json: unsupported value: " + repr(v))
        return _go_fixed_repr(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, str):
        return json.dumps(v, ensure_ascii=False)
    if isinstance(v, (bytes, bytearray)):
        import base64

        return '"' + base64.b64encode(bytes(v)).decode() + '"'  # Go []byte → base64
    if isinstance(v, dt.datetime):
        return '"' + _rfc3339nano_py(v) + '"'
    if isinstance(v, dt.date):
        return '"' + v.isoformat() + '"'
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_json_token(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted(v.items(), key=lambda kv: str(kv[0]))
        return (
            "{"
            + ",".join(
                json.dumps(str(k), ensure_ascii=False) + ":" + _json_token(x)
                for k, x in items
            )
            + "}"
        )
    if hasattr(v, "asDict"):  # pyspark Row
        return _json_token(v.asDict(recursive=False))
    return json.dumps(str(v), ensure_ascii=False)


# Nested timestamps keep full microsecond precision (the default
# format truncates to milliseconds — silent data loss, not just
# rendering drift); NULL struct fields / map values stay.
_NESTED_JSON_OPTIONS = {
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'",
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "ignoreNullFields": "false",
}


def _quoted_escaped(c: str) -> str:
    """``c`` as a Jackson-escaped JSON string token, with the
    uppercase-hex control escapes Jackson emits folded to the fidelity
    serializer's lowercase."""
    j = f"to_json(array({c}))"  # ["escaped"] — strip the brackets
    j = f"substr({j}, 2, (length({j}) - 2))"
    # Jackson writes \\u-escaped control chars with UPPERCASE hex;
    # the fidelity path's json.dumps writes lowercase. Only nine
    # sequences can differ (\\b \\t \\n \\f \\r have short forms).
    # A blind substring replace would also down-case literal text
    # like "\\u000B" (whose backslash Jackson doubles), so first
    # hide escaped-backslash pairs behind a sentinel: Jackson
    # output contains no RAW control characters (they are all
    # escaped), making \\x01 a collision-free choice. Gated on a
    # cheap contains() probe — real text almost never carries raw
    # control characters, so the fold chain almost never runs.
    sentinel, pair = sql_str("\x01"), sql_str("\\\\")
    folded = f"replace({j}, {pair}, {sentinel})"
    for seq in ("000B", "000E", "000F", "001A", "001B", "001C", "001D", "001E", "001F"):
        upper, lower = sql_str("\\u" + seq), sql_str("\\u" + seq.lower())
        folded = f"replace({folded}, {upper}, {lower})"
    folded = f"replace({folded}, {sentinel}, {pair})"
    probe = sql_str("\\u00")
    return f"CASE WHEN contains({j}, {probe}) THEN {folded} ELSE {j} END"


def _json_fragment(c: str, dt: T.DataType, go_float: str | None) -> str:
    """Raw JSON token for the value ``c`` as SQL text, matching
    ``_json_token``'s rendering (the fidelity serializer): Go-style
    shortest floats ("11", not "11.0") via the go-float renderer named
    ``go_float``, RFC3339Nano timestamps, Jackson-escaped strings
    (``_quoted_escaped``, so escaping stays JVM-side). Nested
    arrays/structs render via ``to_json`` with NULL fields preserved
    (``ignoreNullFields`` is false, matching the NDJSON writer path)
    and full-microsecond timestamps; three documented divergences from
    the fidelity serializer remain inside nested values: map keys keep
    their stored order (``_json_token`` sorts them), floats render
    Jackson-style ("11.0") rather than Go-style ("11"), and timestamp
    fractions are zero-padded to six digits rather than zero-trimmed.
    Top-level columns are exact; callers needing byte parity on nested
    float/timestamp values should use the fidelity path."""
    if isinstance(dt, (T.StringType, T.BinaryType)):
        frag = _quoted_escaped(c)
    elif isinstance(dt, T.BooleanType):
        frag = f"CASE WHEN {c} THEN 'true' ELSE 'false' END"
    elif isinstance(dt, (T.FloatType, T.DoubleType)):
        # NaN/Inf: Go's encoding/json errors — so does the fidelity
        # serializer; the distributed twin must fail loudly too, not
        # silently emit an unparseable bare NaN token
        d = f"CAST({c} AS DOUBLE)"
        frag = (
            f"CASE WHEN (isnan({d}) OR (abs({d}) = CAST('Infinity' AS DOUBLE)))"
            f" THEN raise_error('json: unsupported value: NaN/Inf') ELSE {go_float}({d}) END"
        )
    elif isinstance(dt, T.TimestampType):
        frag = f"concat('\"', {_rfc3339nano(c)}, '\"')"
    elif isinstance(dt, T.TimestampNTZType):
        # naive timestamps are trusted UTC (engine contract), matching
        # _rfc3339nano_py's rendering of naive datetimes
        frag = f"concat('\"', replace(CAST({c} AS STRING), ' ', 'T'), 'Z\"')"
    elif isinstance(dt, T.DateType):
        frag = f"concat('\"', date_format({c}, 'yyyy-MM-dd'), '\"')"
    elif isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        frag = f"CAST({c} AS STRING)"
    elif isinstance(dt, (T.ArrayType, T.StructType, T.MapType)):
        options = ", ".join(f"'{k}', {sql_str(v)}" for k, v in _NESTED_JSON_OPTIONS.items())
        frag = f"to_json({c}, map({options}))"
    else:
        # every other scalar (Decimal included) mirrors _json_token's
        # fallthrough: the value's string form as a QUOTED JSON string
        # (a bare to_json on a scalar column would not even plan)
        frag = _quoted_escaped(f"CAST({c} AS STRING)")
    return f"CASE WHEN ({c} IS NULL) THEN 'null' ELSE {frag} END"


def json_line_expr(schema: T.StructType, cols: list[str], go_float: str | None) -> str:
    """One NDJSON object per row as one SQL expression — the
    executor-side twin of ``JSONFormatter.stream_rows`` (same bytes,
    serialized in parallel instead of on the driver). ``go_float`` is
    ``go_float_for`` the frame: the float kernel's name, or None when
    it has no float column."""
    by_name = {f.name: f.dataType for f in schema.fields}
    if not cols:
        return "'{}'"  # the '{' prefix below rides the first column
    parts = []
    for i, c in enumerate(cols):
        prefix = ("{" if i == 0 else ",") + json.dumps(c, ensure_ascii=False) + ":"
        parts.append(sql_str(prefix))
        parts.append(_json_fragment(sql_name(c), by_name[c], go_float))
    parts.append("'}'")
    return f"concat({', '.join(parts)})"


def _render_temporals(out: DataFrame) -> DataFrame:
    """Timestamps must serialize as RFC3339Nano with TRIMMED fractional
    zeros (Go time.Time marshaling). Rendering happens JVM-side, under
    the session timezone (UTC), BEFORE any collection — the fidelity
    stream's row collection would otherwise deserialize through the
    driver's OS-local timezone and shift instants on non-UTC drivers;
    the distributed writer has no trimming timestampFormat at all.
    Both paths share this projection, so they stay byte-identical."""
    rendered = {}
    for f in out.schema.fields:
        c = sql_name(f.name)
        if isinstance(f.dataType, T.TimestampType):
            rendered[f.name] = f"{_rfc3339nano(c)} AS {c}"
        elif isinstance(f.dataType, T.TimestampNTZType):
            # naive timestamps are trusted UTC (engine contract); the
            # native writer would truncate to ms and omit the Z
            rendered[f.name] = f"concat(replace(CAST({c} AS STRING), ' ', 'T'), 'Z') AS {c}"
        elif isinstance(f.dataType, T.DateType):
            rendered[f.name] = f"date_format({c}, 'yyyy-MM-dd') AS {c}"
    if not rendered:
        return out
    return out.selectExpr(*[rendered.get(n) or sql_name(n) for n in out.columns])


class JSONFormatter(BaseFormatter):
    def _dedup_columns(self, out: DataFrame) -> DataFrame:
        """Duplicate output names: strict-reject by default; in
        "collapse" mode the LAST occurrence wins — the reference's
        map-overwrite semantics (codec/json/json.go:108-110), where
        later row values silently replace earlier ones under the same
        key. Selection is positional (duplicate names can't be
        referenced by name)."""
        cols = out.columns
        if len(set(cols)) == len(cols):
            return out
        if self.spec.duplicate_columns == "error":
            dups = sorted({c for c in cols if cols.count(c) > 1})
            raise ValueError(
                f"duplicate output column names {dups}; use "
                f"with_duplicate_columns('collapse') for the reference's "
                f"last-wins map semantics"
            )
        # df[name] / df[i] both resolve BY NAME in PySpark, so true
        # positional selection needs a rename pass: unique temp names,
        # then the kept positions under their real names.
        last = {c: i for i, c in enumerate(cols)}
        tmp = out.toDF(*[f"__c{i}__" for i in range(len(cols))])
        return tmp.selectExpr(*[f"__c{i}__ AS {sql_name(cols[i])}" for i in sorted(last.values())])

    def framing(self, df: DataFrame) -> Framing:
        return _NDJSON if self.spec.newline_delimited else _ARRAY

    def records(self, df: DataFrame, partition_by: Sequence[str] = ()) -> DataFrame:
        out = self._dedup_columns(self.spec.compile_raw(df))
        cols = sorted(out.columns) if self.spec.sort_keys else out.columns
        line = json_line_expr(
            out.schema,
            [c for c in cols if c not in partition_by],
            go_float_for(out),
        )
        return out.selectExpr(*map(sql_name, partition_by), f"{line} AS value")

    def stream_rows(self, df: DataFrame) -> tuple[DataFrame, Callable[[Row], str]]:
        """The fidelity stream renders each raw row on the driver with
        ``_json_token``; the distributed path renders with
        ``json_line_expr``. The two disagree only inside nested values
        (``_json_fragment`` lists how); one renderer for both is
        ROADMAP direction 7."""
        spec = self.spec
        out = self._dedup_columns(spec.compile_raw(df))
        # key order and the '"name":' prefixes are row-invariant —
        # computed once, not per row of the single-stream loop
        names = sorted(out.columns) if spec.sort_keys else out.columns
        keys = [(json.dumps(c, ensure_ascii=False) + ":", c) for c in names]
        render = lambda row: "{" + ",".join(k + _json_token(row[c]) for k, c in keys) + "}"  # noqa: E731
        return _render_temporals(out), render

    # -- scale path --------------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        path: str,
        partition_by: list[str] | None = None,
        *,
        _spread: bool = True,
    ) -> None:
        """Distributed NDJSON via the native writer. Array framing is a
        single-document format by construction; for scale we still
        write NDJSON part files (``write_array_file`` gives one array
        document)."""
        spec = self.spec
        out = _render_temporals(
            self._dedup_columns(spec.compile_raw(self._spread_unordered(df, _spread)))
        )
        if spec.sort_keys:
            out = out.selectExpr(*map(sql_name, sorted(out.columns)))
        writer = out.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        (
            writer
            .option("ignoreNullFields", "false")
            # NESTED timestamps (structs/arrays/maps) are rendered by
            # the writer, not _render_temporals; without these the
            # default format truncates to milliseconds — data loss
            .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
            .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
            .json(path)
        )

    def write_array_file(self, df: DataFrame, out_file: str, tmp_dir: str | None = None) -> None:
        """One array-framed document via the DISTRIBUTED writer:
        executors serialize object strings in parallel (the
        ``json_line_expr`` fidelity twin — Go-style floats included,
        which the native NDJSON writer cannot produce), then the
        driver splices the parts into the reference's array framing.
        Byte-identical to the fidelity stream under an order_by
        (tested); the fidelity path serializes every row on the
        driver, here the driver only splices bytes.

        ROW-ORDER CONTRACT: with an ``order_by`` the document's row
        order is the spec's order, byte-identical to the fidelity
        stream (name-ordered parts preserve the range partitioning).
        WITHOUT one, row order is UNSPECIFIED — the render input is
        round-robin spread across executors (``_spread_unordered``) so
        the dominant per-row serialization runs on every core; the
        document is the same row MULTISET in some permutation (pinned
        by tests/test_export_contracts.py). Callers needing source
        order in a single array document must give an ``order_by`` —
        on a distributed engine 'input order' of an unordered frame is
        not a stable notion to preserve in the first place."""
        tmp = tmp_dir or out_file + "._spark_parts"
        self._write_document(df, out_file, _ARRAY, tmp, spread=True)
