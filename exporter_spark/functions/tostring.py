"""Display-string expression library.

Re-expresses the reference's value→string serialization table
(/root/reference/tostring/tostring.go:34-98) as Spark column
expressions. A "display string" of NULL means the cell is NULL; the
formatter layer decides how NULL is rendered (empty string for CSV,
element omission for XML, ``[NULL]`` span for HTML, native null for
JSON) — see /root/reference/codec/*/ and SURVEY.md §2.3 T3/T4.

Semantics implemented:
  nil                  → NULL                         (tostring.go:35-37)
  string / []byte      → identity / UTF-8 decode      (tostring.go:39-42)
  bool                 → "true" / "false"             (tostring.go:43-44)
  ints / uints         → base-10                      (tostring.go:45-64)
  time.Time            → zero time ⇒ NULL, else
                         RFC3339Nano (trailing frac
                         zeros trimmed, "Z" for UTC)  (tostring.go:65-70)
  float32/float64      → shortest round-trip decimal,
                         fixed notation, no exponent,
                         integral values lose ".0"    (tostring.go:71-74)
  complex (array/map/
  struct)              → JSON; "[]"/"{}"/"null" ⇒ NULL (tostring.go:76-96)

Expressions are SQL text (``display_expr``; names by ``sql_name``,
literals by ``sql_str``), and a projection is one ``selectExpr``
(``project``): every ``F.*`` call costs several py4j round trips, text
costs one parse. Every expression is JVM-side; none starts a Python
worker. The Go-exact float formatter needs shortest-round-trip digits
rendered without exponent notation, which no Spark builtin produces:
it is the Java UDF ``javakernel/GoFloat.java``, opt-in via
``float_mode="go"`` and called by its registered name
(``go_float_fn``). Being a JVM expression, it stays inside the
record projection, so an ordered, limited export keeps its one top-K
job. The default ``float_mode="java"`` uses Spark's CAST (Java
``Double.toString``, not always shortest) and needs no compiled
kernel; use it unless byte-parity with the Go library is required.
"""

from __future__ import annotations

import re
import string
from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from exporter_spark.javakernel import ensure_go_float_java

__all__ = ["display_expr", "display_columns", "project", "sql_name", "sql_str"]

# Go's zero time.Time (tostring.go:67-69: IsZero() ⇒ NULL).
_GO_ZERO_TIME = "0001-01-01 00:00:00"


def _go_fixed_repr(v: float) -> str | None:
    """Python port of strconv.FormatFloat(v, 'f', -1, 64).

    repr() gives the shortest round-trip digits (same algorithm family
    as Go); Decimal re-renders them in fixed notation; the trailing
    ".0" of integral values is stripped (Go prints 3.0 as "3").
    """
    if v != v:  # NaN (also how nulls arrive through Arrow; caller masks them)
        return "NaN"
    if v == float("inf"):
        return "+Inf"
    if v == float("-inf"):
        return "-Inf"
    s = format(Decimal(repr(v)), "f")
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    return s or "0"


def go_float_fn(spark) -> str:
    """The SQL name of the Go-parity float renderer on ``spark``: the
    JVM kernel ``javakernel/GoFloat.java``, compiled and registered on
    first use. A session with no JDK and no kernel jar shipped with
    ``--jars`` gets ``build_jar``'s refusal; there is no other kernel
    to fall back to."""
    return ensure_go_float_java(spark)


def go_float_for(df: DataFrame) -> str | None:
    """``go_float_fn`` of ``df``'s session when ``df`` has a top-level
    float column, else None: such a frame needs no kernel."""
    floats = (T.FloatType, T.DoubleType)
    if any(isinstance(f.dataType, floats) for f in df.schema.fields):
        return go_float_fn(df.sparkSession)
    return None


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
    return _SURROGATE.sub("\ufffd", s)


_SURROGATE = re.compile("[\ud800-\udfff]")


# Characters a '...' literal carries verbatim whatever
# spark.sql.parser.escapedStringLiterals says: printable ASCII without
# the quote, the backslash (an escape only when that conf is false)
# and '$' (Spark substitutes ${...} in all SQL text it parses).
_SQL_PLAIN = frozenset(
    string.ascii_letters + string.digits + " !\"#%&()*+,-./:;<=>?@[]^_`{|}~"
)


def sql_str(s: str) -> str:
    """A SQL string literal whose value is ``jvm_str(s)`` under either
    parser setting: plain ``'...'`` when every character is in the
    safe set, else its UTF-8 bytes as ``CAST(X'..' AS STRING)``, which
    the optimizer folds back to a literal."""
    s = jvm_str(s)
    if _SQL_PLAIN.issuperset(s):
        return f"'{s}'"
    return f"CAST(X'{s.encode('utf-8').hex()}' AS STRING)"


def sql_name(name: str) -> str:
    """Exact top-level column reference, as SQL text, for a KNOWN
    column name (from ``df.columns``/schema; user expression strings
    keep plain parsing). The reference treats names as opaque strings;
    Spark parses them (``a.b`` is struct access), so the name is
    backtick-quoted with doubled inner backticks. A name holding ``${``
    is refused: Spark substitutes ``${...}`` in every SQL text it
    parses, identifiers included."""
    if "${" in name:
        raise ValueError(
            f"column name {name!r} holds '${{', which Spark's SQL parser"
            " substitutes; rename the column"
        )
    return backticked(name)


def backticked(name: str) -> str:
    """``name`` as Spark's name resolvers read it literally."""
    return "`" + name.replace("`", "``") + "`"


def qcol(name: str) -> Column:
    """``sql_name`` as a Column, for the Column API handed to custom
    mappers and sort keys; no SQL parser runs, so any name resolves."""
    return F.col(backticked(name))


def _null_else(c: str, expr: str) -> str:
    return f"CASE WHEN ({c} IS NULL) THEN CAST(NULL AS STRING) ELSE {expr} END"


def _rfc3339nano(c: str) -> str:
    """RFC3339Nano with trailing fractional zeros trimmed, per Go
    time.Format(time.RFC3339Nano). Session timezone is UTC ⇒ "Z".

    Spark's timestamp→string CAST already renders with trailing
    fractional zeros trimmed (and no fraction at all for whole
    seconds), so one cast + separator swap replaces the previous
    two-date_format + regexp formulation (~40% less render time on a
    one-timestamp-column export; measured sf0.1 lineitem)."""
    return _null_else(c, f"concat(replace(CAST({c} AS STRING), ' ', 'T'), 'Z')")


def display_expr(c: str, dt: T.DataType, *, go_float: str | None = None) -> str:
    """SQL text of the display string of one column; ``c`` is the SQL
    text of its value (``sql_name`` of a column name).

    NULL result ⇔ NULL cell (formatters decide the rendering).
    ``go_float``: None renders floats with Spark's CAST (codegen fast
    path); the name ``go_float_fn`` returned renders them with byte
    parity to strconv.FormatFloat through the JVM kernel.
    """
    if isinstance(dt, T.StringType):
        return c
    if isinstance(dt, T.BooleanType):
        return _null_else(c, f"CASE WHEN {c} THEN 'true' ELSE 'false' END")
    if isinstance(dt, T.TimestampType):
        return (
            f"CASE WHEN (({c} IS NULL) OR ({c} = to_timestamp('{_GO_ZERO_TIME}')))"
            f" THEN CAST(NULL AS STRING) ELSE {_rfc3339nano(c)} END"
        )
    if isinstance(dt, T.DateType):
        # Go has no date type (time.Time covers it); ISO date chosen.
        return f"date_format({c}, 'yyyy-MM-dd')"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        d = f"CAST({c} AS DOUBLE)"
        if go_float is not None:
            return _null_else(c, f"{go_float}({d})")
        return f"CAST({d} AS STRING)"
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        j = f"to_json({c})"
        # tostring.go:80-83 / :92-95 — empty/null JSON payloads are NULL cells.
        return (
            f"CASE WHEN (({j} IN ('[]', '{{}}', 'null')) OR ({j} IS NULL))"
            f" THEN NULL ELSE {j} END"
        )
    # binary (UTF-8 decode, matches Go string(v)), ints and decimals, and
    # the fallback mirroring the reference's fmt.Sprintf("%v") (tostring.go:96)
    return f"CAST({c} AS STRING)"


def display_columns(
    df: DataFrame,
    *,
    float_mode: str = "java",
    formatters: dict[str, Column] | None = None,
) -> list[str | Column]:
    """One display-string projection item per df column, preserving
    names, for ``project``: SQL text, or the Column a formatter gave.

    ``formatters`` maps column name → ready Column expression and
    overrides the default (resolved by ExportSpec from its column- and
    type-keyed mapper registries — the reference's custom-mapper
    dispatch, codec/csv/csv.go:195-205).
    """
    formatters = formatters or {}
    go = go_float_for(df) if float_mode == "go" else None
    out: list[str | Column] = []
    for f in df.schema.fields:
        if f.name in formatters:
            out.append(formatters[f.name].alias(f.name))
        else:
            name = sql_name(f.name)
            out.append(f"{display_expr(name, f.dataType, go_float=go)} AS {name}")
    return out


def project(df: DataFrame, items: list[str | Column]) -> DataFrame:
    """``df.select(items)`` where an item is SQL text or a Column: one
    ``selectExpr`` when all are text (every projection the engine
    builds itself), else each text through ``F.expr``."""
    if all(isinstance(i, str) for i in items):
        return df.selectExpr(*items)
    return df.select(*[F.expr(i) if isinstance(i, str) else i for i in items])
