"""Source driver tags — the Spark analog of the reference scanner's
``Driver()`` (/root/reference/scanner/scanner.go:19-20), which codecs
surface to custom mappers via ``Metadata.Driver``
(scanner/scanner.go:27-31).

A DataFrame has no instance-level metadata slot, so the tag rides on
every column's StructField metadata. It survives anything that keeps
the column (projection, filter, sort, join); columns materialized by
aggregation are new data and legitimately untagged — ``driver_of``
answers from the first tagged column it finds and falls back to
"memory" (the reference's FromData in-memory scanner analog).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql.classic.column import _to_seq

from exporter_spark.functions.tostring import backticked

DRIVER_META_KEY = "exporter.driver"


def tag_driver(df: DataFrame, name: str) -> DataFrame:
    """Stamp every column with the originating driver name: each
    distinct metadata built once, columns aliased JVM-side (a few py4j
    calls per column, not a ``Column.alias`` each). Backtick-quoted, a
    name with a dot (``price.usd``) resolves as a column."""
    jvm, jdf = df.sparkSession._jvm, df._jdf  # noqa: SLF001
    metas: dict[str, object] = {}
    cols = []
    for f in df.schema.fields:
        meta = json.dumps({**(f.metadata or {}), DRIVER_META_KEY: name})
        if meta not in metas:
            metas[meta] = jvm.org.apache.spark.sql.types.Metadata.fromJson(meta)
        ref = jdf.col(backticked(f.name))
        cols.append(getattr(ref, "as")(f.name, metas[meta]))
    return DataFrame(jdf.select(_to_seq(df.sparkSession._sc, cols)), df.sparkSession)  # noqa: SLF001


def driver_of(df: DataFrame) -> str:
    """The driver name a custom mapper sees in ``CellMeta.driver``."""
    for f in df.schema.fields:
        v = (f.metadata or {}).get(DRIVER_META_KEY)
        if v:
            return str(v)
    return "memory"
