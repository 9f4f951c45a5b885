"""File sources — the engine's scan layer.

The reference's scanner/ package abstracts "anything that yields rows"
(scanner/scanner.go:8-23); in Spark the DataFrame *is* that
abstraction, so these are just well-behaved constructors. Parquet is
the primary format (columnar, predicate-pushdown + column-pruning at
the scan — the 100 TB path); CSV/JSON readers are provided for parity
with what the reference can ingest indirectly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from exporter_spark.functions.tostring import sql_name
from exporter_spark.sources.meta import tag_driver

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Columns historically written as TIMESTAMP(NANOS) by the data
# generator. Spark's reader has no nanos timestamp type; with
# spark.sql.legacy.parquet.nanosAsLong=true they arrive as LongType
# (nanos since epoch) and are restored here at microsecond precision
# (lossless for this data; DuckDB does the same ns→us truncation).
# Newer generator runs write plain timestamp[us] instead — handled by
# the generic NTZ normalization below.
_NANOS_COLS = {"events": ["ts"]}


def from_parquet(spark: SparkSession, path: str, table: str | None = None) -> DataFrame:
    # Dynamic confs: harmless if already set by get_spark; required when
    # the caller brings their own session (e.g. the driver harness).
    # UTC is part of the engine contract (oracle-stable timestamp
    # rendering and NTZ→session-timestamp normalization below).
    # A session pinned to a DIFFERENT timezone is repinned — with a
    # warning rather than silently, since the change affects timestamp
    # rendering/casts for everything else in that session. (The NTZ
    # cast below is lazy; resetting the timezone between load and
    # action would shift loaded NTZ values.)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # no-default get resolves the EFFECTIVE timezone (conf default =
    # JVM zone), so an unset-but-already-UTC session is not warned at
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
        import warnings

        warnings.warn(
            f"exporter_spark pins spark.sql.session.timeZone=UTC for this "
            f"session (was {tz!r}); timestamp rendering elsewhere in the "
            f"session changes too. Create sessions via "
            f"exporter_spark.session.get_spark to make this explicit.",
            stacklevel=2,
        )
    if tz != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    nanos = _NANOS_COLS.get(table or os.path.splitext(os.path.basename(path))[0], [])
    converted = {}
    for f in df.schema.fields:
        if f.name in nanos and isinstance(f.dataType, T.LongType):
            # integer div — float division would round 64-bit nanos
            converted[f.name] = F.expr(f"timestamp_micros({sql_name(f.name)} div 1000)")
        elif isinstance(f.dataType, T.TimestampNTZType):
            # Parquet timestamps without isAdjustedToUTC land as
            # TIMESTAMP_NTZ, which many time functions (unix_micros,
            # window, ...) reject. The engine runs with
            # session.timeZone=UTC, so casting NTZ → session timestamp
            # is value-preserving and matches DuckDB's naive reads.
            converted[f.name] = F.expr(f"CAST({sql_name(f.name)} AS TIMESTAMP_LTZ)")
    if converted:
        df = df.withColumns(converted)
    return tag_driver(df, "parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return from_parquet(spark, f"{sf_dir}/{name}.parquet", table=name)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All driver tables as a dict; also registers each as a temp view
    so spark.sql(...) works over them."""
    out = {}
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        if os.path.exists(path):
            df = load_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out


def from_csv(spark: SparkSession, path: str, **options) -> DataFrame:
    opts = {"header": "true", "inferSchema": "true", **options}
    return tag_driver(spark.read.options(**opts).csv(path), "csv")


def from_json(spark: SparkSession, path: str, **options) -> DataFrame:
    return tag_driver(spark.read.options(**options).json(path), "json")


def from_xml(spark: SparkSession, path: str, row_tag: str = "row", **options) -> DataFrame:
    return tag_driver(
        spark.read.format("xml").option("rowTag", row_tag).options(**options).load(path),
        "xml",
    )


def from_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    """ORC scan — the read twin of formatters.columnar.ORCFormatter,
    so an ORC-landed export round-trips through the same loader
    surface as every other source. Typed columnar scan with the same
    pushdown/pruning behavior as parquet; no NTZ/nanos normalization
    is needed (Spark's ORC writer stores session-zoned timestamps)."""
    return tag_driver(spark.read.options(**options).orc(path), "orc")
