"""Build-and-register plumbing for the JVM kernels.

The sandbox ships a JDK (javac 17) but no Scala toolchain, so JVM
kernels are plain-Java ``UDF1`` classes compiled on first use against
the installed pyspark jars and attached to the LIVE session via
``ADD JAR`` + ``registerJavaFunction`` — no restart, no classpath
config, works on any SparkSession (including ones this package did
not create). The jar is content-addressed by the source hash, so an
edited kernel rebuilds automatically and an unchanged one never
recompiles.

Without a JDK, build the jar where one is (``build_jar()``) and start
Spark with ``--jars`` naming it: a session whose ``spark.jars`` lists
the jar of these sources registers the kernels without compiling.
The Go-float renderer (``GoFloat``) has no other kernel, so a session
with neither refuses float_go exports with ``build_jar``'s message.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))

GOPHER_UDF_NAME = "gopher_counts_java"
# field order must match GopherCounts.java's RowFactory.create order
GOPHER_SCHEMA = (
    "struct<wc:long,swl:long,alpha:long,sym:long,dw:long,nl:long,"
    "dl:long,bul:long,ell:long,t2:long,n2:long,t3:long,n3:long,"
    + ",".join(f"d{n}:long,g{n}:long" for n in (5, 6, 7, 8, 9, 10))
    + ">"
)


def javac_available() -> bool:
    return shutil.which("javac") is not None and shutil.which("jar") is not None


def _pyspark_jars_glob() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")


def _sources() -> list[str]:
    return sorted(os.path.join(_PKG_DIR, f) for f in os.listdir(_PKG_DIR) if f.endswith(".java"))


def jar_name() -> str:
    """The jar's file name: content-addressed by the kernel sources."""
    h = hashlib.sha256()
    for src in _sources():
        with open(src, "rb") as f:
            h.update(f.read())
    return f"exporter_spark_javakernel_{h.hexdigest()[:16]}.jar"


def build_jar() -> str:
    """Compile every kernel source in this package into one
    content-addressed jar under the system temp dir; return the jar
    path. Idempotent: an existing jar for the same source bytes is
    reused."""
    srcs = _sources()
    jar_path = os.path.join(tempfile.gettempdir(), jar_name())
    if os.path.exists(jar_path):
        return jar_path
    if not javac_available():
        raise RuntimeError(
            "javac/jar not found on PATH: the JVM kernels, the float_go"
            " renderer among them, are compiled on first use and need a"
            f" JDK. Without one, build {os.path.basename(jar_path)} with"
            " exporter_spark.javakernel.build_jar() where a JDK is, and"
            " start Spark with --jars naming it"
        )
    with tempfile.TemporaryDirectory(prefix="javakernel_build_") as build:
        subprocess.run(
            [
                "javac", "-encoding", "UTF-8",
                "-cp", _pyspark_jars_glob(),
                "-d", build, *srcs,
            ],
            check=True, capture_output=True,
        )
        tmp_jar = os.path.join(build, "kernel.jar")
        subprocess.run(
            ["jar", "cf", tmp_jar, "-C", build, "."],
            check=True, capture_output=True,
        )
        # atomic publish: another process building the same digest
        # concurrently lands on the same final bytes
        os.replace(tmp_jar, jar_path)
    return jar_path


GO_FLOAT_UDF_NAME = "go_float_java"


def _ensure(spark, udf_name: str, class_name: str, schema: str) -> str:
    """Compile (if needed), attach, and register one kernel UDF on
    this session; returns the registered function name. Idempotent
    per session. A jar shipped with ``--jars`` is already attached."""
    registered = getattr(spark, "_exporter_spark_java_kernels", None)
    if registered is None:
        registered = set()
        spark._exporter_spark_java_kernels = registered
    if udf_name in registered:
        return udf_name
    if jar_name() not in spark.conf.get("spark.jars", ""):
        spark.sql(f"ADD JAR '{build_jar()}'")
    from pyspark.sql.types import _parse_datatype_string

    spark.udf.registerJavaFunction(
        udf_name, class_name, _parse_datatype_string(schema)
    )
    registered.add(udf_name)
    return udf_name


def ensure_gopher_java(spark) -> str:
    return _ensure(spark, GOPHER_UDF_NAME, "GopherCounts", GOPHER_SCHEMA)


def ensure_go_float_java(spark) -> str:
    """Go-parity shortest-round-trip fixed-notation float renderer
    (strconv.FormatFloat(v, 'f', -1, 64)) as a JVM UDF; raises
    ``build_jar``'s refusal when no JDK or shipped jar provides it."""
    return _ensure(spark, GO_FLOAT_UDF_NAME, "GoFloat", "string")


SIMHASH_UDF_NAME = "simhash32_java"


def ensure_simhash_java(spark) -> str:
    """32-bit SimHash fingerprint (identical to the pandas kernel in
    operators/dedup.py) as a JVM UDF."""
    return _ensure(spark, SIMHASH_UDF_NAME, "SimHash32", "bigint")
