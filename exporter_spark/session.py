"""SparkSession factory tuned for this engine.

Scale posture: these defaults are what we'd set on a real cluster too —
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow for any pandas-UDF path, and a shuffle-partition count sized to
the parallelism at hand rather than Spark's legacy 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "exporter_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    # Python workers must be able to import this package (pandas-UDF
    # closures pickle by module reference). Locally that means putting
    # the package root on PYTHONPATH before the JVM spawns workers; on
    # a real cluster, ship the package with --py-files / pip install.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # SPARK_GRAFT_MASTER lets the verification tools re-run an
    # unmodified workload on a different topology — in-sandbox that
    # means local-cluster[n,c,m] (real Master/Worker, separate
    # executor JVMs), the closest available stand-in for a cluster.
    # An explicit `master=` argument still wins: callers that NAME a
    # topology (cluster_smoke) mean it.
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast policy (round 8): estimate-based STATIC broadcast
        # is off; broadcasts happen only (a) where the code says
        # F.broadcast(...) — every genuinely-small side is hinted — or
        # (b) when AQE sees the side's RUNTIME size under 64 MB.
        # Compile-time sizeInBytes estimates undershoot badly on
        # non-scan inputs (checkpointed / unioned / post-transform
        # frames): the 100x sweep caught the planner statically
        # broadcasting corpus-sized LSH-band and shingle-array join
        # sides, collecting >1 GiB to the driver (maxResultSize abort
        # here; an OOM on a real cluster). Runtime stats are exact, so
        # AQE keeps the tiny-input broadcast wins without the hazard.
        # SPARK_GRAFT_STATIC_BROADCAST_BYTES re-enables estimate-based
        # static broadcast (A/B harness + escape hatch for deployments
        # whose inputs are all well-estimated leaf scans).
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_STATIC_BROADCAST_BYTES", "-1"),
        )
        # SPARK_GRAFT_ADAPTIVE_BROADCAST_BYTES tunes (or, at -1,
        # disables) AQE's runtime broadcast conversion. Round-13
        # memory-pressure finding: broadcast HASH RELATIONS build in
        # the unified memory pool, which local[*] SHARES with every
        # task's execution memory — under a small heap a ~60 MB
        # runtime-eligible side can fail the build (loud
        # SparkException) while the same plan completes by spilling
        # sort-merge joins once runtime broadcast is off. On a real
        # cluster the driver builds alone and the default is safe;
        # turn this down/off when driver memory is tight
        # (SCALE.md round-13).
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            os.environ.get(
                "SPARK_GRAFT_ADAPTIVE_BROADCAST_BYTES",
                str(64 * 1024 * 1024),
            ),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # The status store feeds the repo's runtime observables
        # (planinfo shuffle/spill totals). The default retention
        # (1000 stages, evicted oldest-first) silently truncates the
        # app-total spill tripwire on a full corpus run and made
        # cumulative shuffle deltas go NEGATIVE in long sessions
        # (round 10). ~10-20k stage rows is tens of MB on the driver.
        .config("spark.ui.retainedStages", "20000")
        .config("spark.sql.session.timeZone", "UTC")
        # The driver's events.parquet stores TIMESTAMP(NANOS), which the
        # parquet reader rejects by default; read as long and let
        # sources.files restore a (microsecond) timestamp column.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()
