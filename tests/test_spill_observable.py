"""Negative-path validation of the bench spill tripwire.

``bench.py`` pins ``spilled_disk_bytes == 0`` for the corpus (the
sf0.1 corpus is sized to run spill-free), which is only meaningful if
the observable would actually READ nonzero when a task's working set
outgrows its execution-memory share.  This forces a deterministic
spill — ``spark.shuffle.spill.numElementsForceSpillThreshold`` makes
the unsafe external sorter spill every N records regardless of memory
pressure — and asserts ``planinfo.spill_totals`` reports it on both
counters.  Runs as a subprocess because the forced-spill config is
session-level and must not leak into the suite's shared session.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = "import sys; sys.path.insert(0, " + repr(REPO) + ")\n" + """
from pyspark.sql import SparkSession
import pyspark.sql.functions as F
spark = (SparkSession.builder.appName("spillprobe").master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.shuffle.spill.numElementsForceSpillThreshold", "5000")
    .config("spark.ui.enabled", "false")
    .getOrCreate())
df = (spark.range(200_000)
      .withColumn("k", F.expr("id % 1000"))
      .withColumn("pad", F.expr("repeat('x', 64)")))
df.orderBy("k", "id").write.mode("overwrite").format("noop").save()
from exporter_spark.planinfo import spill_totals
mem, disk = spill_totals(spark)
print("SPILL", mem, disk)
"""


import pytest

# Heavyweight end-to-end suite: excluded from the dev loop
# (pytest -m 'not slow'), always in round-closing validation.
pytestmark = pytest.mark.slow


def test_spill_totals_reads_nonzero_on_forced_spill():
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("SPILL ")]
    assert line, proc.stdout[-500:]
    _, mem, disk = line[0].split()
    # memory counter: bytes of in-memory data released by each forced
    # spill; disk counter: bytes actually serialized to disk. The
    # bench tripwire gates on DISK — both must be visibly nonzero here
    # or the zero-pin in test_bench_contract is vacuous.
    assert int(mem) > 0 and int(disk) > 0, line[0]
