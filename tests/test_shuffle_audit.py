"""Shuffle-bytes regression pins (round 10).

The scan-audit snapshot pins PLAN shape; these tests pin the runtime
complement — bytes actually moved — via AppStatusStore deltas
(planinfo.stage_marker / shuffle_since, same mechanism as
tools/shuffle_audit.py, whose committed full-registry snapshot
lives in tools/audits/r12_shuffle_audit_sf0.001.json — re-recorded in
round 11 because the r10 file predated the eviction-immune
stage_marker method: three entries' r10 values carried the old
cumulative-delta method's stage-eviction bias, confirmed by exact
isolated reproduction of the r11 readings).

Two classes of pin:

* STRUCTURAL: entries whose operators are pure column expressions (or
  per-partition serialization) must move ZERO shuffle bytes at any
  SF. A nonzero reading means someone added an Exchange to a path
  that is advertised as riding the scan. NOTE this set is the
  DESIGNED-zero list, not everything the audit measured as zero at
  sf0.001 — e.g. dedup_clusters reads 0 there only because AQE
  broadcasts its tiny joins at that SF; it is genuinely
  shuffle-bearing at scale and deliberately NOT pinned.

* BAND: the two heaviest flagship movers must stay within 2x of the
  committed snapshot's bytes at the same SF. Wall-clock at sf0.1
  hides byte regressions inside host noise; bytes cannot drift with
  host load (they are compression/partitioning-dependent, hence the
  generous band — the test session runs 4 shuffle partitions vs the
  audit tool's 32).
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

import pytest

from exporter_spark.planinfo import shuffle_since, stage_marker
from exporter_spark.queries import QUERIES

# operators documented as zero-shuffle / expression-only, confirmed
# 0/0 by the r10 audit at sf0.001
EXPRESSION_ONLY = (
    "tostring_events",
    "csv_lines_events",
    "xml_rows_events",
    "html_rows_events",
    "ndjson_lines_docs",
    "doc_fingerprints",
    "docs_sample_deterministic",
    "dedup_tokens_within_docs",
    "embedding_quantize_stats",
    "embedding_random_projection",
    "pii_redaction_check",
    "multimodal_feature_stats",
)

SNAPSHOT = (
    pathlib.Path(__file__).parent.parent
    / "tools"
    / "audits"
    / "r12_shuffle_audit_sf0.001.json"
)


# Heavyweight end-to-end suite: excluded from the dev loop
# (pytest -m 'not slow'), always in round-closing validation.
pytestmark = pytest.mark.slow


def _run_and_measure(spark, name, sf_dir):
    # marker BEFORE fn(): operators with eager internal jobs (CC's
    # edge materialization) shuffle during plan construction, not the
    # write. Marker-based (not cumulative-delta) so the full pytest
    # session's stage-store eviction can't bleed into the reading.
    marker = stage_marker(spark)
    df = QUERIES[name].fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return shuffle_since(spark, marker)


@pytest.mark.parametrize("name", EXPRESSION_ONLY)
def test_expression_only_entries_move_zero_shuffle_bytes(spark, sf_dir, name):
    w, r = _run_and_measure(spark, name, sf_dir)
    assert (w, r) == (0, 0), (
        f"{name} moved shuffle bytes (write={w}, read={r}) — an Exchange "
        "crept into an expression-only path; compare the plan against "
        "tools/audits/r12_shuffle_audit_sf0.001.json"
    )


@pytest.mark.parametrize(
    "name", ["minhash_near_dup_pairs", "exact_substring_strip"]
)
def test_flagship_shuffle_bytes_within_band(spark, sf_dir, name):
    recorded = json.loads(SNAPSHOT.read_text())["shuffle_bytes"][name]
    w, r = _run_and_measure(spark, name, sf_dir)
    assert w <= 2 * recorded["write"], (
        f"{name}: shuffle write {w} > 2x the recorded {recorded['write']} "
        "— the pipeline started moving the corpus; see the audit snapshot"
    )
    assert r <= 2 * recorded["read"], (
        f"{name}: shuffle read {r} > 2x the recorded {recorded['read']}"
    )


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Deterministic replay of the round-10 full-suite false positive: with
# a tiny retained-stage cap, 40 shuffle jobs overflow the status store,
# and the 5 zero-shuffle jobs inside the measurement window trigger
# cleanups that evict byte-carrying OLD stages — the cumulative-total
# delta reads negative while the marker-based reading must be exactly
# zero. Subprocess because the tiny cap is session-level conf.
_EVICT_PROBE = "import sys; sys.path.insert(0, " + repr(_REPO) + ")\n" + """
from pyspark.sql import SparkSession
spark = (SparkSession.builder.appName("evictprobe").master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.retainedStages", "20")
    .config("spark.ui.enabled", "false")
    .getOrCreate())
from exporter_spark.planinfo import shuffle_totals, shuffle_since, stage_marker
for _ in range(40):
    spark.range(0, 20000, 1, 2).repartition(3)\\
        .write.mode("overwrite").format("noop").save()
w0, r0 = shuffle_totals(spark)
marker = stage_marker(spark)
for _ in range(5):
    spark.range(0, 100, 1, 1).write.mode("overwrite").format("noop").save()
w1, r1 = shuffle_totals(spark)
dw, dr = shuffle_since(spark, marker)
print("EVICT", w1 - w0, r1 - r0, dw, dr)
"""


def test_marker_measurement_is_eviction_immune():
    proc = subprocess.run(
        [sys.executable, "-c", _EVICT_PROBE],
        capture_output=True, text=True, cwd=_REPO, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("EVICT ")]
    assert line, proc.stdout[-500:]
    _, cw, cr, dw, dr = line[0].split()
    # the hazard must actually fire, or the immunity claim is vacuous
    assert int(cw) < 0 and int(cr) < 0, line[0]
    # and the marker-based reading must not see it
    assert (int(dw), int(dr)) == (0, 0), line[0]
