"""Structured Streaming export paths, driven end-to-end with file
sources feeding real micro-batches."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from exporter_spark import fsio
from exporter_spark.formatters.xml import XMLFormatter
from exporter_spark.plans.spec import ExportSpec
from exporter_spark.sources.files import load_table
from exporter_spark.streaming import stream as ss


# Heavyweight end-to-end suite: excluded from the dev loop
# (pytest -m 'not slow'), always in round-closing validation.
pytestmark = pytest.mark.slow


@pytest.fixture()
def events_dir(spark, sf_dir, tmp_path):
    """Stage the events table as parquet files a stream can watch."""
    src = str(tmp_path / "events_src")
    load_table(spark, sf_dir, "events").limit(200).repartition(4).write.parquet(src)
    return src


def _wait(query, timeout=60):
    query.processAllAvailable()
    query.stop()
    query.awaitTermination(timeout)


def test_stream_export_csv(spark, events_dir, sf_dir, tmp_path):
    schema = load_table(spark, sf_dir, "events").schema
    stream = ss.stream_from_files(spark, events_dir, "parquet", schema=schema)
    assert stream.isStreaming
    out = str(tmp_path / "csv_out")
    spec = ExportSpec().with_filter(F.col("value") > 50).with_header(False)
    q = ss.stream_export(stream, out, fmt="csv", spec=spec)
    _wait(q)
    back = spark.read.csv(out)
    n_expected = (
        spark.read.parquet(events_dir).filter(F.col("value") > 50).count()
    )
    assert back.count() == n_expected


def test_stream_export_csv_keeps_whitespace(spark, tmp_path):
    """The streaming CSV sink takes the batch writer's option set, so
    Spark's write default — trimming leading and trailing whitespace
    from unquoted fields, silent data corruption — is off there too."""
    schema = "id long, v string"
    src = str(tmp_path / "ws_src")
    spark.createDataFrame(
        [(1, "  leading"), (2, "trailing  "), (3, "\tTabbed")], schema
    ).write.parquet(src)
    stream = ss.stream_from_files(spark, src, "parquet", schema=schema)
    out = str(tmp_path / "ws_out")
    _wait(ss.stream_export(stream, out, fmt="csv", spec=ExportSpec()))
    back = spark.read.options(header="true", quote='"', escape='"').csv(out)
    got = {r["id"]: r["v"] for r in back.collect()}
    assert got == {"1": "  leading", "2": "trailing  ", "3": "\tTabbed"}

def test_stream_spec_rejects_batch_only_options(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    stream = ss.stream_from_files(spark, events_dir, "parquet", schema=schema)
    with pytest.raises(ValueError, match="batch-only"):
        ss.apply_spec_streaming(stream, ExportSpec().with_limit(5))


def test_foreach_batch_xml(spark, events_dir, tmp_path):
    schema = spark.read.parquet(events_dir).schema
    stream = ss.stream_from_files(spark, events_dir, "parquet", schema=schema)
    out = str(tmp_path / "xml_out")
    # documents=True: each micro-batch directory must hold well-formed
    # XML parts so the XML data source can read them back
    q = ss.foreach_batch_export(stream, out, XMLFormatter(ExportSpec(), documents=True))
    _wait(q)
    back = spark.read.format("xml").option("rowTag", "row").load(f"{out}/batch=*")
    assert back.count() == 200


def test_windowed_counts(spark, events_dir, tmp_path):
    schema = spark.read.parquet(events_dir).schema
    # one file per trigger: the watermark advances BETWEEN batches, so
    # earlier windows actually close and emit (all-at-once ingestion
    # would close nothing and make every downstream check vacuous)
    stream = ss.stream_from_files(
        spark, events_dir, "parquet", schema=schema, maxFilesPerTrigger=1
    )
    agg = ss.windowed_counts(stream, keys=["event_type"])
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _wait(q)
    emitted = spark.sql(
        "SELECT window_start, event_type, n_events FROM win_counts"
    ).collect()
    # with 4 time-spread files over 4 triggers the 2h watermark must
    # close at least one 1h window
    assert emitted, "no window closed — the stream test ran vacuously"
    # batch twin of the same rollup; emitted streaming counts may
    # undercount a window (rows arriving after its close are dropped
    # as late) but can never overcount, duplicate, or invent keys
    bmap = {
        (r["ws"], r["event_type"]): r["n"]
        for r in spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
        .collect()
    }
    seen = set()
    for r in emitted:
        key = (r["window_start"], r["event_type"])
        assert key not in seen, f"window emitted twice in append mode: {key}"
        seen.add(key)
        assert key in bmap, f"streaming emitted a window batch never saw: {key}"
        assert 0 < r["n_events"] <= bmap[key], (key, r["n_events"], bmap[key])
    total = spark.read.parquet(events_dir).count()
    got = sum(r["n_events"] for r in emitted)
    assert got <= total


def test_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: gap-closed sessions emit
    with exact bounds/aggregates; the trailing open session stays in
    state (finite stream, watermark never passes its timeout)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        # user 7: session A (2 events), 2h gap, session B (2 events),
        # then an open session at t0+6h
        (7, t0, 10.0),
        (7, t0 + 10 * m, 5.0),
        (7, t0 + 120 * m, 1.0),
        (7, t0 + 125 * m, 2.0),
        (7, t0 + 360 * m, 99.0),
        # user 8: one never-closed session
        (8, t0 + 1 * m, 4.0),
    ]
    src = str(tmp_path / "sess_src")
    spark.createDataFrame(rows, "user_id long, ts timestamp, value double") \
        .coalesce(1).write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = ss.stream_from_files(spark, src, "parquet", schema=schema)
    sessions = ss.sessionize(stream, gap_minutes=30, watermark="1 hour")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    _wait(q)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         r["total_value"])
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }
    expected_closed = {
        # closed by the 30m inactivity gap within the batch
        (7, t0, t0 + 10 * m, 2, 15.0),
        (7, t0 + 120 * m, t0 + 125 * m, 2, 3.0),
        # closed by the event-time TIMEOUT: final watermark is
        # t0+6h − 1h = t0+5h, past user 8's t0+31m timeout
        (8, t0 + 1 * m, t0 + 1 * m, 1, 4.0),
    }
    assert got == expected_closed
    # user 7's trailing session (t0+6h) stays open: its timeout
    # (t0+6.5h) sits beyond the final watermark
    assert all(r[1] < t0 + 360 * m for r in got)


def test_sessionize_events_smoke(spark, events_dir, tmp_path):
    """Real events feed: every emitted session respects the gap
    invariant and aggregates are internally consistent."""
    schema = spark.read.parquet(events_dir).schema
    stream = ss.stream_from_files(spark, events_dir, "parquet", schema=schema)
    sessions = ss.sessionize(stream, gap_minutes=10, watermark="5 minutes")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_ev")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ev_ckpt"))
        .start()
    )
    _wait(q)
    out = spark.sql("SELECT * FROM sessions_ev").collect()
    for r in out:
        assert r["session_start"] <= r["session_end"]
        assert r["n_events"] >= 1


def test_streaming_gopher_filter(spark, sf_dir, tmp_path):
    """Quality filtering composes with Structured Streaming: the
    Arrow counting kernel runs per micro-batch and the streamed
    survivors equal the batch survivors."""
    from exporter_spark.operators import text

    src = str(tmp_path / "docs_src")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.repartition(3).write.parquet(src)

    stream = ss.stream_from_files(spark, src, "parquet", schema=docs.schema)
    filtered = text.gopher_filter(stream)
    assert filtered.isStreaming
    out = str(tmp_path / "kept")
    q = (
        filtered.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _wait(q)
    streamed = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    batch = sorted(
        r["doc_id"] for r in text.gopher_filter(spark.read.parquet(src)).collect()
    )
    assert streamed == batch and streamed


def test_streaming_dedup_per_key(spark, tmp_path):
    """A retried producer re-emitting a key with a FRESH timestamp is
    still deduplicated (per-key, not per-(key, ts))."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    src = str(tmp_path / "dedup_src")
    spark.createDataFrame(
        [(1, t0, "a"), (1, t0 + dt.timedelta(seconds=5), "a-retry"), (2, t0, "b")],
        "id long, ts timestamp, v string",
    ).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = ss.stream_from_files(spark, src, "parquet", schema=schema)
    deduped = ss.streaming_dedup(stream, ["id"], ts_col="ts", watermark="10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .start()
    )
    _wait(q)
    rows = spark.sql("SELECT id FROM dedup_out").collect()
    assert sorted(r["id"] for r in rows) == [1, 2]


def test_sessionize_string_key_null_ts_and_late_event(spark, tmp_path):
    """Three hardening cases through the real engine: a non-long key
    column, a NULL event time (must be ignored, not kill the query),
    and a late cross-batch event EARLIER than the recorded session
    start (the session must extend backwards to cover it)."""
    import datetime as dt
    import time as _time

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    m = dt.timedelta(minutes=1)
    src = str(tmp_path / "sess2_src")
    spark.createDataFrame(
        [("u", t0, 1.0), ("u", t0 + 5 * m, 1.0), ("u", None, 9.0)],
        "user_id string, ts timestamp, value double",
    ).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.2)  # distinct mod-times: the file source processes oldest first
    spark.createDataFrame(
        [("u", t0 - 2 * m, 1.0), ("u", t0 + 300 * m, 1.0)],
        "user_id string, ts timestamp, value double",
    ).coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = ss.stream_from_files(
        spark, src, "parquet", schema=schema, maxFilesPerTrigger="1"
    )
    sessions = ss.sessionize(stream, gap_minutes=30, watermark="2 hours")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions2_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess2_ckpt"))
        .start()
    )
    _wait(q)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         r["total_value"])
        for r in spark.sql("SELECT * FROM sessions2_out").collect()
    }
    # the closed session covers the late 09:58 event (backward start),
    # counts 3 events (NULL-ts row ignored), and the t0+5h event that
    # closed it stays open in state
    assert got == {("u", t0 - 2 * m, t0 + 5 * m, 3, 3.0)}


def test_sessionize_far_late_event_does_not_bridge(spark, tmp_path):
    """A late event more than a gap BEFORE the recorded session start
    must form its own session — the pre-fix forward-only gap check
    merged it unconditionally, reporting one session spanning an
    interior silence longer than the gap. Also: a NULL value counts
    the event but contributes 0 to the total (batch F.sum/F.count
    semantics), instead of poisoning the aggregate with NaN."""
    import datetime as dt
    import time as _time

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    src = str(tmp_path / "sess3_src")
    spark.createDataFrame(
        [("u", t0, 1.0), ("u", t0 + 5 * m, None)],
        "user_id string, ts timestamp, value double",
    ).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.2)
    spark.createDataFrame(
        # 10:05 is 1h55m before the 12:00 session start — its own
        # session; 17:00 closes everything earlier
        [("u", t0 - 115 * m, 2.0), ("u", t0 + 300 * m, 1.0)],
        "user_id string, ts timestamp, value double",
    ).coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = ss.stream_from_files(
        spark, src, "parquet", schema=schema, maxFilesPerTrigger="1"
    )
    sessions = ss.sessionize(stream, gap_minutes=30, watermark="4 hours")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions3_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess3_ckpt"))
        .start()
    )
    _wait(q)
    got = {
        (r["session_start"], r["session_end"], r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM sessions3_out").collect()
    }
    assert (t0 - 115 * m, t0 - 115 * m, 1, 2.0) in got, got  # own session
    assert (t0, t0 + 5 * m, 2, 1.0) in got, got  # NULL value counted as 0


def test_sessionize_far_late_events_across_batches_merge(spark, tmp_path):
    """The multi-interval-state contract (round 5): two far-late
    events landing in DIFFERENT micro-batches, within gap of each
    other, must merge into the ONE session gap semantics defines.
    The previous single-interval state emitted the first as a closed
    singleton before the watermark could confirm its end."""
    import datetime as dt
    import time as _time

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    src = str(tmp_path / "sess4_src")
    spark.createDataFrame(
        [("u", t0, 1.0)],
        "user_id string, ts timestamp, value double",
    ).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.2)  # distinct mod-times: oldest file processed first
    spark.createDataFrame(
        # 08:00 — four hours late, its own interval, must stay OPEN
        [("u", t0 - 240 * m, 2.0)],
        "user_id string, ts timestamp, value double",
    ).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.2)
    spark.createDataFrame(
        # 08:10 joins the held 08:00 interval (within the 30m gap);
        # 20:00 drives the watermark to 14:00, closing everything else
        [("u", t0 - 230 * m, 3.0), ("u", t0 + 480 * m, 1.0)],
        "user_id string, ts timestamp, value double",
    ).coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = ss.stream_from_files(
        spark, src, "parquet", schema=schema, maxFilesPerTrigger="1"
    )
    sessions = ss.sessionize(stream, gap_minutes=30, watermark="6 hours")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions4_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess4_ckpt"))
        .start()
    )
    _wait(q)
    got = {
        (r["session_start"], r["session_end"], r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM sessions4_out").collect()
    }
    # ONE merged late session, not two singletons
    assert (t0 - 240 * m, t0 - 230 * m, 2, 5.0) in got, got
    # the 12:00 singleton closed by the final 14:00 watermark
    assert (t0, t0, 1, 1.0) in got, got
    # no singleton 08:00 or 08:10 emission leaked out
    assert not any(r[0] == r[1] and r[0] in (t0 - 240 * m, t0 - 230 * m) for r in got), got


def test_sessionize_stream_equals_batch_on_events(spark, events_dir, tmp_path):
    """Semantic pin: the stateful streaming sessionizer and a batch
    window-cumsum sessionization agree EXACTLY on the real events
    table — same sessions, same bounds, same aggregates. A far-future
    sentinel event (its own user) drives the final watermark past
    every real session's end+gap so the stream closes them all."""
    import datetime as dt
    import time as _time

    from pyspark.sql import Window

    gap_min = 30
    ev = spark.read.parquet(events_dir).select("user_id", "ts", "value")
    src = str(tmp_path / "eq_src")
    ev.coalesce(1).write.parquet(src)
    _time.sleep(1.2)
    far = dt.datetime(2030, 1, 1)
    spark.createDataFrame(
        [(-999, far, 0.0)], "user_id long, ts timestamp, value double"
    ).coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = ss.stream_from_files(
        spark, src, "parquet", schema=schema, maxFilesPerTrigger="1"
    )
    q = (
        ss.sessionize(stream, gap_minutes=gap_min, watermark="1 minute")
        .writeStream.format("memory")
        .queryName("eq_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "eq_ckpt"))
        .start()
    )
    _wait(q)
    streamed = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["total_value"], 6))
        for r in spark.sql(
            "SELECT * FROM eq_sessions WHERE user_id != -999"
        ).collect()
    }

    # batch twin: strict-gap split (gap > threshold), cumsum session id
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_us = gap_min * 60_000_000
    batch = (
        ev.filter(F.col("ts").isNotNull())
        .withColumn("__gap__", F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w))
        .withColumn(
            "__sid__",
            F.sum(F.when(F.col("__gap__") > gap_us, 1).otherwise(0)).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "__sid__")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("total_value"),
        )
    )
    expected = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["total_value"], 6))
        for r in batch.collect()
    }
    assert streamed == expected, (
        len(streamed), len(expected),
        sorted(streamed - expected)[:3], sorted(expected - streamed)[:3],
    )


def test_sessionize_bounded_state_force_closes_oldest(spark, tmp_path):
    """max_open_intervals bounds per-key state: when one batch leaves
    more open intervals than the bound, the OLDEST are emitted
    immediately (the documented pre-watermark degradation) and the
    newest stay in state — state never grows past the bound."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    h = dt.timedelta(hours=1)
    src = str(tmp_path / "sess5_src")
    # 5 intervals, 1h apart (gap 30m keeps them separate); watermark
    # 10h so NONE is closeable by event time within the batch
    spark.createDataFrame(
        [("u", t0 + i * h, float(i)) for i in range(5)],
        "user_id string, ts timestamp, value double",
    ).coalesce(1).write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = ss.stream_from_files(spark, src, "parquet", schema=schema)
    sessions = ss.sessionize(
        stream, gap_minutes=30, watermark="10 hours", max_open_intervals=2
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions5_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess5_ckpt"))
        .start()
    )
    _wait(q)
    got = sorted(
        (r["session_start"], r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM sessions5_out").collect()
    )
    # oldest 3 force-closed (5 open - bound 2); newest 2 held in state
    assert got == [(t0, 1, 0.0), (t0 + h, 1, 1.0), (t0 + 2 * h, 1, 2.0)], got


# ------------------------------------------------------------ round 6
# degenerate-input sweep for the streaming surface (VERDICT r05 #7):
# the batch operators got the NaN/±Inf/zero-time/Go-space oracle
# probes (test_degenerate_oracle_parity); this drives the SAME crafted
# corpus through real micro-batches into the CSV and XML formatters
# and asserts byte parity with the batch write — the micro-batch
# plumbing must not change a single rendered byte.

@pytest.fixture()
def degen_events_dir(spark, tmp_path):
    from pyspark.sql import types as T

    from tests.test_degenerate_oracle_parity import _EVENTS

    _REBASE = ("spark.sql.parquet.datetimeRebaseModeInWrite",
               "spark.sql.parquet.datetimeRebaseModeInRead")
    saved = {k: spark.conf.get(k, None) for k in _REBASE}
    for k in _REBASE:
        spark.conf.set(k, "CORRECTED")  # year-1 Go zero time round-trip
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    src = str(tmp_path / "degen_src")
    # ONE file => the file source delivers exactly one micro-batch
    spark.createDataFrame(_EVENTS, schema).coalesce(1).write.parquet(src)
    yield src, schema
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_foreach_batch_degenerate_corpus_byte_parity(
    spark, degen_events_dir, tmp_path
):
    from exporter_spark.formatters.csv import CSVFormatter

    src, schema = degen_events_dir
    batch_df = spark.read.schema(schema).parquet(src)

    def single_file(formatter_cls, **kw):
        class _SingleFile(formatter_cls):
            # foreachBatch hands write() a directory path per batch;
            # route it through the single-part writer so stream and
            # batch output are directly byte-comparable files (the
            # guard lets write_single_part's internal self.write reach
            # the real distributed writer)
            def write(self, df, path, partition_by=None, **kw):
                if getattr(self, "_inner", False):
                    return super().write(df, path, partition_by=partition_by, **kw)
                self._inner = True
                try:
                    self.write_single_part(df, path)
                finally:
                    self._inner = False

        return _SingleFile(ExportSpec().with_order_by("event_id").with_float_go(), **kw)

    for name, formatter in (
        ("csv", single_file(CSVFormatter)),
        ("xml", single_file(XMLFormatter, documents=True)),
    ):
        stream = ss.stream_from_files(spark, src, "parquet", schema=schema)
        out = str(tmp_path / f"degen_{name}_stream")
        q = ss.foreach_batch_export(stream, out, formatter)
        _wait(q)
        batch_path = str(tmp_path / f"degen_{name}_batch")
        formatter.write(batch_df, batch_path)  # same guarded single-file path
        with open(f"{out}/batch=0", "rb") as fh:
            stream_bytes = fh.read()
        with open(batch_path, "rb") as fh:
            batch_bytes = fh.read()
        assert stream_bytes, f"{name}: empty stream output"
        assert stream_bytes == batch_bytes, (
            f"{name}: micro-batch output diverges from batch"
        )


# ------------------------------------------------------------ round 7
# sessionize state-schema versioning: restarting from an incompatible
# checkpoint must fail LOUDLY (VERDICT r06 item 3) — previously the
# break was only documented, and a restart could mis-decode state.

def _crafted_sessionize_checkpoint(
    spark, tmp_path, state_schema, state_tuple
):
    """Leave per-key state behind in a checkpoint using sessionize's
    exact plan shape (watermark -> groupBy -> applyInPandasWithState)
    but a crafted state writer, then stage a second batch so the
    restarted sessionize is forced to DECODE that state."""
    import datetime as dt

    from pyspark.sql.streaming.state import GroupStateTimeout

    src = str(tmp_path / "vsrc")
    ckpt = str(tmp_path / "vckpt")
    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(7, t0, 1.0)], "user_id long, ts timestamp, value double"
    ).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = ss.stream_from_files(spark, src, "parquet", schema=schema)

    def old_fn(key, pdf_iter, state):
        for _ in pdf_iter:
            pass
        state.update(state_tuple)
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 3_600_000)
        return iter(())

    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, total_value double"
    )
    # file sink, not memory: the memory sink refuses checkpoint
    # RECOVERY, and recovery is the whole point of these tests
    q = (
        stream.withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            old_fn, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "vout"))
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    _wait(q)
    spark.createDataFrame(
        [(7, t0 + dt.timedelta(minutes=5), 2.0)],
        "user_id long, ts timestamp, value double",
    ).write.mode("append").parquet(src)
    return src, ckpt, schema


def _restart_sessionize_and_capture_error(spark, src, ckpt, schema, out_path):
    stream = ss.stream_from_files(spark, src, "parquet", schema=schema)
    sessions = ss.sessionize(stream, gap_minutes=30, watermark="2 hours")
    q = None
    err = None
    try:
        q = (
            sessions.writeStream.format("parquet")
            .option("path", out_path)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
    except Exception as e:  # noqa: BLE001 — the loud failure IS the assert
        err = str(e)
    if err is None and q is not None:
        exc = q.exception()
        err = str(exc) if exc is not None else ""
    if q is not None:
        q.stop()
    return err


def test_sessionize_restart_wrong_state_version_fails_loud(spark, tmp_path):
    """Same FIELD SHAPE, different in-band version: Spark's built-in
    state-schema check cannot see this (shape-identical), so the
    version tag in the state tuple must raise the documented error."""
    t_us = 1_704_067_200_000_000
    src, ckpt, schema = _crafted_sessionize_checkpoint(
        spark, tmp_path,
        "schema_ver long, starts array<long>, lasts array<long>, "
        "ns array<long>, totals array<double>",
        (1, [t_us], [t_us], [1], [1.0]),  # version 1 != current
    )
    err = _restart_sessionize_and_capture_error(
        spark, src, ckpt, schema, str(tmp_path / "vout")
    )
    assert "state-schema version mismatch" in err, err[:2000]


def test_sessionize_restart_pre_tag_shape_fails_loud(spark, tmp_path):
    """A checkpoint written with the round-5/6 UNVERSIONED four-array
    state shape must be rejected at restart by Spark's state-schema
    compatibility check — a loud error, never a silent mis-decode."""
    t_us = 1_704_067_200_000_000
    src, ckpt, schema = _crafted_sessionize_checkpoint(
        spark, tmp_path,
        "starts array<long>, lasts array<long>, "
        "ns array<long>, totals array<double>",
        ([t_us], [t_us], [1], [1.0]),
    )
    err = _restart_sessionize_and_capture_error(
        spark, src, ckpt, schema, str(tmp_path / "vout")
    )
    low = err.lower()
    assert "schema" in low and "state" in low, err[:2000]


# round 8 (VERDICT r07 item 4): the v2->v3 migration REHEARSAL — the
# forward path the version tag was built for. A real production bump
# must follow exactly this pattern: register a step in
# _SESSION_STATE_MIGRATIONS re-encoding the four field arrays one
# version forward, and the restarted stream upgrades per-key state
# in place (rolling, no offline checkpoint rewrite).

def _make_v2_sessionize_checkpoint(spark, tmp_path, tag):
    """Run the REAL v2 sessionize over a first batch, leaving one open
    per-key interval in checkpointed state, then stage a second batch
    so a restart must decode that state."""
    import datetime as dt

    src = str(tmp_path / f"{tag}_src")
    ckpt = str(tmp_path / f"{tag}_ckpt")
    out = str(tmp_path / f"{tag}_out")
    t0 = dt.datetime(2024, 1, 1)
    rows_schema = "user_id long, ts timestamp, value double"
    spark.createDataFrame(
        [(7, t0, 1.0), (7, t0 + dt.timedelta(minutes=5), 2.0)], rows_schema
    ).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = ss.stream_from_files(spark, src, "parquet", schema=schema)
    q = (
        ss.sessionize(stream, gap_minutes=30, watermark="2 hours")
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    _wait(q)
    # a much later event: after it is processed the watermark passes
    # the open v2 session's end + gap, so the restarted code MUST
    # decode (and under v3, migrate) the stored interval to close it
    spark.createDataFrame(
        [(7, t0 + dt.timedelta(hours=10), 5.0)], rows_schema
    ).write.mode("append").parquet(src)
    return src, ckpt, out, schema, t0, rows_schema


def test_sessionize_v2_to_v3_migration_rehearsal(spark, tmp_path):
    """Restarting a real v2 checkpoint under v3 code with a registered
    2->3 migration step must succeed AND produce exactly the sessions
    gap semantics defines over the full event set — proof the v2 state
    was read THROUGH the migration (the version check would have raised
    otherwise, see the negative control below) and merged with
    post-restart events."""
    import datetime as dt

    src, ckpt, out, schema, t0, rows_schema = _make_v2_sessionize_checkpoint(
        spark, tmp_path, "mig"
    )

    def shim_2_to_3(starts, lasts, ns, totals):
        # v3 keeps the v2 field meaning (the rehearsal re-encode is the
        # identity); a real bump re-encodes values here
        return starts, lasts, ns, totals

    def restart_v3():
        stream = ss.stream_from_files(spark, src, "parquet", schema=schema)
        q = (
            ss.sessionize(
                stream, gap_minutes=30, watermark="2 hours",
                _state_version=3, _migrations={2: shim_2_to_3},
            )
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        _wait(q)

    restart_v3()  # processes the 10h event; migrates + rewrites state at v3
    # third batch advances the watermark to t0+18h, closing both the
    # migrated v2 session (t0..t0+5min) and the 10h singleton
    spark.createDataFrame(
        [(7, t0 + dt.timedelta(hours=20), 0.5)], rows_schema
    ).write.mode("append").parquet(src)
    restart_v3()  # also proves a v3->v3 resume over MIGRATED state

    got = {
        (r.session_start, r.session_end, r.n_events, r.total_value)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (t0, t0 + dt.timedelta(minutes=5), 2, 3.0),
        (t0 + dt.timedelta(hours=10), t0 + dt.timedelta(hours=10), 1, 5.0),
    }, got


def test_sessionize_v3_without_migration_still_fails_loud(spark, tmp_path):
    """Negative control for the rehearsal: the same v2 checkpoint under
    v3 code WITHOUT a registered migration path must raise the loud
    version-mismatch error — proving the rehearsal's success actually
    went through the migration step rather than never reading state."""
    src, ckpt, out, schema, _t0, _rs = _make_v2_sessionize_checkpoint(
        spark, tmp_path, "nomig"
    )
    stream = ss.stream_from_files(spark, src, "parquet", schema=schema)
    sessions = ss.sessionize(
        stream, gap_minutes=30, watermark="2 hours",
        _state_version=3, _migrations={},
    )
    q = None
    err = None
    try:
        q = (
            sessions.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
    except Exception as e:  # noqa: BLE001 — the loud failure IS the assert
        err = str(e)
    if err is None and q is not None:
        exc = q.exception()
        err = str(exc) if exc is not None else ""
    if q is not None:
        q.stop()
    assert "state-schema version mismatch" in err, err[:2000]
    assert "no registered migration path" in err, err[:2000]


def test_streaming_incremental_dedup_stream_equals_batch(spark, tmp_path):
    """Batch≡stream pin for the round-11 streaming incremental dedup:
    files fed oldest-first one per micro-batch, duplicates planted
    both within and across batches — the union of per-batch survivors
    must equal the batch hash_dedup over the whole input, and the
    digest store must hold exactly one digest per kept row. Then the
    idempotence pin: re-feeding the same content under a new run_id
    (fresh checkpoint, same store) yields ZERO survivors."""
    from exporter_spark.operators.dedup import hash_dedup

    src = str(tmp_path / "docs_src")
    waves = [
        [(0, "alpha"), (1, "beta")],
        [(10, "alpha"), (11, "gamma"), (12, "gamma")],  # cross + in-batch dup
        [(20, "beta"), (21, "delta")],
    ]
    for rows in waves:
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
        time.sleep(0.6)  # distinct mtimes → deterministic batch order

    def run(out, ck, run_id):
        stream = ss.stream_from_files(
            spark, src, "parquet", schema="doc_id long, text string",
            maxFilesPerTrigger=1,
        )
        q = ss.streaming_incremental_dedup(
            stream, ["text"], "doc_id",
            store_path=str(tmp_path / "store"), output_path=out,
            run_id=run_id, checkpoint=ck,
        )
        _wait(q)
        return sorted(
            r[0]
            for r in spark.read.parquet(out).select("doc_id").collect()
        )

    got = run(str(tmp_path / "out1"), str(tmp_path / "ck1"), "r0")
    all_rows = spark.createDataFrame(
        [r for w in waves for r in w], "doc_id long, text string"
    )
    want = sorted(
        r[0]
        for r in hash_dedup(all_rows, ["text"], "doc_id")
        .select("doc_id")
        .collect()
    )
    assert got == want == [0, 1, 11, 21]
    store = spark.read.parquet(str(tmp_path / "store"))
    assert store.select("__digest__").distinct().count() == 4
    # idempotence through the store: same content, new run, fresh
    # checkpoint — everything is already kept, nothing survives
    again = run(str(tmp_path / "out2"), str(tmp_path / "ck2"), "r1")
    assert again == []
    # FRESH read: the earlier frame's file index was snapshotted
    # before the replay ran, so re-counting it could never see
    # digests wrongly appended during the replay (round-11 review)
    store = spark.read.parquet(str(tmp_path / "store"))
    assert store.select("__digest__").distinct().count() == 4


def test_streaming_incremental_minhash_equals_sequential(spark, tmp_path):
    """Stream≡sequential pin for the round-11 streaming NEAR-DUP
    face: waves fed oldest-first one file per micro-batch must produce
    exactly the survivors of running incremental_minhash_dedup
    sequentially over the same waves (the operator's own greedy
    semantics), with near-dups planted within a batch, across
    batches, and against the store. Then the replay pin: re-feeding
    the same content under a new run_id drops everything long enough
    to be stored."""
    import hashlib as _h

    from exporter_spark.operators.incremental import (
        incremental_minhash_dedup,
    )

    def rnd(tag, n):
        out, i = [], 0
        while sum(len(x) for x in out) < n:
            out.append(_h.md5(f"{tag}:{i}".encode()).hexdigest())
            i += 1
        return "".join(out)[:n]

    base_a = rnd("sa", 200)
    base_b = rnd("sb", 200)
    waves = [
        [(1, base_a), (2, base_b)],
        # 10 near-dups stored 1; 11/12 are an in-batch near-dup pair
        [
            (10, base_a[:-24] + rnd("m1", 24)),
            (11, rnd("w2", 200)),
            (12, rnd("w2", 200)[:-24] + rnd("m2", 24)),
        ],
        # 20 near-dups stored 2; 21 novel
        [(20, base_b[:-24] + rnd("m3", 24)), (21, rnd("w3", 200))],
    ]
    src = str(tmp_path / "docs_src")
    for rows in waves:
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
        time.sleep(0.6)

    def run(out, ck, run_id):
        stream = ss.stream_from_files(
            spark, src, "parquet", schema="doc_id long, text string",
            maxFilesPerTrigger=1,
        )
        q = ss.streaming_incremental_minhash_dedup(
            stream, "doc_id", "text",
            store_path=str(tmp_path / "store"), output_path=out,
            run_id=run_id, checkpoint=ck, threshold=0.5,
        )
        _wait(q)
        return sorted(
            r[0]
            for r in spark.read.parquet(out).select("doc_id").collect()
        )

    got = run(str(tmp_path / "out1"), str(tmp_path / "ck1"), "r0")

    # the sequential incremental run over the same waves
    store = None
    want = []
    for rows in waves:
        b = spark.createDataFrame(rows, "doc_id long, text string")
        surv, app = incremental_minhash_dedup(
            b, "doc_id", "text", store, threshold=0.5
        )
        want += [r[0] for r in surv.select("doc_id").collect()]
        store = app if store is None else store.unionByName(app)
    assert got == sorted(want) == [1, 2, 11, 21]

    # replay under a new run_id: every doc near-dups its stored self
    again = run(str(tmp_path / "out2"), str(tmp_path / "ck2"), "r1")
    assert again == []


def test_streaming_incremental_dedup_corrupt_store_fails_loud(spark, tmp_path):
    """Only a MISSING store directory means bootstrap; an unreadable
    store must fail the batch — silently treating it as empty would
    wave every duplicate through (round-11 review)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "alpha")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src)
    store = tmp_path / "store"
    store.mkdir()
    (store / "part-junk.parquet").write_text("this is not parquet")
    stream = ss.stream_from_files(
        spark, src, "parquet", schema="doc_id long, text string"
    )
    q = ss.streaming_incremental_dedup(
        stream, ["text"], "doc_id",
        store_path=str(store), output_path=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ck"),
    )
    with pytest.raises(StreamingQueryException):
        q.processAllAvailable()
    q.stop()


def test_streaming_incremental_dedup_recovers_from_uncommitted_store(
    spark, tmp_path
):
    """A crash between store-directory creation and parquet commit
    leaves staging files but no committed data; the replay must treat
    that as bootstrap, not crash-loop on an unreadable store
    (round-11 review)."""
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "alpha"), (2, "alpha"), (3, "beta")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(src)
    store = tmp_path / "store" / "__increment__=dead-0" / "_temporary" / "0"
    store.mkdir(parents=True)
    (store / "task_junk").write_text("half-written staging data")
    stream = ss.stream_from_files(
        spark, src, "parquet", schema="doc_id long, text string"
    )
    out = str(tmp_path / "out")
    q = ss.streaming_incremental_dedup(
        stream, ["text"], "doc_id",
        store_path=str(tmp_path / "store"), output_path=out,
        checkpoint=str(tmp_path / "ck"),
    )
    _wait(q)
    got = sorted(
        r[0] for r in spark.read.parquet(out).select("doc_id").collect()
    )
    assert got == [1, 3]


def test_run_id_default_tracks_checkpoint_location():
    from exporter_spark.streaming.stream import _run_id_for

    assert _run_id_for("/ck/a", None) == _run_id_for("/ck/a", None)
    assert _run_id_for("/ck/a", None) != _run_id_for("/ck/b", None)
    assert _run_id_for("/ck/a", "explicit") == "explicit"


def test_compact_increment_store_preserves_dedup_behavior(spark, tmp_path):
    """Compaction folds N increment partitions into one without
    changing what the store MEANS: the next increment drops exactly
    the same rows against the compacted store, and compaction refuses
    to overwrite an existing target."""
    from exporter_spark.operators.incremental import incremental_exact_dedup

    store = str(tmp_path / "store")
    for i, text in enumerate(["alpha", "beta", "gamma"]):
        spark.createDataFrame([(f"v{len(text)}:{text}",)], "__digest__ string") \
            .write.parquet(f"{store}/__increment__=r0-{i}")
    # real digests, not hand-built: bootstrap from the texts
    import shutil

    shutil.rmtree(store)
    b = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id long, text string"
    )
    _, digs = incremental_exact_dedup(b, ["text"], "doc_id")
    for i in range(3):  # three single-digest increments
        digs.filter(f"__digest__ = '{digs.collect()[i][0]}'").write.parquet(
            f"{store}/__increment__=r0-{i}"
        )

    compacted = str(tmp_path / "store_v2")
    ss.compact_increment_store(spark, store, compacted, partitions=1)

    delta = spark.createDataFrame(
        [(10, "alpha"), (11, "novel")], "doc_id long, text string"
    )
    for path in (store, compacted):
        seen = spark.read.parquet(path)
        surv, _ = incremental_exact_dedup(delta, ["text"], "doc_id", seen)
        assert sorted(r[0] for r in surv.select("doc_id").collect()) == [11]
    # single increment partition, single data file
    import os

    subdirs = [
        d for d in os.listdir(compacted) if d.startswith("__increment__=")
    ]
    assert subdirs == ["__increment__=compacted-0"]
    # refuses to clobber
    with pytest.raises(Exception, match="already exists|LOCATION_ALREADY_EXISTS"):
        ss.compact_increment_store(spark, store, compacted)


# ------------------------------------------- compaction resume guard (r12)


def _feed_wave(spark, src, rows):
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(src)
    time.sleep(0.6)


def _run_inc_dedup(spark, src, store, out, ck, **kw):
    stream = ss.stream_from_files(
        spark, src, "parquet", schema="doc_id long, text string",
        maxFilesPerTrigger=1,
    )
    q = ss.streaming_incremental_dedup(
        stream, ["text"], "doc_id",
        store_path=store, output_path=out, checkpoint=ck, **kw,
    )
    _wait(q)


def test_compaction_resume_guard_refuses_unsafe_resume(spark, tmp_path):
    """VERDICT r11 #2 'Done' criterion: the exact unsafe resume — an
    old checkpoint whose final batch appended its digests but missed
    the checkpoint commit, pointed at a compacted store — fails LOUDLY
    before the query starts, instead of silently anti-joining the
    replayed batch's own rows away."""
    import os

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    _feed_wave(spark, src, [(1, "alpha"), (2, "beta")])
    _feed_wave(spark, src, [(10, "alpha"), (11, "gamma")])
    _run_inc_dedup(spark, src, store, out, ck)
    assert sorted(
        r[0] for r in spark.read.parquet(out).select("doc_id").collect()
    ) == [1, 2, 11]

    # simulate the crash: the final batch's store append landed but
    # the checkpoint commit did not -> that batch will replay
    commits = sorted(
        f for f in os.listdir(f"{ck}/commits") if not f.startswith(".")
    )
    os.remove(f"{ck}/commits/{commits[-1]}")

    compacted = str(tmp_path / "store_v2")
    ss.compact_increment_store(spark, store, compacted)

    # old checkpoint + compacted store = the silent-loss case -> loud
    with pytest.raises(RuntimeError, match="refusing to resume"):
        _run_inc_dedup(spark, src, compacted, out, ck)

    # a FRESH checkpoint against the compacted store is the documented
    # safe procedure: reprocess from scratch, everything already kept
    # drops (idempotence), prior survivors stay (run_id-namespaced)
    out2 = str(tmp_path / "out2")
    _run_inc_dedup(spark, src, compacted, out2, str(tmp_path / "ck2"))
    assert spark.read.parquet(out2).count() == 0


def test_compaction_resume_guard_legacy_checkpoint_refused(spark, tmp_path):
    """ADVICE r12 (medium): a batches-begun checkpoint WITHOUT a
    store-state marker predates the guard — it ran under naming
    scheme 1 (fixed default run_ids, un-namespaced batch=N survivor
    dirs), where a replayed batch under today's scheme would not
    self-exclude its own old-rid store append. Round 12 silently
    adopted it when the store was never compacted; round 13 refuses
    it OUTRIGHT, against compacted and original store alike."""
    import os

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    _feed_wave(spark, src, [(1, "alpha")])
    _run_inc_dedup(spark, src, store, out, ck)
    marker = f"{ck}/_increment_store_state.json"
    os.remove(marker)

    compacted = str(tmp_path / "store_v2")
    ss.compact_increment_store(spark, store, compacted)
    with pytest.raises(RuntimeError, match="no store-state marker"):
        _run_inc_dedup(spark, src, compacted, out, ck)

    # against the ORIGINAL store the markerless-but-started
    # checkpoint is refused too (its naming scheme is unprovable)
    _feed_wave(spark, src, [(20, "alpha"), (21, "delta")])
    with pytest.raises(RuntimeError, match="no store-state marker"):
        _run_inc_dedup(spark, src, store, out, ck)

    # the documented recovery — a FRESH checkpoint against the same
    # store — reprocesses and keeps only the genuinely new doc
    out2 = str(tmp_path / "out2")
    _run_inc_dedup(spark, src, store, out2, str(tmp_path / "ck2"))
    got = sorted(
        r[0] for r in spark.read.parquet(out2).select("doc_id").collect()
    )
    assert got == [21]


def test_resume_guard_run_id_and_scheme_pinned(spark, tmp_path):
    """ADVICE r12 (medium): the marker records the naming scheme and
    the effective run_id. A resume whose run_id no longer matches (an
    explicit run_id changed across restarts) or whose recorded scheme
    differs is refused; a round-12 marker (no run_id/scheme fields,
    same naming scheme) is adopted and backfilled in place."""
    import json

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    _feed_wave(spark, src, [(1, "alpha")])
    _run_inc_dedup(spark, src, store, out, ck, run_id="runA")
    marker = f"{ck}/_increment_store_state.json"
    recorded = json.loads(fsio.read_text(marker, spark))
    assert recorded["run_id"] == "runA"
    assert recorded["scheme"] == 2

    # changed explicit run_id under the same checkpoint -> refused
    _feed_wave(spark, src, [(2, "beta")])
    with pytest.raises(RuntimeError, match="last ran as run_id 'runA'"):
        _run_inc_dedup(spark, src, store, out, ck, run_id="runB")

    # a round-12 marker: same fields minus scheme/run_id -> adopted,
    # backfilled, and the wave processes normally
    legacy = {
        k: v for k, v in recorded.items() if k not in ("scheme", "run_id")
    }
    fsio.write_text(marker, json.dumps(legacy, sort_keys=True), spark)
    _run_inc_dedup(spark, src, store, out, ck, run_id="runA")
    backfilled = json.loads(fsio.read_text(marker, spark))
    assert backfilled["run_id"] == "runA"
    assert backfilled["scheme"] == 2
    got = sorted(
        r[0] for r in spark.read.parquet(out).select("doc_id").collect()
    )
    assert got == [1, 2]

    # a future/unknown scheme -> refused with the scheme message
    fsio.write_text(
        marker, json.dumps({**backfilled, "scheme": 1}, sort_keys=True), spark
    )
    with pytest.raises(RuntimeError, match="naming scheme 1"):
        _run_inc_dedup(spark, src, store, out, ck, run_id="runA")


def test_resume_guard_torn_marker_fails_actionably(spark, tmp_path):
    """VERDICT r12 #2 'Done' criterion: a truncated store-state marker
    (torn write from a pre-atomic version) gets the crafted recovery
    message, not a bare JSONDecodeError."""
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    _feed_wave(spark, src, [(1, "alpha")])
    _run_inc_dedup(spark, src, store, out, ck)
    marker = f"{ck}/_increment_store_state.json"
    whole = fsio.read_text(marker, spark)
    fsio.write_text(marker, whole[: len(whole) // 2], spark)
    with pytest.raises(RuntimeError, match="unreadable store-state marker"):
        _run_inc_dedup(spark, src, store, out, ck)


def test_crashed_compaction_target_fails_loud(spark, tmp_path):
    """VERDICT r12 #1 'Done' criterion: interrupt compaction between
    the sidecar writes and the parquet commit — the target then holds
    manifests WITHOUT data, and both resume paths refuse it loudly
    instead of bootstrapping into it (which would treat the whole
    compacted history as empty and wave every duplicate through)."""
    import os

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    _feed_wave(spark, src, [(1, "alpha"), (2, "beta")])
    _run_inc_dedup(spark, src, store, out, ck)

    # crash the compaction at the write-order boundary: sidecars have
    # committed, the parquet rewrite has not
    compacted = str(tmp_path / "store_v2")

    class Boom(RuntimeError):
        pass

    import pyspark.sql.readwriter as rw

    real_parquet = rw.DataFrameWriter.parquet
    try:
        def boom(self, *a, **kw):
            raise Boom("simulated crash before the parquet commit")

        rw.DataFrameWriter.parquet = boom
        with pytest.raises(Boom):
            ss.compact_increment_store(spark, store, compacted)
    finally:
        rw.DataFrameWriter.parquet = real_parquet
    assert os.path.exists(f"{compacted}/_compactions.json")

    # driver-side: a fresh checkpoint pointed at the crashed target
    # refuses before the query starts
    with pytest.raises(RuntimeError, match="no committed data"):
        _run_inc_dedup(
            spark, src, compacted, str(tmp_path / "out2"),
            str(tmp_path / "ck2"),
        )
    # and the per-batch read path refuses it too (belt and braces)
    with pytest.raises(RuntimeError, match="interrupted compact_increment_store"):
        ss._read_increment_store(spark, compacted, "r0-0")

    # recovery per the message: delete the target, re-run, resume
    import shutil

    shutil.rmtree(compacted)
    ss.compact_increment_store(spark, store, compacted)
    _run_inc_dedup(
        spark, src, compacted, str(tmp_path / "out3"), str(tmp_path / "ck3")
    )
    assert spark.read.parquet(str(tmp_path / "out3")).count() == 0


def test_store_swap_under_live_checkpoint_refused(spark, tmp_path):
    """Pointing a checkpoint that has begun batches at a DIFFERENT
    store breaks replay self-exclusion — refused outright."""
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    _feed_wave(spark, src, [(1, "alpha")])
    _run_inc_dedup(
        spark, src, str(tmp_path / "store"), str(tmp_path / "out"), ck
    )
    with pytest.raises(RuntimeError, match="created against store"):
        _run_inc_dedup(
            spark, src, str(tmp_path / "other_store"),
            str(tmp_path / "out"), ck,
        )


def test_fresh_checkpoint_rerun_preserves_prior_survivors(spark, tmp_path):
    """ADVICE r11 (medium): survivor directories are run_id-namespaced,
    so re-feeding the same source under a FRESH checkpoint into the
    SAME output_path — batch ids restart at 0, every batch near-empty
    against the grown store — must not overwrite prior batches'
    survivors with nothing."""
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    _feed_wave(spark, src, [(1, "alpha"), (2, "beta")])
    _feed_wave(spark, src, [(10, "alpha"), (11, "gamma")])
    _run_inc_dedup(spark, src, store, out, str(tmp_path / "ck1"))
    want = [1, 2, 11]
    assert sorted(
        r[0] for r in spark.read.parquet(out).select("doc_id").collect()
    ) == want

    # fresh checkpoint (fresh derived run_id), same output_path
    _run_inc_dedup(spark, src, store, out, str(tmp_path / "ck2"))
    got = sorted(
        r[0] for r in spark.read.parquet(out).select("doc_id").collect()
    )
    assert got == want  # rerun added nothing AND destroyed nothing


def test_streaming_minhash_store_params_manifest(spark, tmp_path):
    """The near-dup face writes the parameter manifest at bootstrap
    and a drifted restart fails loudly instead of silently mis-banding
    (bands drift is undetectable from the stored arrays)."""
    import hashlib as _h

    from exporter_spark.operators.incremental import read_store_params

    def rnd(tag, n):
        out, i = [], 0
        while sum(len(x) for x in out) < n:
            out.append(_h.md5(f"{tag}:{i}".encode()).hexdigest())
            i += 1
        return "".join(out)[:n]

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    _feed_wave(spark, src, [(1, rnd("a", 200)), (2, rnd("b", 200))])

    def run(ck, out, **kw):
        stream = ss.stream_from_files(
            spark, src, "parquet", schema="doc_id long, text string",
            maxFilesPerTrigger=1,
        )
        q = ss.streaming_incremental_minhash_dedup(
            stream, "doc_id", "text",
            store_path=store, output_path=out, checkpoint=ck,
            threshold=0.5, **kw,
        )
        _wait(q)
        return q

    run(str(tmp_path / "ck1"), str(tmp_path / "out1"))
    m = read_store_params(store, spark)
    assert m == {
        "num_hashes": 32, "bands": 8, "shingle_n": 8, "family": "md5"
    }

    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="parameter drift"):
        stream = ss.stream_from_files(
            spark, src, "parquet", schema="doc_id long, text string",
        )
        q = ss.streaming_incremental_minhash_dedup(
            stream, "doc_id", "text",
            store_path=store, output_path=str(tmp_path / "out2"),
            checkpoint=str(tmp_path / "ck2"), threshold=0.5, bands=16,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def test_run_id_validation_and_normalization():
    import os

    from exporter_spark.streaming.stream import _run_id_for

    # spelling-invariant derived run_id (ADVICE r11): trailing slash,
    # relative-vs-absolute
    assert _run_id_for("/ck/a/", None) == _run_id_for("/ck/a", None)
    rel = os.path.relpath("/tmp/some_ck", os.getcwd())
    assert _run_id_for(rel, None) == _run_id_for("/tmp/some_ck", None)
    # URIs: trailing slash only (no driver-side resolution)
    assert _run_id_for("s3a://b/ck/", None) == _run_id_for("s3a://b/ck", None)
    # explicit run_ids are charset-gated: partition-value type
    # inference must stay string
    with pytest.raises(ValueError, match="run_id"):
        _run_id_for("/ck/a", "2024-01")
    with pytest.raises(ValueError, match="run_id"):
        _run_id_for("/ck/a", "r0/../evil")
    assert _run_id_for("/ck/a", "run_7-x") == "run_7-x"


def test_chained_compaction_lineage(spark, tmp_path):
    """Compacting a compacted store carries the WHOLE lineage forward:
    a fresh checkpoint adopts every compaction id at once, while a
    checkpoint that adopted only the first compaction refuses the
    second — and the params manifest survives both hops."""
    import json

    from exporter_spark.operators.incremental import (
        append_signature_increment,
        incremental_minhash_dedup,
        read_store_params,
    )

    v1 = str(tmp_path / "v1")
    b = spark.createDataFrame([(1, "alpha" * 10)], "doc_id long, text string")
    _, sig = incremental_minhash_dedup(b, "doc_id", "text")
    append_signature_increment(
        sig, v1, "inc-0", num_hashes=32, bands=8, shingle_n=8, family="md5"
    )

    v2 = str(tmp_path / "v2")
    v3 = str(tmp_path / "v3")
    ss.compact_increment_store(spark, v1, v2, increment_id="c1")
    ss.compact_increment_store(spark, v2, v3, increment_id="c2")
    lineage = json.loads((tmp_path / "v3" / "_compactions.json").read_text())
    assert [r["id"] for r in lineage["compactions"]] == ["c1", "c2"]
    assert read_store_params(v3, spark) is not None  # manifest carried

    # a checkpoint that ran against v2 (adopting c1) refuses v3 (c2
    # unseen); a fresh checkpoint adopts the full lineage and runs
    src = str(tmp_path / "src")
    _feed_wave(spark, src, [(5, "beta" * 10)])

    def run_mh(store, out, ck):
        stream = ss.stream_from_files(
            spark, src, "parquet", schema="doc_id long, text string",
        )
        q = ss.streaming_incremental_minhash_dedup(
            stream, "doc_id", "text",
            store_path=store, output_path=out, checkpoint=ck,
        )
        _wait(q)

    ck = str(tmp_path / "ck")
    run_mh(v2, str(tmp_path / "out1"), ck)
    # pointing the live checkpoint at v3 is refused as a store SWAP
    # (the path-identity check fires before the lineage diff)
    with pytest.raises(RuntimeError, match="created against store"):
        run_mh(v3, str(tmp_path / "out1"), ck)
    # same path, new compaction id (a manual lineage merge — the only
    # way a path gains an id, since compact refuses existing targets):
    # the unseen-id branch refuses
    from exporter_spark import fsio

    v2_lineage = json.loads((tmp_path / "v2" / "_compactions.json").read_text())
    v2_lineage["compactions"].append({"id": "c9", "source_store": v2})
    # via fsio: a raw rewrite would leave the Hadoop .crc sidecar stale
    fsio.write_text(f"{v2}/_compactions.json", json.dumps(v2_lineage), spark)
    with pytest.raises(RuntimeError, match="compacted \\(\\['c9'\\]\\)"):
        run_mh(v2, str(tmp_path / "out1"), ck)
    # fresh checkpoint adopts v3's full two-hop lineage and runs
    run_mh(v3, str(tmp_path / "out2"), str(tmp_path / "ck2"))
