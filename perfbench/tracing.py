"""Spans and Spark status-store counts for the traced run.

Spans are recorded by the benchmark's own code around its calls into each
layer of ``exporter_spark`` (and, through ``Tracer.wrap``, around calls
that one layer makes into another). Everything stays in memory and is
written to one JSON file when the run ends. With tracing off every method
here is a no-op, so the untraced run measures the program alone.
"""

from __future__ import annotations

import contextlib
import json
import time

# An op reconciles when the time not covered by its direct child spans
# is at most this share of its wall time, or RECONCILE_ABS_S if larger.
RECONCILE_SHARE = 0.05
RECONCILE_ABS_S = 0.02


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    end = None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


def reconcile(spans: list[dict], op_span_id: int) -> float:
    """Seconds of the op span not covered by its direct children."""
    op = next(s for s in spans if s["id"] == op_span_id)
    kids = [
        (max(s["start"], op["start"]), min(s["end"], op["end"]))
        for s in spans
        if s["parent"] == op_span_id
    ]
    return (op["end"] - op["start"]) - union_length(kids)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.op_counts: dict[str, dict] = {}
        self._stack: list[int] = []
        self._op: str | None = None
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span around every call of ``owner.attr`` until
        ``close``. Used for calls one layer makes into another, which
        the benchmark does not make itself."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- ops -------------------------------------------------------------
    @contextlib.contextmanager
    def op(self, op_id: str):
        """One benchmark op: a root span, a Spark job group, and the
        status-store counts of the jobs that ran under it."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, op_id)
        compiles0 = self.codegen_compiles()
        wall0 = time.time()
        self._op = op_id
        try:
            with self.span("op"):
                yield
        finally:
            wall1 = time.time()
            self._op = None
            sc._jsc.clearJobGroup()  # noqa: SLF001
            counts = self._spark_counts(op_id, wall0, wall1)
            counts["codegen_compiles"] = self.codegen_compiles() - compiles0
            self.op_counts[op_id] = counts

    def op_span(self, op_id: str) -> dict:
        return next(s for s in self.spans if s["op"] == op_id and s["name"] == "op")

    def layer_seconds(self, op_id: str) -> dict[str, float]:
        """Duration of every span of one op, by span name (summed)."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["op"] == op_id and s["name"] != "op":
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def unattributed(self, op_id: str) -> tuple[float, float]:
        """(seconds not covered by the op's layer spans, op wall)."""
        op = self.op_span(op_id)
        return reconcile(self.spans, op["id"]), op["end"] - op["start"]

    def codegen_compiles(self) -> int:
        """Code generations compiled so far in this JVM (0 untraced)."""
        if not self.enabled:
            return 0
        jvm = self.spark._jvm  # noqa: SLF001
        return int(
            jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount()
        )

    def _spark_counts(self, op_id: str, wall0: float, wall1: float) -> dict:
        """Jobs, stages, tasks and stage metrics of the op's job group,
        read from the status store after the listener bus drains."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()  # noqa: SLF001
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = self.spark._jvm  # noqa: SLF001
        no_quantiles = getattr(store, "stageData$default$5")()
        c = dict.fromkeys(
            (
                "jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s",
                "gc_s", "rows_scanned", "bytes_scanned", "output_bytes",
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_disk_bytes",
            ),
            0,
        )
        intervals = []
        seen: set[int] = set()
        for jid in sc.statusTracker().getJobIdsForGroup(op_id):
            job = store.job(jid)
            c["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append(
                    (
                        max(wall0, job.submissionTime().get().getTime() / 1000.0),
                        min(wall1, job.completionTime().get().getTime() / 1000.0),
                    )
                )
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = int(it.next())
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(
                    sid, False, jvm.java.util.ArrayList(), False, no_quantiles
                ).iterator()
                while attempts.hasNext():
                    st = attempts.next()
                    if st.status().toString() != "COMPLETE":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numTasks()
                    c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    c["executor_run_s"] += st.executorRunTime() / 1e3
                    c["gc_s"] += st.jvmGcTime() / 1e3
                    c["rows_scanned"] += st.inputRecords()
                    c["bytes_scanned"] += st.inputBytes()
                    c["output_bytes"] += st.outputBytes()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["shuffle_read_bytes"] += st.shuffleReadBytes()
                    c["spill_disk_bytes"] += st.diskBytesSpilled()
        c["driver_outside_jobs_s"] = (wall1 - wall0) - union_length(
            [iv for iv in intervals if iv[1] > iv[0]]
        )
        return c

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"spans": self.spans, "op_counts": self.op_counts, **extra}, fh
            )
