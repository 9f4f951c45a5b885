"""The measured process of one benchmark run (started by run.py).

Set-up (imports, session, warm-up of every op kind), then the fixed op
list in a closed loop with one client, checking each op's output between
ops. Writes its result as JSON to ``--result``; with ``--trace 1`` also
writes every span and the per-op Spark counts to ``--trace-file``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import RECONCILE_ABS_S, RECONCILE_SHARE, Tracer  # noqa: E402


def parse_args(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-file")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, args.root)

    from exporter_spark import fsio
    from exporter_spark.plans.spec import ExportSpec
    from exporter_spark.session import get_spark

    import stats
    from workloads import LAYER_METRICS, WORKLOADS

    t_session = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    session_start_s = time.perf_counter() - t_session
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark, bool(args.trace))
        tracer.wrap(ExportSpec, "compile", "plans.compile")
        tracer.wrap(ExportSpec, "compile_raw", "plans.compile")
        tracer.wrap(fsio, "splice_parts", "fsio.assemble")
        tracer.wrap(fsio, "concat_files", "fsio.assemble")
        wl = WORKLOADS[args.workload](
            spark, args.data, args.out, tracer, args.seconds, args.seed
        )
        wl.cleanup()
        compiles0 = tracer.codegen_compiles()
        t_warm = time.perf_counter()
        warm_up = wl.warm_up_ops()
        for op in warm_up:
            wl.run(op)
            wl.cleanup()
        setup_s = time.time() - args.t0
        setup_compiles = tracer.codegen_compiles() - compiles0
        print(
            f"perfbench: session {session_start_s:.2f} s, warm-up "
            f"{time.perf_counter() - t_warm:.2f} s, set-up {setup_s:.2f} s",
            file=sys.stderr,
        )

        errors: list[str] = []
        done = []  # (op, result, wall seconds)
        failed = 0
        first_of_kind: set[str] = set()
        ops = wl.timed_ops()
        for op in ops:
            try:
                with tracer.op(op.id):
                    t = time.perf_counter()
                    res = wl.run(op)
                    wall = time.perf_counter() - t
            except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
                failed += 1
                errors.append(f"{op.id}: raised\n{traceback.format_exc()}")
                wl.cleanup()
                continue
            op_errors = wl.check(op, res, op.kind not in first_of_kind)
            first_of_kind.add(op.kind)
            wl.cleanup()
            if op_errors:
                failed += 1
                errors.extend(op_errors)
            done.append((op, res, wall))

        busy = sum(w for _, _, w in done)
        lat = stats.latency_summary([w for _, _, w in done])
        result = {
            "workload": args.workload,
            "attempted": len(ops),
            "failed": failed,
            "errors": errors[:20],
            "setup_s": setup_s,
            "busy_s": busy,
            "ops": len(done),
            "rows": sum(r.rows for _, r, _ in done),
            "out_bytes": sum(r.out_bytes for _, r, _ in done),
            "latency": lat,
            "kind_p50_s": {
                kind: statistics.median([w for o, _, w in done if o.kind == kind])
                for kind in sorted({o.kind for o, _, _ in done})
            },
            "repeat": wl.repeat,
            "hygiene": {
                "master": spark.sparkContext.master,
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "driver_heap": spark.conf.get("spark.driver.memory") + " fixed, pre-touched",
                "untimed_warm_up_ops": len(warm_up),
                "timed_ops": len(ops),
            },
        }
        if args.trace:
            result["layers"] = layers(tracer, wl, done, session_start_s)
            result["layers"]["spark.setup_codegen_compiles"] = setup_compiles
            for name in LAYER_METRICS:
                result["layers"].setdefault(name, 0.0)
            tracer.dump(
                args.trace_file,
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "op_walls": {o.id: w for o, _, w in done},
                    "layers": result["layers"],
                },
            )
        tracer.close()
    finally:
        spark.stop()
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


def layers(tracer, wl, done, session_start_s: float) -> dict:
    """Per-layer metrics of the traced run, from spans and the per-op
    status-store counts."""
    from workloads import mean_span

    counts = [tracer.op_counts[o.id] for o, _, _ in done]

    def total(key):
        return sum(c[key] for c in counts)

    n = max(1, len(done))
    rows = sum(r.rows for _, r, _ in done)
    gaps = [tracer.unattributed(o.id) for o, _, _ in done]
    out = {
        "session.start_s": session_start_s,
        "spark.codegen_compiles": total("codegen_compiles"),
        "spark.jobs": total("jobs"),
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.executor_cpu_s": total("executor_cpu_s"),
        "spark.executor_run_s": total("executor_run_s"),
        "spark.gc_s": total("gc_s"),
        "spark.output_bytes": total("output_bytes"),
        "spark.shuffle_write_bytes": total("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": total("shuffle_read_bytes"),
        "spark.spill_disk_bytes": total("spill_disk_bytes"),
        "spark.driver_outside_jobs_s": total("driver_outside_jobs_s") / n,
        "sources.rows_scanned": total("rows_scanned"),
        "sources.bytes_scanned": total("bytes_scanned"),
        "sources.scan_ratio": total("rows_scanned") / rows if rows else 0.0,
        "trace.unattributed_max_share": max(g / w for g, w in gaps) if gaps else 0.0,
        "trace.unattributed_mean_s": sum(g for g, _ in gaps) / n,
        "trace.unreconciled_ops": sum(
            g > max(RECONCILE_SHARE * w, RECONCILE_ABS_S) for g, w in gaps
        ),
    }
    ops = [o for o, _, _ in done]
    for layer in ("sources.load", "plans.spec", "plans.compile"):
        out[f"{layer}_s"] = mean_span(tracer, ops, layer)
    out.update(wl.layer_metrics(done))
    extra = wl.finish()
    if "candidates" in extra:
        out["operators.dedup.candidates"] = extra["candidates"]
        out["operators.dedup.verify_yield"] = (
            extra["rep_verified"] / extra["candidates"] if extra["candidates"] else 0.0
        )
    return out


if __name__ == "__main__":
    sys.exit(main())
