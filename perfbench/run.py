#!/usr/bin/env python3
"""Benchmark of the exporter_spark export engine.

    python3 perfbench/run.py --workload bulk_export --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` (once
per seed, outside the measured process), then one measured process does
its set-up and a fixed op list in a closed loop with one client. With
``--trace 0`` the last stdout line holds the end-to-end metrics, with
``--trace 1`` the per-layer ones. Every file the benchmark touches lives
under ``.perfbench/`` in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKER_TIMEOUT_S = 170
DRIVER_MEMORY = "2g"
# a measured value that must repeat exactly on every traced run of a seed
REPEATED_COUNTS = (
    "spark.jobs",
    "spark.stages",
    "sources.rows_scanned",
    "operators.dedup.candidates",
    "operators.dedup.verified_pairs",
    "operators.dedup.cc_edges",
)
END_TO_END_UNITS = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "output_mb_per_s": "MB/s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "peak_rss_mb": "MB",
}


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_ratio", "_share", "_yield")):
        return "ratio"
    return "count"


def _load(name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(HERE, f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def prebuild_jar(root: str, tmp: str) -> str:
    """Build the javakernel jar into the measured process's temp dir, so
    no measured process pays the build. Loaded by file path: importing
    the package would start pyspark here."""
    import tempfile

    tempfile.tempdir = tmp
    spec = importlib.util.spec_from_file_location(
        "javakernel", os.path.join(root, "exporter_spark", "javakernel", "__init__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    if not mod.javac_available():
        return "no JDK"
    return os.path.basename(mod.build_jar())


class RssSampler(threading.Thread):
    """Peak summed resident memory of a process tree: the measured
    process, its JVM and the JVM's Python workers (which run in a process
    group of their own, so the tree is walked by parent pid). Each
    process counts its proportional set size: RSS with every shared page
    split among the processes sharing it, so the Python workers, forked
    from one daemon, are not counted once per fork."""

    PERIOD_S = 0.25

    def __init__(self, root_pid: int):
        super().__init__(daemon=True)
        self.root = root_pid
        self.peak = 0
        # process groups of the tree: Spark's Python daemon makes its own,
        # and its forked workers may outlive the last sample
        self.groups: set[int] = set()
        self.stop = threading.Event()

    def sample(self) -> int:
        children: dict[int, list[tuple[int, int]]] = {}
        for pid, _, ppid, pgrp in _procs():
            children.setdefault(ppid, []).append((pid, pgrp))
        total, todo = 0, [(self.root, self.root)]  # its own session
        while todo:
            pid, pgrp = todo.pop()
            self.groups.add(pgrp)
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def run(self) -> None:
        while not self.stop.wait(self.PERIOD_S):
            self.peak = max(self.peak, self.sample())

    def alive(self) -> list[int]:
        """Running processes of the tree's groups (zombies have ended)."""
        return [
            pid for pid, state, _, pgrp in _procs()
            if pgrp in self.groups and state != "Z"
        ]


def _procs():
    """(pid, state, ppid, process group) of every process."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the fields after the parenthesised command: state ppid pgrp ...
        state, ppid, pgrp = stat.rsplit(")", 1)[1].split()[:3]
        yield int(entry), state, int(ppid), int(pgrp)


def stop_tree(sampler: RssSampler, grace_s: float) -> None:
    """Wait for every process the run started to end; kill what remains."""
    deadline = time.time() + grace_s
    while sampler.alive() and time.time() < deadline:
        time.sleep(0.1)
    for pid in sampler.alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while sampler.alive():
        time.sleep(0.1)


def listed_metrics(root: str, workload: str, trace: int) -> list[str] | None:
    """The metric names BENCHMARK.json lists for this mode, or None when
    the workload is not one of its workloads."""
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
    except FileNotFoundError:
        return None
    if workload not in {w["name"] for w in bench["workloads"]}:
        return None
    return [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "exporter_spark", "__init__.py")):
        print("perfbench: no exporter_spark package here; run from a checkout root",
              file=sys.stderr)
        return 2
    names = ("bulk_export", "interactive_export", "dedup_pipeline")
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}",
              file=sys.stderr)
        return 2

    state_dir = os.path.join(root, ".perfbench")
    inputs = "docs" if args.workload == "dedup_pipeline" else "table"
    data = os.path.join(state_dir, "data", f"{inputs}-seed{args.seed}")
    # per run, so two runs in one checkout cannot delete each other's files
    work = os.path.join(state_dir, "work", str(os.getpid()))
    tmp = os.path.join(state_dir, "tmp")
    for d in (work, tmp, os.path.join(state_dir, "state"), os.path.join(state_dir, "traces")):
        os.makedirs(d, exist_ok=True)
    try:
        return measure(args, root, state_dir, data, work, tmp, inputs)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, root, state_dir, data, work, tmp, inputs) -> int:
    reused = os.path.isdir(data)
    if not reused:
        getattr(_load("datagen"), f"generate_{inputs}")(args.seed, data)
    jar = prebuild_jar(root, tmp)

    cpus = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}"
    result_file = os.path.join(work, "result.json")
    trace_file = os.path.join(state_dir, "traces", f"{tag}.json")
    # no JVM writes outside the checkout (temp files, perf data)
    jvm_files = f"-Djava.io.tmpdir={shlex.quote(tmp)} -XX:-UsePerfData"
    env = dict(
        os.environ,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_GRAFT_CPUS=str(cpus),
        TMPDIR=tmp,
        # a fixed, pre-touched heap: resident memory does not depend on
        # when the collector chose to grow the heap
        PYSPARK_SUBMIT_ARGS="--driver-java-options " + shlex.quote(
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch {jvm_files}"
        ) + " pyspark-shell",
        # the JVM spark-submit starts first to build the driver command
        SPARK_LAUNCHER_OPTS=jvm_files,
        PYTHONHASHSEED="0",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--root", root, "--data", data, "--out", os.path.join(work, "out"),
        "--cpus", str(cpus), "--result", result_file, "--trace-file", trace_file,
    ]
    t0 = time.time()
    proc = subprocess.Popen(
        cmd + ["--t0", repr(t0)], cwd=work, env=env, stdout=sys.stderr,
        start_new_session=True,
    )
    sampler = RssSampler(proc.pid)
    sampler.start()
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    sampler.stop.set()
    sampler.join()
    stop_tree(sampler, grace_s=0 if code is None else 15)
    if code != 0:
        print(f"perfbench: measured process {'timed out' if code is None else f'exited {code}'}",
              file=sys.stderr)
        return 1
    with open(result_file) as fh:
        res = json.load(fh)
    res["hygiene"].update(
        inputs=f"{'reused' if reused else 'generated'} ({os.path.relpath(data, root)})",
        javakernel_jar=jar,
        work_dir=f"{os.path.relpath(work, root)} (checkout disk)",
    )
    return report(args, res, sampler.peak, state_dir, tag, root)


def report(args, res: dict, peak_rss: int, state_dir: str, tag: str, root: str) -> int:
    failures = list(res["errors"])
    failed = res["failed"]
    busy = res["busy_s"]
    if not res["ops"]:
        for f in failures:
            print(f"perfbench: CHECK FAILED: {f}", file=sys.stderr)
        print("perfbench: no op completed", file=sys.stderr)
        return 1
    lat = res["latency"]
    e2e = {
        "setup_s": res["setup_s"],
        "rows_per_s": res["rows"] / busy,
        "output_mb_per_s": res["out_bytes"] / 1e6 / busy,
        "ops_per_s": res["ops"] / busy,
        "peak_rss_mb": peak_rss / 2**20,
    }
    if lat is not None:
        e2e["latency_p50_s"] = lat["p50"]
        e2e["latency_tail_s"] = lat["tail"]

    # values that must repeat on every run of this seed in this checkout
    state_file = os.path.join(state_dir, "state", f"{tag}.json")
    try:
        with open(state_file) as fh:
            before = json.load(fh)
    except FileNotFoundError:
        before = {}
    now = {f"repeat.{k}": v for k, v in res["repeat"].items()}
    layers = res.get("layers", {})
    now.update({f"count.{k}": layers[k] for k in REPEATED_COUNTS if k in layers})
    for key, value in now.items():
        if key in before and before[key] != value:
            failures.append(f"{key}: {value!r} differs from an earlier run's {before[key]!r}")
            failed += 1
    unreconciled = layers.get("trace.unreconciled_ops", 0)
    if unreconciled:
        failures.append(
            f"{unreconciled} ops have more time outside their layer spans than the "
            "trace tolerance"
        )
        failed += unreconciled
    failed = min(failed, res["attempted"])
    merged = {**before, **now}
    if not args.trace:
        merged["untraced_busy_s"] = busy
    with open(state_file, "w") as fh:
        json.dump(merged, fh, indent=0, sort_keys=True)

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}: {res['ops']} ops in {busy:.3f} s busy")
    for name, value in e2e.items():
        print(f"  {name:<34} {value:>14.6g} {END_TO_END_UNITS[name]}")
    if lat is not None:
        print(f"  latency_tail_s is p{lat['tail_pct']:g} of {lat['n']} ops "
              f"({lat['beyond']} beyond it)")
    else:
        print(f"  latency not reported: {res['ops']} ops is below 20")
    print("  set-up: " + ", ".join(f"{k} {v}" for k, v in res["hygiene"].items()))
    print("  median op time by kind: " + ", ".join(
        f"{k} {v:.3f} s" for k, v in res["kind_p50_s"].items()))
    print(f"  error_rate {failed / res['attempted']:.6g} ({failed} of {res['attempted']})")
    if args.trace:
        for name, value in sorted(layers.items()):
            print(f"  {name:<34} {value:>14.6g} {unit_of(name)}")
        if "untraced_busy_s" in before:
            print(f"  tracing overhead {busy - before['untraced_busy_s']:+.3f} s "
                  f"(traced busy minus the last untraced run of this seed)")
    for f in failures:
        print(f"perfbench: CHECK FAILED: {f}", file=sys.stderr)

    listed = listed_metrics(root, args.workload, args.trace)
    source = layers if args.trace else e2e
    names = listed if listed is not None else list(source)
    missing = [n for n in names if n not in source]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    units = {n: (unit_of(n) if args.trace else END_TO_END_UNITS[n]) for n in names}
    print(json.dumps({
        "correct": not failures,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {n: {"value": source[n], "unit": units[n]} for n in names},
    }))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
