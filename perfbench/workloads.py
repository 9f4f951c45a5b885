"""The benchmark's workloads: their op lists, the timed call of each op,
and the correctness check of each op's output.

Every op calls the public ``exporter_spark`` API the way a user would:
load the source, build an ``Exporter`` (or a formatter), export. The
benchmark's own spans mark the calls into each layer; ``Tracer.wrap``
adds spans where one layer calls another (plans, fsio).

Why each workload exists, and which metrics it should move, is written
down in perfbench/README.md.
"""

from __future__ import annotations

import csv
import hashlib
import io
import json
import os
import shutil
import statistics
from dataclasses import dataclass, field

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from exporter_spark import Exporter, ExportSpec, cache_scope
from exporter_spark.formatters.html import HTMLFormatter
from exporter_spark.formatters.json import JSONFormatter
from exporter_spark.operators import dedup
from exporter_spark.sources.files import from_parquet


@dataclass
class Op:
    id: str
    kind: str
    params: dict = field(default_factory=dict)


@dataclass
class Result:
    rows: int
    out_bytes: int
    detail: dict = field(default_factory=dict)


def _dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Hadoop's hidden ``.crc``
    and ``_SUCCESS`` markers excluded)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def _data_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if not f.startswith((".", "_"))
    )


def _json_array_len(path: str) -> int:
    """Elements of a JSON array document written one element per line
    (``[``, ``{...},`` ..., ``{...}``, ``]``); parses every element and
    raises ValueError on any framing or element error."""
    n = 0
    with open(path, encoding="utf-8") as fh:
        if fh.readline() != "[\n":
            raise ValueError(f"{path}: no opening bracket line")
        for line in fh:
            if line == "]\n":
                return n
            json.loads(line.rstrip("\n").rstrip(","))
            n += 1
    raise ValueError(f"{path}: no closing bracket line")


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


class Workload:
    """Base: subclasses define the ops, run one op and check it."""

    name = ""

    def __init__(self, spark, data_dir: str, out_dir: str, tracer, seconds: int, seed: int):
        self.spark = spark
        self.data = data_dir
        self.out = out_dir
        self.tracer = tracer
        self.seconds = seconds
        self.seed = seed
        with open(f"{data_dir}/truth.json") as fh:
            self.truth = json.load(fh)
        # values that must come out identical on every run of this seed
        self.repeat: dict[str, object] = {}

    def expect_repeat(self, key: str, value) -> list[str]:
        """Record ``value`` under ``key``; report a mismatch with an
        earlier record of the same key in this run."""
        if key in self.repeat and self.repeat[key] != value:
            return [f"{key}: {value!r} != earlier {self.repeat[key]!r}"]
        self.repeat[key] = value
        return []

    def load(self, sub: str):
        with self.tracer.span("sources.load"):
            return from_parquet(self.spark, f"{self.data}/{sub}")

    def warm_up_ops(self) -> list[Op]:
        raise NotImplementedError

    def timed_ops(self) -> list[Op]:
        raise NotImplementedError

    def run(self, op: Op) -> Result:
        raise NotImplementedError

    def check(self, op: Op, res: Result, first: bool) -> list[str]:
        raise NotImplementedError

    def cleanup(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out, exist_ok=True)

    def finish(self) -> dict:
        """Untimed work after the timed phase (traced runs only)."""
        return {}

    def layer_metrics(self, ops: list[tuple[Op, Result, float]]) -> dict:
        return {}


# ---------------------------------------------------------------- bulk


class BulkExport(Workload):
    """Distributed writes of the whole typed table, one sink per op."""

    name = "bulk_export"
    # One op per sink, in this order, every cycle.
    KINDS = ("csv", "json", "xml", "parquet", "html", "json_array")
    # A cycle takes about this long on a 4-core host; it sizes the fixed
    # op list from --seconds, with at least MIN_CYCLES (42 ops, so the
    # tail is p75).
    NOMINAL_CYCLE_S = 3.0
    MIN_CYCLES = 7
    # The first cycle of a fresh JVM is 2-3 times slower than the steady
    # state (code generation, the JIT compiler), so it runs untimed; the
    # second is still 1.3-1.7 times slower, but a second untimed cycle
    # does not fit the run's time.
    WARM_UP_CYCLES = 1

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        # loaded once: the ops measure the sinks, not the source
        self.df = from_parquet(self.spark, f"{self.data}/table")

    def _cycle(self, tag: str) -> list[Op]:
        return [Op(f"{tag}-{k}", k) for k in self.KINDS]

    def warm_up_ops(self) -> list[Op]:
        return [op for c in range(self.WARM_UP_CYCLES) for op in self._cycle(f"w{c}")]

    def timed_ops(self) -> list[Op]:
        cycles = max(self.MIN_CYCLES, round(self.seconds / self.NOMINAL_CYCLE_S))
        return [op for c in range(cycles) for op in self._cycle(f"c{c}")]

    def run(self, op: Op) -> Result:
        df = self.df
        kind = op.kind
        target = f"{self.out}/{op.id}"
        # the html and json_array sinks splice their parts through fsio,
        # which Tracer.wrap records as fsio.assemble inside this span
        with self.tracer.span(f"formatters.{kind}.write"):
            if kind == "html":
                fmt = HTMLFormatter()
                fmt.write(df, target + ".parts")
                fmt.assemble(target + ".parts", target + ".html", self.spark)
            elif kind == "json_array":
                JSONFormatter().write_array_file(df, target + ".json")
            else:
                Exporter(df, kind).write(target)
        return Result(self.truth["table_rows"], 0)

    def output_path(self, op: Op) -> str:
        base = f"{self.out}/{op.id}"
        return {"html": base + ".html", "json_array": base + ".json"}.get(op.kind, base)

    def count_rows(self, op: Op) -> int:
        """Rows in the op's output, read back without Spark and one line
        at a time, so the check adds little to the measured memory."""
        path = self.output_path(op)
        if op.kind == "parquet":
            return sum(pq.read_metadata(p).num_rows for p in _data_files(path))
        if op.kind == "csv":
            n = 0
            for part in _data_files(path):
                with open(part, newline="", encoding="utf-8") as fh:
                    n += sum(1 for _ in csv.reader(fh)) - 1  # header per part
            return n
        if op.kind == "json_array":
            return _json_array_len(path)
        marker = {"json": "{", "xml": "<row>", "html": "<tr><td>"}[op.kind]
        n = 0
        for part in [path] if os.path.isfile(path) else _data_files(path):
            with open(part, encoding="utf-8") as fh:
                if op.kind == "json":
                    n += sum(1 for line in fh if line.startswith(marker))
                else:
                    n += sum(line.count(marker) for line in fh)
        return n

    def check(self, op: Op, res: Result, first: bool) -> list[str]:
        res.out_bytes = _dir_bytes(self.output_path(op))
        errors = self.expect_repeat(f"bytes.{op.kind}", res.out_bytes)
        if first:
            rows = self.count_rows(op)
            if rows != self.truth["table_rows"]:
                errors.append(
                    f"{op.id}: {rows} rows written, input has {self.truth['table_rows']}"
                )
        return errors

    def layer_metrics(self, ops):
        out = {}
        for kind in self.KINDS:
            out[f"formatters.{kind}.write_s"] = mean_span(
                self.tracer, [o for o, _, _ in ops if o.kind == kind],
                f"formatters.{kind}.write",
            )
        out["fsio.assemble_s"] = mean_span(
            self.tracer, [o for o, _, _ in ops], "fsio.assemble"
        )
        return out


# ---------------------------------------------------------- interactive


class InteractiveExport(Workload):
    """Small ordered exports of filtered key ranges through the
    single-stream path (``Exporter.write_string``)."""

    name = "interactive_export"
    # Each format's ops take its variants in this order, and start again
    # when there are more ops than variants: one zero-row op in eight, and
    # the variants csv, xml and html render differently. Every format gets
    # the same number of ops, at least 8 (40 ops, so the tail is p75).
    VARIANTS = {
        "csv": ("plain",) * 4 + ("zero", "crlf", "delim", "float_go"),
        "json": ("plain",) * 7 + ("zero",),
        "ndjson": ("plain",) * 7 + ("zero",),
        "xml": ("plain",) * 5 + ("zero", "null", "float_go"),
        "html": ("plain",) * 5 + ("zero", "null", "float_go"),
    }
    FORMATS = tuple(VARIANTS)
    NOMINAL_OP_S = 0.5
    MIN_OPS_PER_FORMAT = 8

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        keys = pq.read_table(f"{self.data}/sorted", columns=["key"])["key"]
        self._keys = keys.combine_chunks()

    # Limits and range widths (as a share of the limit) are fixed per slot,
    # so every seed exports the same number of rows and every format the
    # same limits; the seed picks the key ranges.
    LIMITS = (50, 85, 145, 250, 430, 730, 1250, 2000)
    WIDTHS = (0.5, 0.75, 1.0, 1.5, 2.0)

    def _ops(self, rng: np.random.Generator, kinds) -> list[Op]:
        """One op per (format, variant, slot)."""
        n = self.truth["table_rows"]
        ops = []
        for fmt, variant, slot in kinds:
            limit = self.LIMITS[slot % len(self.LIMITS)]
            width = int(limit * self.WIDTHS[slot % len(self.WIDTHS)])
            lo = int(rng.integers(0, n - width))
            if variant == "zero":
                lo += n  # past the last key: the range holds no rows
            ops.append(Op("", fmt, {"variant": variant, "lo": lo, "hi": lo + width, "limit": limit}))
        return ops

    @staticmethod
    def _named(tag: str, ops: list[Op]) -> list[Op]:
        for i, op in enumerate(ops):
            op.id = f"{tag}{i:03d}-{op.kind}-{op.params['variant']}"
        return ops

    def warm_up_ops(self) -> list[Op]:
        """A plain op of every format, a zero-row csv and html op (the
        header-only and empty-document rules) and one float_go op (it
        starts the Python workers). The other variants take these paths
        with other literals."""
        kinds = [(f, "plain") for f in self.FORMATS]
        kinds += [("csv", "zero"), ("html", "zero"), ("csv", "float_go")]
        kinds = [(f, v, slot) for slot, (f, v) in enumerate(kinds)]
        return self._named("w", self._ops(np.random.default_rng([self.seed, 1]), kinds))

    def timed_ops(self) -> list[Op]:
        per_format = max(
            self.MIN_OPS_PER_FORMAT,
            round(self.seconds / (len(self.FORMATS) * self.NOMINAL_OP_S)),
        )
        kinds = [
            (f, variants[i % len(variants)], i)
            for f, variants in self.VARIANTS.items()
            for i in range(per_format)
        ]
        ops = self._ops(np.random.default_rng([self.seed, 2]), kinds)
        # The same order for every seed, the formats in turn, so the JVM
        # speeding up through the run weighs on every format alike.
        by_format = [ops[i : i + per_format] for i in range(0, len(ops), per_format)]
        return self._named("t", [op for turn in zip(*by_format) for op in turn])

    def spec(self, op: Op) -> ExportSpec:
        p = op.params
        spec = (
            ExportSpec()
            .with_filter((F.col("key") >= p["lo"]) & (F.col("key") < p["hi"]))
            .with_order_by("key")
            .with_limit(p["limit"])
        )
        variant = p["variant"]
        if op.kind == "ndjson":
            spec = spec.with_newline_delimited()
        if variant == "float_go":
            spec = spec.with_float_go()
        elif variant == "null":
            spec = spec.with_null("NULL")
        elif variant == "crlf":
            spec = spec.with_crlf()
        elif variant == "delim":
            spec = spec.with_delimiter(";")
        return spec

    def run(self, op: Op) -> Result:
        df = self.load("sorted")
        fmt = "json" if op.kind == "ndjson" else op.kind
        with self.tracer.span("plans.spec"):
            exporter = Exporter(df, fmt, self.spec(op))
        if not self.tracer.enabled:
            text = exporter.write_string()
        else:
            # write_string() is "".join(formatter.iter_chunks(df)); the
            # traced run joins the chunks itself to time the first one
            name = "json_array" if op.kind == "json" else fmt
            with self.tracer.span(f"formatters.{name}.write"):
                chunks = exporter.formatter.iter_chunks(df)
                with self.tracer.span("formatters.first_chunk"):
                    first = next(chunks, "")
                with self.tracer.span("formatters.drain"):
                    text = first + "".join(chunks)
        return Result(0, 0, {"text": text})

    def count_rows(self, op: Op, text: str) -> int:
        if op.kind == "csv":
            delim = ";" if op.params["variant"] == "delim" else ","
            records = list(csv.reader(io.StringIO(text, newline=""), delimiter=delim))
            return len(records) - 1  # the header is written even with no rows
        if op.kind == "json":
            return len(json.loads(text)) if text else 0
        if op.kind == "ndjson":
            return sum(1 for line in text.split("\n") if line)
        if op.kind == "xml":
            return text.count("<row>")
        return text.count("<tr><td>")

    def expected_rows(self, op: Op) -> int:
        p = op.params
        in_range = pc.sum(
            pc.and_(pc.greater_equal(self._keys, p["lo"]), pc.less(self._keys, p["hi"]))
        ).as_py() or 0
        return min(in_range, p["limit"])

    def check(self, op: Op, res: Result, first: bool) -> list[str]:
        text = res.detail.pop("text")
        rows = self.count_rows(op, text)
        res.rows = rows
        res.out_bytes = len(text.encode("utf-8"))
        errors = []
        want = self.expected_rows(op)
        if rows != want:
            errors.append(f"{op.id}: {rows} rows exported, pyarrow says {want}")
        # the same op of the same seed must produce the same bytes on
        # every run (run.py compares with earlier runs)
        return errors + self.expect_repeat(f"digest.{op.id}", _sha(text))

    def layer_metrics(self, ops):
        tr = self.tracer
        ids = [o for o, _, _ in ops]
        out = {
            "formatters.first_chunk_s": mean_span(tr, ids, "formatters.first_chunk"),
            "formatters.drain_s": mean_span(tr, ids, "formatters.drain"),
        }
        for name in ("csv", "json", "json_array", "xml", "html"):
            out[f"formatters.{name}.write_s"] = mean_span(tr, ids, f"formatters.{name}.write")
        go = [
            wall for o, _, wall in ops
            if o.params["variant"] == "float_go" and o.kind in ("csv", "xml", "html")
        ]
        out["functions.float_go.latency_p50_s"] = statistics.median(go) if go else 0.0
        return out


# ---------------------------------------------------------------- dedup


class DedupPipeline(Workload):
    """MinHash near-duplicate pairs, connected components, survivors
    anti-join and a parquet export of the survivors, per op."""

    name = "dedup_pipeline"
    MINHASH = dict(num_hashes=32, bands=8, shingle_n=8, threshold=0.7)
    # An op takes about this long on a 4-core host; it sizes the fixed op
    # list from --seconds, with at least MIN_OPS (the fewest that have a
    # latency).
    NOMINAL_OP_S = 2.5
    MIN_OPS = 20

    def warm_up_ops(self) -> list[Op]:
        return [Op("w0", "dedup")]

    def timed_ops(self) -> list[Op]:
        n = max(self.MIN_OPS, round(self.seconds / self.NOMINAL_OP_S))
        return [Op(f"d{i}", "dedup") for i in range(n)]

    def run(self, op: Op) -> Result:
        docs = self.load("docs")
        target = f"{self.out}/{op.id}"
        tr = self.tracer
        with cache_scope():
            with tr.span("operators.dedup.pairs"):
                pairs = dedup.minhash_dedup_pairs(docs, "doc_id", "text", **self.MINHASH)
                pairs = pairs.persist()
                verified = pairs.count()
            cc_stats: dict = {}
            with tr.span("operators.dedup.cc"):
                comp = dedup.connected_components(pairs, stats=cc_stats)
            with tr.span("operators.dedup.survivors_write"):
                drop = comp.filter(F.col("id") != F.col("component")).select("id")
                survivors = docs.join(drop, docs["doc_id"] == drop["id"], "left_anti")
                Exporter(survivors.select("doc_id", "text"), "parquet").write(target)
            pairs.unpersist()
        return Result(self.truth["docs"], 0, {"verified_pairs": verified, **cc_stats})

    def check(self, op: Op, res: Result, first: bool) -> list[str]:
        target = f"{self.out}/{op.id}"
        res.out_bytes = _dir_bytes(target)
        ids = pq.read_table(target, columns=["doc_id"])["doc_id"].to_pylist()
        survivors = set(ids)
        errors = []
        for group in self.truth["exact_groups"]:
            kept = survivors.intersection(group[1:])
            if kept:
                errors.append(f"{op.id}: exact duplicates {sorted(kept)} survived")
        digest = hashlib.sha256(np.sort(np.array(ids, np.int64)).tobytes()).hexdigest()
        errors += self.expect_repeat("survivors", digest)
        errors += self.expect_repeat("cc_mode", res.detail.get("mode"))
        errors += self.expect_repeat("verified_pairs", res.detail["verified_pairs"])
        errors += self.expect_repeat("cc_edges", res.detail.get("n_edges"))
        return errors

    def finish(self) -> dict:
        """LSH candidates and the verify yield over the exact-text
        representatives the pipeline bands (traced runs only)."""
        docs = from_parquet(self.spark, f"{self.data}/docs")
        reps = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
        mh = self.MINHASH
        with cache_scope():
            cands = dedup.minhash_candidate_pairs(
                reps, "doc_id", "text",
                num_hashes=mh["num_hashes"], bands=mh["bands"], shingle_n=mh["shingle_n"],
            ).persist()
            n_cands = cands.count()
            n_ok = dedup.jaccard_verify_pairs(
                cands, reps, "doc_id", "text",
                shingle_n=mh["shingle_n"], threshold=mh["threshold"],
            ).count()
            cands.unpersist()
        return {"candidates": n_cands, "rep_verified": n_ok}

    def layer_metrics(self, ops):
        tr = self.tracer
        ids = [o for o, _, _ in ops]
        last = ops[-1][1].detail
        return {
            "operators.dedup.pairs_s": mean_span(tr, ids, "operators.dedup.pairs"),
            "operators.dedup.cc_s": mean_span(tr, ids, "operators.dedup.cc"),
            "operators.dedup.survivors_write_s": mean_span(
                tr, ids, "operators.dedup.survivors_write"
            ),
            "operators.dedup.verified_pairs": last["verified_pairs"],
            "operators.dedup.cc_edges": last.get("n_edges", 0),
            "operators.dedup.cc_rounds": last.get("rounds", 0),
        }


def mean_span(tracer, ops: list[Op], name: str) -> float:
    """Mean seconds per op of span ``name`` over the ops that have it."""
    per_op = [tracer.layer_seconds(o.id).get(name) for o in ops]
    per_op = [s for s in per_op if s is not None]
    return sum(per_op) / len(per_op) if per_op else 0.0


WORKLOADS = {w.name: w for w in (BulkExport, InteractiveExport, DedupPipeline)}

# Per-layer metrics of the export layers and of the dedup operators; every
# workload reports all of them, and a layer the workload does not use
# reads 0.
LAYER_METRICS = (
    "formatters.first_chunk_s",
    "formatters.drain_s",
    "functions.float_go.latency_p50_s",
    *(f"formatters.{k}.write_s" for k in BulkExport.KINDS),
    "fsio.assemble_s",
    "operators.dedup.pairs_s",
    "operators.dedup.cc_s",
    "operators.dedup.survivors_write_s",
    "operators.dedup.candidates",
    "operators.dedup.verified_pairs",
    "operators.dedup.verify_yield",
    "operators.dedup.cc_edges",
    "operators.dedup.cc_rounds",
)
