#!/usr/bin/env python
"""Benchmark harness: headline queries + exports at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints exactly ONE JSON line on stdout:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
Everything else (Spark logs) goes to stderr.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from exporter_spark import Exporter, ExportSpec  # noqa: E402
from exporter_spark.operators.partitioning import cache_scope  # noqa: E402
from exporter_spark.queries import QUERIES  # noqa: E402
from exporter_spark.session import get_spark  # noqa: E402
from exporter_spark.sources.files import load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The host is shared and single runs have shown 2-10x outliers
# (BASELINE.md; round-5 bisect: embedding_near_dup 1.38s vs 8.95s on
# identical code minutes apart). Report the MIN of N runs per query so
# records track the engine, not transient load. N=3: a burst long
# enough to poison all three repeats is rare; measured total wall
# stays inside the driver budget.
REPEAT = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "3")))

# Round 18 (VERDICT r17 "what's wrong" #2 + "next round" #4, implemented
# openly as proposed there): sub-1.5s entries are noise-dominated on
# this shared host — PERF_r17 flagged 12 "regressions" of which eleven
# had ZERO code change on their path, all sub-1.2s absolute, swinging
# 0.66-0.88x between two cold runs. For any entry whose min-of-REPEAT
# lands under NOISE_FLOOR_SEC, take EXTRA_REPEATS additional timings
# and keep the overall minimum. Additions only: the estimator is still
# "min of N noop-sink repeats inside the entry's cache_scope" — extra
# repeats can only move a reading CLOSER to the engine's true cost,
# never inflate it — and no entry is added, removed or renamed. Costs
# ~2 extra repeats x ~30 fast entries ≈ 1 min of bench wall, bounded
# by the floor itself.
NOISE_FLOOR_SEC = 1.5
EXTRA_REPEATS = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA", "2")))

# Representative slice of the corpus: scans+aggs, multi-join, window,
# time-series agg, text ops, LSH dedup, vector search.
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "q4_priority_returns",
    "top_customers_per_nation",
    "events_hourly",
    "events_sessions",
    "token_stats_by_lang",
    "doc_fingerprints",
    "dedup_exact_docs",
    "minhash_near_dup_pairs",
    "cosine_topk",
    "embedding_near_dup",
    # round 2: vocab head, rolling-hash fingerprints, quota sampling
    "top_tokens",
    "winnow_fingerprints",
    "docs_capped_per_source",
    # round 2 late: Arrow-kernel quality signals, corpus-wide
    # paragraph dedup
    "gopher_quality_signals",
    "paragraph_dedup_docs",
    # round 3: keyword retrieval (map-side tf + broadcast stats),
    # hashed-unigram importance weights (token explode + tiny
    # broadcast log-ratio table)
    "bm25_topk_docs",
    "dsir_importance_weights",
    # round 3 late: corpus-wide duplicate-span detection
    "exact_substring_spans",
    # round 4: the composition plans (span-strip rewrite, survivor
    # anti-join, mixture rollup, bucketed shuffle) so regressions in
    # the flagship pipelines surface in the round record
    "exact_substring_strip",
    "minhash_dedup_survivors",
    "pretraining_mix_stats",
    "training_shuffle_docs",
    # round 4 late: complete the similarity/dedup pillar in the round
    # record (pigeonhole simhash join, hyperplane-banded ANN, IVF
    # probe+rerank, bucketed SemDeDup)
    "simhash_near_dup_pairs",
    "lsh_ann_topk",
    "ivf_fixed_topk",
    "semdedup_survivors",
    # round 11: the incremental (delta-vs-store) dedup pair — newly
    # oracle-gated this round; the minhash one runs two full banded
    # pipelines (store bootstrap + delta) plus the against-store band
    # join, so its number is the per-increment cost observable
    "incremental_exact_survivors",
    "incremental_minhash_survivors",
    # round 12: the HTML record expression (the last codec to gain a
    # driver oracle) — one concat projection over display strings, so
    # its number tracks the tostring/display pipeline
    "html_rows_events",
    # round 14: the real-media-codec pillar's perf observable —
    # encode PNG/BMP/PPM/WAV payloads executor-side, decode back
    # through extract_features + auto_decoder (the driver-gated
    # media_decode_stats entry; per-payload Python codec cost is the
    # whole number, so a codec regression moves it directly)
    "media_decode_stats",
    # round 15: the JPEG codec's perf observable — eight fixture
    # variants (baseline + progressive, all chroma grids, restarts)
    # encoded and fully entropy-decoded per document batch; the
    # Huffman loop is the dominant per-payload Python cost, so a
    # decoder-efficiency change moves this entry directly
    "jpeg_decode_stats",
    # round 15 late: the GIF codec's perf observable — LZW encode +
    # decode both ways per batch (static + 3-frame animations), probe
    # walk, auto_decoder dispatch through the r15 default seam
    "gif_decode_stats",
    # round 16: the zero-dep VIDEO lane's perf observable — RIFF
    # container walk + tick sampling + real JPEG entropy decode of
    # the kept frames (pins cached per variant per task, like jpeg)
    "video_frame_stats",
    # round 16: distributed BPE merge learning — 1 corpus pass + 8
    # pair-count iterations over the cached word table (the iteration
    # lane is job-overhead-bound at this SF; see SCALE.md r16)
    "bpe_merges_learned",
    # round 16 late: image near-dup — PNG encode+decode per doc,
    # integer pHash, 9-table pigeonhole self-join (the multimodal
    # pillar's dedup lane, priced)
    "phash_near_dup_pairs",
    # round 17: the BPE ENCODE hot path's perf observable — learn 8
    # merges, chain-encode the whole corpus, per-lang token stats
    # (encoding is the per-document cost a production pipeline pays;
    # learning amortizes to zero)
    "bpe_encoded_token_stats",
    # round 17: the Bloom membership screen — store-half bootstrap,
    # filter build + broadcast, screened-delta accounting (the
    # per-increment screen cost observable)
    "incremental_bloom_stats",
    # round 17 late: count-min heavy hitters — grid build (map-side
    # combine to depth x width cells), broadcast estimate join,
    # exact-vs-estimate top-k (the sketch lane's cost observable)
    "cms_top_tokens",
]

# Non-registry entries main() measures besides BENCH_QUERIES. The
# bench-contract test asserts the emitted JSON contains EXACTLY
# BENCH_QUERIES + EXTRA_ENTRIES, so a renamed/removed entry can never
# silently drop a measurement from the round record.
EXTRA_ENTRIES = [
    "q1_fast",
    "export_csv",
    "export_json",
    "export_xml",
    "export_parquet",
    "export_xml_docs",
    "export_json_array",
]


def _force(df) -> None:
    """Execute the full plan (noop sink: no skipped projections, no
    collect concentration)."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    spark = get_spark("exporter_spark-bench")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    timings: dict[str, float] = {}

    # steady-state warmup: JVM/codegen/Arrow init and one file-scan so
    # per-query numbers aren't dominated by first-action startup
    spark.range(1_000_000).select(F.sum("id")).collect()
    load_table(spark, SF_DIR, "lineitem").limit(1000).count()

    # Per-entry storage/GC telemetry: distinguishes cache-pressure
    # regressions from host noise when a driver bench disagrees with
    # isolated runs (the round-4 gopher/winnow question). local[N] is
    # one JVM, so driver MXBean GC time covers executor GC too.
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    gc_beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def _gc_ms() -> int:
        return sum(
            gc_beans.get(i).getCollectionTime() for i in range(gc_beans.size())
        )

    def _n_cached() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()  # noqa: SLF001

    from exporter_spark.benchlib import cpu_canary, io_canary as _io_canary
    from exporter_spark.benchlib import timed as _timed

    def timed(fn, n: int = REPEAT) -> float:
        t = _timed(fn, n)
        # noise floor (see NOISE_FLOOR_SEC above): fast entries get
        # extra repeats, min over all of them
        if EXTRA_REPEATS and t < NOISE_FLOOR_SEC:
            t = min(t, _timed(fn, EXTRA_REPEATS))
        return t

    # Host-speed canary (round 7): a fixed pure-CPU JVM aggregate whose
    # cost depends only on the machine, never on this engine's code —
    # rounds 4 and 6 each burned a cycle arguing host-vs-code over
    # uniform bench drift. Every BENCH_rN now carries its own
    # denominator: if the canary drifts by the same factor as the
    # corpus total, the drift is the host. Workload lives in
    # exporter_spark/benchlib.py, SHARED with tools/canary_probe.py
    # and the A/B harnesses so every reading stays comparable with
    # BENCH history; excluded from "queries" and the corpus total
    # (it measures the host, not the engine).
    host_canary = cpu_canary(spark, REPEAT)
    print(f"[bench] host_canary: {host_canary}s", file=sys.stderr)

    # IO canary (round 8): the CPU canary missed a night window where
    # totals ran 1.3x the record on identical code with a mid-band CPU
    # reading — the drift's IO/memory component hit the export and
    # cache-build entries hardest (BASELINE.md round-8 closing
    # record; adjudicated by worktree A/B + isolated pairs). This
    # writes-and-reads a fixed ~100 MB parquet through the same temp
    # filesystem the export entries use, so every BENCH record now
    # carries a disk-path denominator too. Excluded from the total.
    # Band + mechanical adjudication rule: BASELINE.md "Round 9 —
    # io_canary band" (<=0.80 quiet disk, >=0.90 night-band, between:
    # re-probe). Workload in benchlib (shared with the probes);
    # standalone readings: tools/canary_probe.py.
    io_canary = _io_canary(spark, REPEAT)
    print(f"[bench] io_canary: {io_canary}s", file=sys.stderr)

    # Per-family io brackets (round 15, VERDICT r14 #8): the r13/r14
    # export-entry forensics both ended at "the session's io regime
    # moved between families" — adjudicated only by after-the-fact
    # isolated re-runs. Each family boundary now records a single
    # (unrepeated — it is a regime indicator, not a record) io-canary
    # reading, so every BENCH_rN carries the disk-path regime AT the
    # moment each family ran and cross-round comparisons stop needing
    # forensics. Excluded from the corpus total.
    io_brackets: dict[str, float] = {"start": io_canary}

    def _bracket(tag: str) -> None:
        io_brackets[tag] = _io_canary(spark, 1)
        print(f"[bench] io_bracket {tag}: {io_brackets[tag]}s", file=sys.stderr)

    # Scale observable (round 9): connected-components rounds-to-
    # converge for the dedup flagship. Diameter growth on a future
    # corpus shows up here before it shows up in wall time. The CC
    # loop drives its own actions, so the dict is populated during
    # the timed run at zero extra cost.
    cc_stats: dict = {}

    for name in BENCH_QUERIES:
        gc0 = _gc_ms()
        # cache_scope: repeats within an entry still reuse the cache
        # (same timing semantics as every recorded baseline), but no
        # entry's materialize() caches survive into the next entry —
        # the 36-entry session no longer accumulates storage pressure.
        with cache_scope():
            if name == "minhash_dedup_survivors":
                fn = lambda: _force(  # noqa: E731
                    QUERIES[name].fn(spark, SF_DIR, stats=cc_stats)
                )
            else:
                fn = lambda: _force(QUERIES[name].fn(spark, SF_DIR))  # noqa: E731
            timings[name] = timed(fn)
            cached = _n_cached()
        print(
            f"[bench] {name}: {timings[name]}s "
            f"(cached_rdds={cached} gc_delta_ms={_gc_ms() - gc0})",
            file=sys.stderr,
        )

    # q1 without the decimal-determinism tax (plain-double sums): the
    # plan a parity-indifferent user actually runs.
    from exporter_spark.queries import q1_pricing_summary

    timings["q1_fast"] = timed(lambda: _force(q1_pricing_summary(spark, SF_DIR, fast=True)))
    print(f"[bench] q1_fast: {timings['q1_fast']}s", file=sys.stderr)

    # Export benches: lineitem through each distributed sink.
    _bracket("pre_export")
    li = load_table(spark, SF_DIR, "lineitem")
    out_root = tempfile.mkdtemp(prefix="exporter_spark_bench_")
    try:
        # exports are IO-bound and see multi-second host-load swings
        # (BASELINE.md records 2.4-8.2s on the same code same day);
        # min-of-3 keeps the recorded number tracking the engine
        n_export = max(REPEAT, 3)
        for fmt in ("csv", "json", "xml", "parquet"):
            timings[f"export_{fmt}"] = timed(
                lambda fmt=fmt: Exporter(li, fmt, ExportSpec()).write(f"{out_root}/{fmt}"),
                n_export,
            )
            print(f"[bench] export_{fmt}: {timings[f'export_{fmt}']}s", file=sys.stderr)
        # XML well-formed-document mode (per-part declaration+root via
        # the StAX writer) — the opt-in path; the default export_xml
        # above is the codegen'd stream-parts path as of round 4.
        from exporter_spark.formatters.xml import XMLFormatter

        timings["export_xml_docs"] = timed(
            lambda: XMLFormatter(ExportSpec(), documents=True).write(
                li, f"{out_root}/xml_docs"
            ),
            n_export,
        )
        print(f"[bench] export_xml_docs: {timings['export_xml_docs']}s", file=sys.stderr)
        # single-document JSON array: executor-side fidelity-twin
        # serialization + JVM-side part splice (round 4)
        from exporter_spark.formatters.json import JSONFormatter

        timings["export_json_array"] = timed(
            lambda: JSONFormatter(ExportSpec()).write_array_file(
                li, f"{out_root}/li_arr.json"
            ),
            n_export,
        )
        print(f"[bench] export_json_array: {timings['export_json_array']}s", file=sys.stderr)
    finally:
        shutil.rmtree(out_root, ignore_errors=True)
    _bracket("post_export")

    # Distributed-CC convergence observable (VERDICT r10 wrong #2):
    # since the round-10 size gate, the flagship's cc_rounds reads
    # driver/0 and the rounds-to-converge signal — the observable that
    # presages component-diameter growth — would silently disappear.
    # Run the SAME duplicate graph through the distributed loop once
    # (small_edge_limit=None), untimed and outside the corpus total,
    # so every BENCH record keeps a live distributed-mode reading.
    from exporter_spark.operators.dedup import (
        connected_components,
        minhash_dedup_pairs,
    )
    from exporter_spark.queries import _MINHASH

    cc_dist_stats: dict = {}
    with cache_scope():
        docs = load_table(spark, SF_DIR, "documents")
        pairs = minhash_dedup_pairs(docs, "doc_id", "text", **_MINHASH)
        connected_components(
            pairs, small_edge_limit=None, stats=cc_dist_stats
        ).write.format("noop").mode("overwrite").save()
    print(
        f"[bench] cc_distributed: mode={cc_dist_stats.get('mode')}"
        f" rounds={cc_dist_stats.get('rounds')}",
        file=sys.stderr,
    )

    from exporter_spark.planinfo import spill_totals

    mem_spilled, disk_spilled = spill_totals(spark)
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "corpus_total_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                # host-speed denominators, NOT part of the total (see
                # the canary comments above): CPU and disk-path
                "host_canary_sec": host_canary,
                "io_canary_sec": io_canary,
                # disk-path regime at each family boundary (round 15):
                # "start" is the headline io_canary above;
                # "pre_export"/"post_export" are single-shot readings
                # bracketing the export family, so an export number
                # can be read against ITS regime, not the session's
                "io_brackets": io_brackets,
                # scale observables: CC strategy + rounds for the
                # dedup flagship. Since round 10 the mode is
                # runtime-size-gated — "driver" (union-find on a
                # small collected edge set, rounds 0) below 200k
                # edges, "distributed" above; on the sf0.1 corpus the
                # edge set is ~512 rows so records read
                # driver/0 from r10 on (r09 and earlier recorded the
                # distributed loop's rounds, constant 2). A future
                # flip to distributed/N here means the duplicate
                # graph outgrew the gate — look before wall time
                # moves.
                "cc_rounds": cc_stats.get("rounds"),
                "cc_mode": cc_stats.get("mode"),
                # the distributed loop's rounds-to-converge on the
                # SAME graph (small_edge_limit=None, untimed, outside
                # the total): keeps the convergence signal alive while
                # the flagship rides the driver path (VERDICT r10)
                "cc_dist_rounds": cc_dist_stats.get("rounds"),
                # bidirectional edge rows behind the mode decision:
                # growth here presages the driver→distributed flip
                # (gate: 200k) before either mode or wall time moves
                "cc_n_edges": cc_stats.get("n_edges"),
                # spill tripwire (round 10): app-total bytes spilled
                # to disk across the whole bench — the corpus is
                # sized to run spill-free at sf0.1, so any nonzero
                # reading means a partition outgrew its task memory
                # share (check partitioning before blaming the host).
                # Memory spill fires BEFORE disk spill does (ADVICE
                # r10): a nonzero memory figure with zero disk is the
                # early warning, not noise — both are recorded.
                "spilled_disk_bytes": disk_spilled,
                "spilled_memory_bytes": mem_spilled,
            }
        )
    )


if __name__ == "__main__":
    main()
