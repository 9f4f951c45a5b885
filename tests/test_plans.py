"""Physical-plan regression tests — the scale posture (pushdown,
pruning, broadcast, codegen) asserted, not just observed."""

from __future__ import annotations

import pytest

from exporter_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    import contextlib
    import io

    df = QUERIES[name].fn(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")  # untruncated filter/schema lists
    return buf.getvalue()


def test_q6_filters_pushed_to_scan(spark):
    plan = _plan(spark, "q6_revenue_change")
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity,24.0)" in plan


def test_q1_scan_prunes_columns(spark):
    plan = _plan(spark, "q1_pricing_summary")
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_quantity" in read and "l_returnflag" in read
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_session_broadcast_policy_pinned(spark):
    """The round-8 broadcast contract (BASELINE.md): no estimate-based
    static broadcast (compile-time sizeInBytes lies on post-transform
    inputs — the 100x sweep's maxResultSize abort), AQE broadcasts
    from exact runtime sizes, everything else is explicit hints. A
    config drift here silently reintroduces the driver-OOM hazard."""
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"
    assert spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ) == str(64 * 1024 * 1024)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_small_dim_joins_broadcast(spark):
    """Broadcast policy (round 8): explicitly hinted small dims are
    broadcast in the STATIC plan; the fact-side joins compile to
    SMJ/shuffle (estimate-based static broadcast is OFF — compile-time
    sizeInBytes lies on non-scan inputs, see session.py) and AQE
    converts them from RUNTIME sizes — so after execution the final
    adaptive plan at this tiny SF is all-broadcast."""
    for name in ("q3_top_orders", "q5_region_revenue"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name  # the hinted dims
        df = QUERIES[name].fn(spark, SF_DIR)
        df.collect()
        dump = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in dump, name
        # the adaptive dump appends the pre-AQE "Initial Plan" — only
        # the Final Plan section is the executed shape
        final = dump.split("== Initial Plan ==")[0]
        assert "BroadcastHashJoin" in final, name
        assert "SortMergeJoin" not in final, (name, final)


def test_fingerprints_read_only_needed_columns(spark):
    plan = _plan(spark, "doc_fingerprints")
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read and "text" in read and "lang" not in read


def test_java_float_export_has_no_python_eval(spark, sf_dir):
    """The default (float_mode=java) display projection must stay
    fully JVM-side — no Python/Arrow eval stages in the plan."""
    from exporter_spark.functions.tostring import display_columns, project
    from exporter_spark.sources.files import load_table

    e = load_table(spark, sf_dir, "events")
    out = project(e, display_columns(e, float_mode="java"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # neither Batch- nor Arrow-


def test_go_float_uses_arrow_not_row_python(spark, sf_dir):
    from exporter_spark.functions.tostring import display_columns, project
    from exporter_spark.sources.files import load_table

    e = load_table(spark, sf_dir, "events")
    out = project(e, display_columns(e, float_mode="go"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan  # vectorized
    assert "BatchEvalPython" not in plan  # never row-at-a-time


def _n_shuffles(plan: str) -> int:
    """Count shuffle Exchanges in formatted-explain output (each node
    prints twice — tree and detail — and Broadcast/ReusedExchange must
    not count as shuffles)."""
    import re

    return len(re.findall(r"\+- Exchange \(", plan))


def test_sampling_queries_no_shuffle_before_agg(spark):
    """Hash-sampling is a pure filter: the sample/split queries must
    not add any Exchange beyond the (single) aggregation shuffle."""
    plan = _plan(spark, "docs_sample_deterministic")
    assert _n_shuffles(plan) == 0  # filter + project only
    plan = _plan(spark, "docs_stratified_sample")
    assert _n_shuffles(plan) <= 1  # just the groupBy(lang)


def test_cap_per_key_single_exchange(spark):
    plan = _plan(spark, "docs_capped_per_source")
    # one hash-partition exchange on the quota key, nothing else
    assert _n_shuffles(plan) == 1
    assert "hashpartitioning(source" in plan


def test_top_tokens_partial_agg_and_topk(spark):
    plan = _plan(spark, "top_tokens")
    # map-side combine before the shuffle: two HashAggregates
    assert plan.count("HashAggregate") >= 2
    # top-k, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_q15_q22_broadcast_scalars(spark):
    for name in ("q15_top_supplier", "q22_wealthy_low_activity"):
        plan = _plan(spark, name)
        assert "BroadcastExchange" in plan, name


def test_q16_anti_join_pushes_probe_filter(spark):
    plan = _plan(spark, "q16_brand_supply_gaps")
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(l_discount,0.095)" in plan


def test_gopher_signals_map_only_and_arrow(spark):
    """Quality signals are a pure map: no semantic shuffle (the only
    Exchange is the local-input spread, absent on partitioned input),
    the counting kernel must never be row-Python — with a JDK it is
    the compiled JVM UDF (no Python eval node at all), otherwise the
    Arrow-vectorized pandas kernel — and the scan must not read
    unrelated columns."""
    from exporter_spark.javakernel import javac_available

    plan = _plan(spark, "gopher_quality_signals")
    assert "ENSURE_REQUIREMENTS" not in plan
    assert "BatchEvalPython" not in plan
    if javac_available():
        # kernel="auto" resolved to the JVM counts UDF
        assert "ArrowEvalPython" not in plan
    else:
        assert "ArrowEvalPython" in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" in read and "n_chars" not in read


def test_gopher_signals_expr_path_zero_shuffle(spark):
    """The pure-Catalyst kernel (oracle twin) stays shuffle- and
    Python-free."""
    import contextlib
    import io

    from exporter_spark.operators import text
    from exporter_spark.sources.files import load_table

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        text.gopher_signals(d, kernel="expr").explain("formatted")
    plan = buf.getvalue()
    assert _n_shuffles(plan) == 0
    assert "EvalPython" not in plan


def test_gopher_filter_single_agg_shuffle(spark):
    plan = _plan(spark, "gopher_filter_stats")
    # groupBy(lang) + the final orderBy range shuffle are the only
    # semantic shuffles, and the count partial-aggregates map-side
    assert plan.count("ENSURE_REQUIREMENTS") == 2
    assert plan.count("HashAggregate") >= 4  # partial+final, ×2 print


def test_paragraph_dedup_two_shuffles(spark):
    """Split/explode is map-side; exactly one hash shuffle for the
    keep-first window on the paragraph md5 and one for per-doc
    reassembly. Anything more means the explode leaked an exchange."""
    plan = _plan(spark, "paragraph_dedup_docs")
    # _spread's REPARTITION_BY_NUM on the single-file local input is
    # not a semantic shuffle (absent on well-partitioned input);
    # the operator itself needs exactly two.
    assert plan.count("ENSURE_REQUIREMENTS") == 2
    assert "hashpartitioning(__key__" in plan


def test_contamination_broadcasts_probe(spark):
    """The benchmark gram set broadcasts (corpus grams never shuffle
    for the join) and the id-spread partitioning is reused by the
    per-doc count, leaving the probe-side distinct as the only
    semantic shuffle."""
    plan = _plan(spark, "ngram_contamination_check")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("ENSURE_REQUIREMENTS") == 1


# ------------------------------------------------------------ round 3


def test_bm25_prunes_and_broadcasts(spark):
    plan = _plan(spark, "bm25_topk_docs")
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read and "text" in read
    assert "lang" not in read and "source" not in read and "n_chars" not in read
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Generate" not in plan  # no explode: tf/dl are map-side


def test_dsir_prunes_to_needed_columns(spark):
    plan = _plan(spark, "dsir_importance_weights")
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    # the weight branch prunes even lang (only the distribution branch
    # needs the target flag); nobody reads source/n_chars
    assert any("lang" in r for r in reads)
    assert all("doc_id" in r and "text" in r for r in reads)
    assert all("source" not in r and "n_chars" not in r for r in reads)
    assert "BroadcastHashJoin" in plan  # log-ratio table broadcast


def test_exact_substring_minimal_exchanges(spark):
    from exporter_spark.operators import dedup
    from exporter_spark.sources.files import load_table

    d = load_table(spark, SF_DIR, "documents")
    plan = (
        dedup.exact_substring_spans(d, k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # spread + gram-hash window + doc merge — an upper bound rather
    # than an exact count so planner/AQE changes across Spark versions
    # don't fail this spuriously; the property we protect is "no extra
    # corpus-wide shuffle crept in"
    assert plan.count("Exchange") <= 3


def test_temperature_mixture_broadcast_no_corpus_shuffle(spark):
    from exporter_spark.operators import sampling
    from exporter_spark.sources.files import load_table

    d = load_table(spark, SF_DIR, "documents")
    kept = sampling.temperature_mixture(d, "source")
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_training_shuffle_single_bucket_exchange(spark):
    from exporter_spark.operators import sampling
    from exporter_spark.sources.files import load_table

    d = load_table(spark, SF_DIR, "documents")
    plan = (
        sampling.training_shuffle(d)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # at most the one 256-way bucket exchange; the key property is
    # that NO total-order range exchange appears (a global sort would
    # serialize the shuffle at scale)
    assert plan.count("Exchange") <= 1
    assert "rangepartitioning" not in plan.lower()
