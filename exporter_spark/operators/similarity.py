"""Vector similarity search over embedding columns
(``array<float>``) — SURVEY.md §2.5.

Two tiers:
  * ``cosine_topk`` — exact brute force. The query side is broadcast;
    the corpus is scanned once, map-side, and only (query, k) winners
    leave each partition before the final top-k merge. Correct at any
    corpus size as long as the *query set* is broadcast-able.
  * ``lsh_topk`` — random-hyperplane LSH prefilter + exact re-rank.
    The scale path when the query set is large: candidates meet in
    hash buckets (equi-join shuffle) instead of a cross product.

Arithmetic notes: dot products fold left-to-right over
double-cast elements (F.aggregate), so results are deterministic and
reproducible by the DuckDB oracle; similarities are rounded to 6 dp
to absorb engine-level FP noise in the last bits.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


from exporter_spark.operators.partitioning import spread as _spread


def dot(a: str, b: str) -> Column:
    """Ordered left fold of the element products, in double."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        f" 0D, (acc, v) -> acc + v)"
    )


def norm(a: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate(transform({a}, x -> cast(x as double) * cast(x as double)),"
            f" 0D, (acc, v) -> acc + v)"
        )
    )


def cosine(a: str, b: str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# ------------------------------------------------------- numpy kernels
#
# Where Python kernels do and do NOT pay (measured at sf0.1,
# local[32]):
#
#   * Per-ROW work (LSH signatures: planes × dims multiply-adds per
#     vector) — numpy wins big. The SQL signature expression costs a
#     multi-second one-time analysis/compile on first execution
#     (~7s at 8×64) and each vector crosses no process boundary
#     anyway, so an Arrow batch → numpy matmul is strictly better:
#     first-run 3.2s vs 11.4s for embedding_near_dup_pairs.
#   * Per-PAIR work (dot products on join output) — numpy LOSES.
#     Every joined row must ship both vectors through Arrow to the
#     Python worker; at 1M pairs that is ~1 GB of transfer for ~6 ms
#     of FLOPs (measured 13s numpy vs 6s JVM HOF, warm). Pair
#     verification therefore stays JVM-side, with norms precomputed
#     per vector so the HOF runs once per vector, not per pair.
#   * Full-corpus exact scoring — ``cosine_topk_scan`` below avoids
#     the pair materialization entirely: mapInPandas streams corpus
#     batches once, scores against the whole query matrix in C, and
#     emits only per-batch top-k survivors.
#
# All kernels compute the SAME doubles bit-for-bit as the HOF path:
# products are single IEEE float64 ops, and np.cumsum accumulates
# strictly left-to-right, which is exactly the fold order of
# ``aggregate(..., 0D, (acc, v) -> acc + v)`` and of the DuckDB
# oracle's explicit left-associated sums. Division and F.round(…, 6)
# stay JVM-side, so results are identical to the SQL path
# (equivalence-tested in tests/test_operators.py).
#
# Self-contained closures: the inner functions only touch numpy/pandas
# (importable on any executor) — never exporter_spark globals — so
# they pickle by value and survive driver harnesses that build their
# own SparkSession without PYTHONPATH injection.


def _make_dot_udf():
    import numpy as _np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def vec_dot(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        # NULL vectors can't be stacked; emit NaN so the SQL-side
        # degenerate filter drops the row (same contract as the SQL
        # kernel, where a NULL array folds to a NULL dot)
        mask = (a.notna() & b.notna()).to_numpy()
        out = _np.full(len(a), _np.nan)
        if mask.any():
            av = _np.stack(a[mask].to_numpy()).astype(_np.float64)
            bv = _np.stack(b[mask].to_numpy()).astype(_np.float64)
            out[mask] = _np.cumsum(av * bv, axis=1)[:, -1]
        return pd.Series(out, index=a.index)

    return vec_dot


def _make_norm_udf():
    import numpy as _np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def vec_norm(a: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        # NULL vector -> NaN norm -> dropped by the degenerate filter
        mask = a.notna().to_numpy()
        out = _np.full(len(a), _np.nan)
        if mask.any():
            av = _np.stack(a[mask].to_numpy()).astype(_np.float64)
            out[mask] = _np.sqrt(_np.cumsum(av * av, axis=1)[:, -1])
        return pd.Series(out, index=a.index)

    return vec_norm


def _make_sig_udf(H):
    """LSH signature kernel with the hyperplane matrix baked into the
    closure as a plain list-of-lists (identical literals to the SQL
    path and the DuckDB oracle)."""
    import numpy as _np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def vec_sig(a: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="int64")
        Hm = _np.asarray(H, dtype=_np.float64)  # planes × dims
        av = _np.stack(a.to_numpy()).astype(_np.float64)  # batch × dims
        # batch × planes × dims products, left-assoc summed per plane
        sums = _np.cumsum(av[:, None, :] * Hm[None, :, :], axis=2)[:, :, -1]
        bits = (sums > 0).astype(_np.int64) << _np.arange(Hm.shape[0])
        return pd.Series(bits.sum(axis=1))

    return vec_sig


_DOT_UDF = None
_NORM_UDF = None
_SIG_UDFS: dict = {}


def dot_fast(a: str, b: str) -> Column:
    global _DOT_UDF
    if _DOT_UDF is None:
        _DOT_UDF = _make_dot_udf()
    return _DOT_UDF(F.col(a), F.col(b))


def norm_fast(a: str) -> Column:
    global _NORM_UDF
    if _NORM_UDF is None:
        _NORM_UDF = _make_norm_udf()
    return _NORM_UDF(F.col(a))


def _kernel_fns(kernel: str):
    if kernel == "numpy":
        return dot_fast, norm_fast
    if kernel == "sql":
        return dot, norm
    raise ValueError(f"unknown kernel {kernel!r} (expected 'numpy' or 'sql')")


def _with_norm(df: DataFrame, knorm, vec: str, out: str) -> DataFrame:
    """Norm column + the degenerate-vector contract in ONE place:
    NULL vectors (NULL/NaN norm) and zero vectors have no defined
    cosine and are dropped. The NaN test is explicit because Spark
    orders NaN GREATER than every value, so a bare `> 0` filter would
    pass NaN norms — and their NaN sims rank FIRST downstream.

    Cost note: NULL vectors are cut by a cheap raw-column predicate
    first; the zero/NaN-norm filter on the computed column is pushed
    through the projection by Catalyst and re-evaluates the norm HOF
    (the double-eval pattern BASELINE.md warns about) — accepted HERE
    because it is one O(dims) pass against the O(k·dims)-per-pair
    work every caller does next, and because downstream consumers
    (IVF cell probing especially) require degenerate rows gone BEFORE
    they divide. The numpy kernel path is immune (Catalyst evaluates
    extracted Python UDFs once and filters their output attribute)."""
    return (
        df.filter(F.col(vec).isNotNull())
        .withColumn(out, knorm(vec))
        .filter((F.col(out) > 0) & ~F.isnan(out))
    )


def _rank_topk(sims: DataFrame, k: int) -> DataFrame:
    """Shared ranking tail of every top-k tier: total order by
    (sim desc, neighbor_id asc) per query — deterministic and
    oracle-comparable — keep ranks 1..k."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "sql",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, sim, rank); a query is never its
    own neighbor. Ties break by neighbor_id ascending so results are
    total-ordered and oracle-comparable. Norms are computed once per
    vector (before the join), not once per pair.
    """
    kdot, knorm = _kernel_fns(kernel)
    q = _with_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv__")
        ),
        knorm, "__qv__", "__qn__",
    )
    c = _with_norm(
        _spread(emb, id_col).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv__")
        ),
        knorm, "__cv__", "__cn__",
    )
    joined = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    sims = joined.select(
        "query_id",
        "neighbor_id",
        F.round(
            kdot("__qv__", "__cv__") / (F.col("__qn__") * F.col("__cn__")), 6
        ).alias("sim"),
    )
    return _rank_topk(sims, k)


def cosine_topk_scan(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_chunk: int = 16,
) -> DataFrame:
    """Exact top-k cosine neighbors — the 100 TB shape of the exact
    brute-force tier. Same contract and same results as
    ``cosine_topk`` (the query set must be small enough to ship to
    every task), but instead of materializing corpus × queries joined
    rows and scoring each pair with an interpreted expression, a
    mapInPandas kernel streams each corpus batch ONCE, scores it
    against the whole query matrix in C, and emits only rows that can
    still reach the global top-k. Shuffle volume is
    O(k × queries × batches), independent of corpus size.

    Bit-exactness: products and left-assoc sums via np.cumsum match
    the HOF fold and the DuckDB oracle exactly; division and
    F.round(…, 6) happen JVM-side after the scan. Because rounding
    can reorder raw-sim ties, the per-batch cut keeps everything
    within 1e-6 (the rounding quantum) of the batch's k-th best raw
    sim — a superset of the rounded winners — and the final windowed
    rank reproduces cosine_topk's total order.
    """
    from pyspark.sql import types as T

    id_type = emb.schema[id_col].dataType
    if not isinstance(id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        # the kernel packs ids into an int64 ndarray for the
        # self-exclusion compare; a string id would crash mid-scan and
        # a fractional id would be silently truncated — fail at plan
        # time with the contract instead
        raise TypeError(
            f"cosine_topk_scan requires an integral {id_col!r} column,"
            f" got {id_type.simpleString()}; use cosine_topk (which keeps"
            " the input id type) or add a surrogate integer id"
        )
    q_rows = sorted(
        (r[0], r[1])
        for r in queries.select(id_col, vec_col).collect()
        # NULL query ids can't be ranked; NULL vectors have no
        # neighbors — both silently dropped, like the SQL tier's
        # NULL-propagating join/filter
        if r[0] is not None and r[1] is not None
    )
    qids = [int(i) for i, _ in q_rows]
    # NULL elements become NaN and are dropped by the kernel's
    # zero/NaN-norm mask, matching the SQL tier's norm filter
    qvecs = [
        [float(x) if x is not None else float("nan") for x in v]
        for _, v in q_rows
    ]

    def make_scan(qids, qvecs, k, chunk, id_name, vec_name):
        import numpy as _np
        import pandas as _pd

        def scan(batches):
            if not qvecs:
                # empty (or fully degenerate) query set: no output —
                # np.cumsum(axis=1) on the empty 2D stack would raise
                return
            Q = _np.asarray(qvecs, dtype=_np.float64)  # nq × D
            Qn = _np.sqrt(_np.cumsum(Q * Q, axis=1)[:, -1])
            qid_arr = _np.asarray(qids, dtype=_np.int64)
            # zero-norm handling mirrors the SQL tier's norm filter:
            # cosine is undefined for the zero vector, and a NaN sim
            # would otherwise sort as LARGEST in np.partition and be
            # emitted as a false top neighbor
            qkeep = Qn > 0
            Q, Qn, qid_arr = Q[qkeep], Qn[qkeep], qid_arr[qkeep]
            for pdf in batches:
                # NULL vectors can't be stacked (and have no
                # neighbors); NULL elements arrive as NaN via the
                # float64 cast and fall to the norm mask below.
                # NULL ids arrive as NaN too and would abort the whole
                # job at the int64 cast — drop them like the SQL
                # tier's join silently does (same-answer contract on
                # degenerate input).
                pdf = pdf[pdf[vec_name].notna() & pdf[id_name].notna()]
                if len(pdf) == 0:
                    continue
                V = _np.stack(pdf[vec_name].to_numpy()).astype(_np.float64)
                ids = pdf[id_name].to_numpy().astype(_np.int64)
                Vn = _np.sqrt(_np.cumsum(V * V, axis=1)[:, -1])
                vkeep = Vn > 0  # numpy: NaN > 0 is False, unlike Spark
                if not vkeep.all():
                    V, ids, Vn = V[vkeep], ids[vkeep], Vn[vkeep]
                if len(ids) == 0:
                    continue
                out = []
                for c0 in range(0, len(qid_arr), chunk):
                    Qc = Q[c0 : c0 + chunk]
                    dots = _np.cumsum(
                        V[:, None, :] * Qc[None, :, :], axis=2
                    )[:, :, -1]  # B × q
                    sims = dots / (Vn[:, None] * Qn[None, c0 : c0 + chunk])
                    for j in range(Qc.shape[0]):
                        qid = qid_arr[c0 + j]
                        col = sims[:, j]
                        keep = ids != qid
                        if keep.sum() == 0:
                            continue
                        vals = col[keep]
                        cand_ids = ids[keep]
                        if len(vals) > k:
                            kth = _np.partition(vals, len(vals) - k)[len(vals) - k]
                            mask = vals >= kth - 1e-6
                            vals, cand_ids = vals[mask], cand_ids[mask]
                        out.append(
                            _pd.DataFrame(
                                {
                                    "query_id": qid,
                                    "neighbor_id": cand_ids,
                                    "__raw__": vals,
                                }
                            )
                        )
                if out:
                    yield _pd.concat(out, ignore_index=True)

        return scan

    partials = _spread(emb, id_col).select(id_col, vec_col).mapInPandas(
        make_scan(qids, qvecs, k, query_chunk, id_col, vec_col),
        schema="query_id long, neighbor_id long, __raw__ double",
    )
    sims = partials.select(
        "query_id", "neighbor_id", F.round(F.col("__raw__"), 6).alias("sim")
    )
    return _rank_topk(sims, k)


def hyperplane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1),
    derived from md5(plane:dim). Computed driver-side and inlined as a
    literal, so the identical constant appears in the Spark plan and
    in the DuckDB oracle SQL — no RNG state, no engine hash()."""
    import hashlib

    h = hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()[:8]
    return int(h, 16) / 2147483648.0 - 1.0


def lsh_signature_sql(
    vec_col: str, dims: int, planes: int, plane_offset: int = 0
) -> str:
    """DuckDB replica of the signature: explicit left-associated term
    sums per plane (same fold order as Spark's aggregate(), so the
    doubles — and therefore the sign bits — are identical).
    ``vec_col`` must already be double[] (pass '(embedding::DOUBLE[])'
    — parenthesized, or the [] index binds to the cast type).
    ``plane_offset`` selects a table's slice of the hyperplane
    sequence (banded LSH: table t passes offset t·planes)."""
    bits = []
    for p in range(planes):
        terms = " + ".join(
            f"({vec_col})[{d + 1}] * ({hyperplane_component(plane_offset + p, d)!r})"
            for d in range(dims)
        )
        bits.append(f"(cast(({terms}) > 0 as bigint) * {1 << p})")
    return "(" + " + ".join(bits) + ")"


# Spark side: hyperplanes travel as a broadcast 1-row literal-array
# column (__H__ array<array<double>>), and the signature is a compact
# two-level fold — keeps the expression tree small (a fully inlined
# 64-dim × 8-plane arithmetic expression breaks janino's 64KB method
# limit) while folding in exactly the same left-to-right order as the
# DuckDB oracle's explicit sums.
_SIG_EXPR = (
    "aggregate(sequence(0, {planes} - 1), 0L, (acc, p) -> acc + "
    "shiftleft(cast(aggregate(zip_with({vec}, element_at(__H__, p + 1), "
    "(x, h) -> cast(x as double) * h), 0D, (a, v) -> a + v) > 0 as bigint), p))"
)


def with_lsh_signature(
    df: DataFrame,
    vec_col: str,
    dims: int,
    planes: int,
    out: str = "__sig__",
    kernel: str = "numpy",
) -> DataFrame:
    H = [[hyperplane_component(p, d) for d in range(dims)] for p in range(planes)]
    if kernel == "numpy":
        key = (dims, planes)
        if key not in _SIG_UDFS:
            _SIG_UDFS[key] = _make_sig_udf(H)
        return df.withColumn(out, _SIG_UDFS[key](F.col(vec_col)))
    spark = df.sparkSession
    planes_df = spark.createDataFrame([(H,)], "__H__: array<array<double>>")
    return (
        df.crossJoin(F.broadcast(planes_df))
        .withColumn(out, F.expr(_SIG_EXPR.format(planes=planes, vec=vec_col)))
        .drop("__H__")
    )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    planes: int = 8,
    kernel: str = "sql",
    sig_kernel: str = "numpy",
) -> DataFrame:
    """ANN top-k: candidates share an exact LSH signature bucket, then
    exact cosine re-ranks within candidates.

    Recall is tuned by ``planes`` (fewer planes ⇒ bigger buckets ⇒
    higher recall, more compute). Unlike cosine_topk, nothing big is
    broadcast — both sides shuffle on the signature, so this is the
    path when queries are also huge.
    """
    kdot, knorm = _kernel_fns(kernel)
    q = with_lsh_signature(
        _with_norm(
            queries.select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv__")
            ),
            knorm, "__qv__", "__qn__",
        ),
        "__qv__",
        dims,
        planes,
        kernel=sig_kernel,
    )
    c = with_lsh_signature(
        _with_norm(
            _spread(emb, id_col).select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv__")
            ),
            knorm, "__cv__", "__cn__",
        ),
        "__cv__",
        dims,
        planes,
        kernel=sig_kernel,
    )
    joined = c.join(q, ["__sig__"]).filter(F.col("neighbor_id") != F.col("query_id"))
    sims = joined.select(
        "query_id",
        "neighbor_id",
        F.round(
            kdot("__qv__", "__cv__") / (F.col("__qn__") * F.col("__cn__")), 6
        ).alias("sim"),
    )
    return _rank_topk(sims, k)


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 8,
    seed: int = 42,
    kernel: str = "sql",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans-partition the
    corpus, probe each query's ``n_probe`` nearest centroids, exact
    cosine rerank within the probed cells.

    The scale shape: clustering is a one-time O(corpus) pass (sampled
    KMeans training); per query, only corpus_size × n_probe/n_clusters
    vectors are scored instead of the full corpus. Recall is tuned by
    n_probe. Centroids are tiny and broadcast; the corpus↔assignment
    join is an equi-join on cluster id.

    Measured recall@10 vs n_probe (near-uniform synthetic embeddings,
    n_clusters=16, tools/audits/r13_ivf_recall.json): 1→0.24, 2→0.38,
    4→0.55, 8→0.79, 16→1.00. The default n_probe=8 sits at the
    measured knee (~0.8 recall at half the cells scanned); data with
    real cluster structure reaches the same recall with fewer probes.
    A user taking the r13-era default (4) got 0.55 recall silently —
    raise n_probe for recall, lower it for latency, and re-measure on
    YOUR corpus with tools/ivf_recall_sweep.py (the r13 curve is in
    SCALE.md, "Round-13 IVF recall-vs-n_probe characterization").
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    kdot, knorm = _kernel_fns(kernel)
    # degenerate vectors are cut BEFORE the KMeans fit: a NULL vector
    # crashes the fit outright, and a NaN element silently poisons
    # every centroid (NaN distances break routing for CLEAN vectors)
    corpus = _with_norm(
        _spread(emb, id_col).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv__")
        ),
        knorm, "__cv__", "__cn__",
    ).withColumn(
        "__feat__", array_to_vector(F.col("__cv__").cast("array<double>"))
    )
    model = KMeans(k=n_clusters, seed=seed, featuresCol="__feat__").fit(corpus)
    assigned = model.transform(corpus).select(
        "neighbor_id", "__cv__", "__cn__", F.col("prediction").alias("__cell__")
    )

    spark = emb.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "__cell__ int, __centroid__ array<double>",
    )
    q = _with_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv__")
        ),
        knorm, "__qv__", "__qn__",
    )
    return _ivf_probe_rerank(assigned, centroids, q, k, n_probe, kdot)


def _ivf_probe_rerank(assigned, centroids, q, k, n_probe, kdot):
    """Shared IVF tail: probe each query's n_probe best cells (tiny
    cross join: Q × n_clusters, centroids broadcast), then exact
    cosine rerank restricted to the probed cells' members. Probe
    scores round to 6 places so routing is deterministic (and, for the
    fixed-centroid tier, engine-portable); cell-ascending tie-break."""
    qc = q.crossJoin(F.broadcast(centroids)).select(
        "query_id",
        "__qv__",
        "__qn__",
        "__cell__",
        F.round(cosine("__qv__", "__centroid__"), 6).alias("__csim__"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("__csim__").desc(), F.col("__cell__").asc()
    )
    probes = qc.withColumn("__pr__", F.row_number().over(w_probe)).filter(
        F.col("__pr__") <= n_probe
    ).select("query_id", "__qv__", "__qn__", "__cell__")

    cands = probes.join(assigned, "__cell__").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    sims = cands.select(
        "query_id",
        "neighbor_id",
        F.round(
            kdot("__qv__", "__cv__") / (F.col("__qn__") * F.col("__cn__")), 6
        ).alias("sim"),
    )
    return _rank_topk(sims, k)


def ivf_fixed_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    centroid_ids: list,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel: str = "sql",
) -> DataFrame:
    """IVF with a deterministic sampled coarse quantizer: the centroids
    are the corpus vectors named in ``centroid_ids`` (cell = rank of
    the id within the sorted list), and every corpus vector joins the
    cell of its most-cosine-similar centroid. Same probe/rerank tail —
    and therefore the same scale shape — as the KMeans tier
    (``ivf_topk``), but fully value-deterministic, so the whole
    operator is oracle-comparable in ANSI SQL. Assignment and probe
    scores round to 6 places (with cell-ascending tie-break) so both
    engines make identical routing decisions.

    Quantizer contract: ``centroid_ids`` must name vectors with
    non-zero norm (cosine against a zero centroid is undefined; under
    ANSI mode it would abort the assignment join). Zero-norm CORPUS
    and QUERY vectors are filtered like in every other tier — they
    have no defined neighbors.

    Measured recall@10 vs n_probe (16 sampled centroids,
    tools/audits/r13_ivf_recall.json): 1→0.43, 2→0.51, 4→0.65,
    8→0.83, 16→1.00. Default n_probe=8 = the measured knee; see
    :func:`ivf_topk` for the tuning guidance.
    """
    kdot, knorm = _kernel_fns(kernel)
    ids = sorted(centroid_ids)
    cells = F.broadcast(
        emb.sparkSession.createDataFrame(
            [(i, vid) for i, vid in enumerate(ids)], "__cell__ int, __cid__ long"
        )
    )
    centroids = (
        emb.join(cells, F.col(id_col) == F.col("__cid__"))
        .select("__cell__", F.col(vec_col).cast("array<double>").alias("__centroid__"))
    )

    corpus = _spread(emb, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv__")
    ).transform(lambda d: _with_norm(d, knorm, "__cv__", "__cn__"))
    ac = corpus.crossJoin(F.broadcast(centroids)).select(
        "neighbor_id",
        "__cv__",
        "__cn__",
        "__cell__",
        F.round(cosine("__cv__", "__centroid__"), 6).alias("__asim__"),
    )
    w_assign = Window.partitionBy("neighbor_id").orderBy(
        F.col("__asim__").desc(), F.col("__cell__").asc()
    )
    assigned = (
        ac.withColumn("__rn__", F.row_number().over(w_assign))
        .filter(F.col("__rn__") == 1)
        .select("neighbor_id", "__cv__", "__cell__", "__cn__")
    )

    q = _with_norm(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv__")
        ),
        knorm, "__qv__", "__qn__",
    )
    return _ivf_probe_rerank(assigned, centroids, q, k, n_probe, kdot)


def embedding_near_dup_pairs(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dims: int = 64,
    planes: int = 8,
    mode: str = "grouped",
    sig_kernel: str = "numpy",
    max_bucket: int | None = 16384,
) -> DataFrame:
    """Near-duplicate vectors (cosine ≥ threshold) via LSH bucketing +
    exact verification; returns (a_id, b_id, sim).

    ``mode="grouped"`` (default, the 100 TB shape): ONE shuffle
    hash-partitions vectors by signature, and each bucket verifies
    its own pairs in a C-speed applyInPandas matrix kernel — no
    self-join, no per-pair Arrow transfer, each vector hashed and
    shipped exactly once. Every pair lives in exactly one bucket, so
    no cross-bucket dedup is needed. (A pathological bucket still
    costs O(b²) pairs — identical to what the join would produce for
    that bucket; more planes or banding bounds b, and since round 8
    ``max_bucket`` enforces the bound loudly: expected bucket size is
    n/2^planes, so ``planes`` must GROW as log2(n) — a fixed-width
    signature quietly turns this operator quadratic as the corpus
    scales. ``max_bucket=None`` disables.)

    ``mode="join"`` is the declarative self-join used as the oracle
    reference; its two branches each evaluate the signature (a
    pandas-UDF column defeats Spark's ReusedExchange), so it exists
    for verification, not production.

    Results are identical in both modes (bit-exact cumsum fold +
    JVM-side round; equivalence-tested)."""
    s = with_lsh_signature(
        # NULL embeddings dropped before the signature kernel
        # (np.stack cannot batch them; a NULL vector has no
        # neighbors by contract anyway)
        _spread(emb, id_col)
        .filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("__id__"), F.col(vec_col).alias("__v__")),
        "__v__",
        dims,
        planes,
        kernel=sig_kernel,
    )
    if mode == "join":
        s = s.withColumn("__n__", norm("__v__")).filter((F.col("__n__") > 0) & ~F.isnan("__n__"))
        a = s.alias("a")
        b = s.alias("b")
        pairs = a.join(
            b,
            (F.col("a.__sig__") == F.col("b.__sig__"))
            & (F.col("a.__id__") < F.col("b.__id__")),
        ).select(
            F.col("a.__id__").alias("a_id"),
            F.col("b.__id__").alias("b_id"),
            F.round(
                dot("a.__v__", "b.__v__") / (F.col("a.__n__") * F.col("b.__n__")),
                6,
            ).alias("sim"),
        )
        return pairs.filter(F.col("sim") >= threshold)
    if mode != "grouped":
        raise ValueError(f"unknown mode {mode!r} (expected 'grouped' or 'join')")

    pairs = s.groupBy("__sig__").applyInPandas(
        _make_bucket_verify(threshold, max_bucket),
        schema="a_id long, b_id long, __raw__ double",
    )
    return pairs.select(
        "a_id", "b_id", F.round(F.col("__raw__"), 6).alias("sim")
    ).filter(F.col("sim") >= threshold)


def _make_bucket_verify(threshold, max_bucket=None):
    """applyInPandas kernel: all-pairs cosine within one bucket, in
    blocked C-speed matrix chunks; emits the strict upper triangle
    (by id) of pairs whose RAW sim could still round up past the
    threshold. Self-contained closure (numpy/pandas only).

    ``max_bucket``: the within-bucket work is O(n²); a bucket past
    this bound fails the job loudly (same contract-enforcement idiom
    as ngram_jaccard_pairs' max_block) instead of silently burning a
    quadratic task — the fix is more signature bits, and the error
    says so."""
    import numpy as _np
    import pandas as _pd

    empty = _pd.DataFrame(
        {
            "a_id": _pd.Series([], dtype="int64"),
            "b_id": _pd.Series([], dtype="int64"),
            "__raw__": _pd.Series([], dtype="float64"),
        }
    )

    def verify(pdf):
        n = len(pdf)
        if max_bucket is not None and n > max_bucket:
            raise ValueError(
                f"near-dup LSH bucket holds {n} vectors >"
                f" max_bucket={max_bucket} — all-pairs verification is"
                " quadratic per bucket, and bucket size grows as"
                " n/2^bits for a FIXED signature width. Add signature"
                " bits as the corpus grows (planes ~ log2(n /"
                " target_bucket)), or raise/disable max_bucket after"
                " measuring."
            )
        if n < 2:
            return empty
        order = _np.argsort(pdf["__id__"].to_numpy())
        ids = pdf["__id__"].to_numpy()[order].astype(_np.int64)
        V = _np.stack(pdf["__v__"].to_numpy()[order]).astype(_np.float64)
        norms = _np.sqrt(_np.cumsum(V * V, axis=1)[:, -1])
        cut = threshold - 1e-6  # keep everything that could round up
        out_a, out_b, out_s = [], [], []
        B = 256
        for i0 in range(0, n, B):
            Vi, ni = V[i0 : i0 + B], norms[i0 : i0 + B]
            for j0 in range(i0, n, B):
                Vj, nj = V[j0 : j0 + B], norms[j0 : j0 + B]
                dots = _np.cumsum(
                    Vi[:, None, :] * Vj[None, :, :], axis=2
                )[:, :, -1]
                sims = dots / (ni[:, None] * nj[None, :])
                ii, jj = _np.nonzero(sims >= cut)
                keep = (i0 + ii) < (j0 + jj)  # strict upper triangle
                ii, jj = ii[keep], jj[keep]
                out_a.append(ids[i0 + ii])
                out_b.append(ids[j0 + jj])
                out_s.append(sims[ii, jj])
        if not out_a:
            return empty
        return _pd.DataFrame(
            {
                "a_id": _np.concatenate(out_a),
                "b_id": _np.concatenate(out_b),
                "__raw__": _np.concatenate(out_s),
            }
        )

    return verify


def banded_hyperplanes(
    dims: int, planes_per_table: int, num_tables: int
) -> list[list[float]]:
    """(num_tables × planes_per_table) hyperplanes; table t owns the
    contiguous slice [t·b, (t+1)·b) of the deterministic
    hyperplane_component sequence, so every table's planes are
    independent and both engines can reproduce them as literals."""
    return [
        [hyperplane_component(t * planes_per_table + p, d) for d in range(dims)]
        for t in range(num_tables)
        for p in range(planes_per_table)
    ]


def _make_banded_sig_udf(H, num_tables, planes_per_table):
    import numpy as _np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    @pandas_udf(ArrayType(LongType()))
    def banded_sig(a: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="object")
        Hm = _np.asarray(H, dtype=_np.float64)  # (T·b) × D
        av = _np.stack(a.to_numpy()).astype(_np.float64)
        sums = _np.cumsum(av[:, None, :] * Hm[None, :, :], axis=2)[:, :, -1]
        bits = (sums > 0).astype(_np.int64).reshape(
            len(av), num_tables, planes_per_table
        )
        sigs = (bits << _np.arange(planes_per_table)).sum(axis=2)  # B × T
        return pd.Series(list(sigs))

    return banded_sig


_BANDED_SIG_UDFS: dict = {}


def embedding_near_dup_banded(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dims: int = 64,
    planes_per_table: int = 4,
    num_tables: int = 8,
    max_bucket: int | None = 16384,
) -> DataFrame:
    """Multi-table (banded) LSH near-dup pairs — the recall-safe
    variant of ``embedding_near_dup_pairs``. A single w-plane
    signature requires ALL w sign bits to agree (recall p^w — a
    cliff); here a pair is a candidate if it matches in ANY of
    ``num_tables`` independent ``planes_per_table``-bit tables
    (recall 1-(1-p^b)^T), exactly how minhash bands work.

    Shape: one banded-signature pass per vector (numpy kernel), ONE
    shuffle on (table, signature), per-bucket C-speed verification,
    then a distinct (a pair can match in several tables; sims are
    bit-exact deterministic so distinct collapses them). The
    quadratic work is CONFINED to buckets, not eliminated: a table
    has 2^planes_per_table buckets, so for a FIXED signature width
    expected bucket size — and with it per-bucket all-pairs cost —
    grows linearly/quadratically with the corpus (the round-8 ANN
    sweep measured the bend). ``planes_per_table`` must grow as
    log2(n / target_bucket) at scale (recall is then re-tuned with
    ``num_tables``), and ``max_bucket`` enforces the contract loudly
    (None disables)."""
    key = (dims, planes_per_table, num_tables)
    if key not in _BANDED_SIG_UDFS:
        H = banded_hyperplanes(dims, planes_per_table, num_tables)
        _BANDED_SIG_UDFS[key] = _make_banded_sig_udf(
            H, num_tables, planes_per_table
        )
    s = (
        _spread(emb, id_col)
        # NULL embeddings dropped before the banded signature kernel
        # (np.stack cannot batch them; no neighbors by contract)
        .filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("__id__"), F.col(vec_col).alias("__v__"))
        .withColumn("__sigs__", _BANDED_SIG_UDFS[key](F.col("__v__")))
        .select(
            "__id__",
            "__v__",
            F.posexplode("__sigs__").alias("__tbl__", "__sig__"),
        )
    )
    pairs = s.groupBy("__tbl__", "__sig__").applyInPandas(
        _make_bucket_verify(threshold, max_bucket),
        schema="a_id long, b_id long, __raw__ double",
    )
    return (
        pairs.select("a_id", "b_id", F.round(F.col("__raw__"), 6).alias("sim"))
        .distinct()
        .filter(F.col("sim") >= threshold)
    )


def _make_greedy_semdedup(threshold, max_bucket=None):
    """applyInPandas kernel: greedy SemDeDup scan of one LSH bucket in
    ascending-id order — a vector is dropped iff its cosine to some
    already-KEPT smaller-id vector rounds to >= threshold (so a
    dropped vector never knocks out later ones). The per-bucket scan
    is sequential by construction, but each step is a vectorized
    matrix-vector product against the kept set. Self-contained
    closure (numpy/pandas only, pickles by value)."""
    import numpy as _np
    import pandas as _pd

    def survivors(pdf):
        if max_bucket is not None and len(pdf) > max_bucket:
            raise ValueError(
                f"semdedup LSH bucket holds {len(pdf)} vectors >"
                f" max_bucket={max_bucket} — the greedy scan is"
                " quadratic per bucket, and bucket size grows as"
                " n/2^planes for a FIXED signature width. Grow"
                " `planes` as log2(n / target_bucket), or"
                " raise/disable max_bucket after measuring."
            )
        order = _np.argsort(pdf["__id__"].to_numpy())
        ids = pdf["__id__"].to_numpy()[order].astype(_np.int64)
        if len(ids) == 1:
            return _pd.DataFrame({"__id__": ids})
        V = _np.stack(pdf["__v__"].to_numpy()[order]).astype(_np.float64)
        V = V / _np.sqrt((V * V).sum(axis=1, keepdims=True))
        kept = [0]
        for i in range(1, len(ids)):
            sims = _np.round(V[kept] @ V[i], 6)
            if not (sims >= threshold).any():
                kept.append(i)
        return _pd.DataFrame({"__id__": ids[kept]})

    return survivors


def semdedup(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dims: int = 64,
    planes: int = 8,
    policy: str = "greedy",
    sig_kernel: str = "numpy",
    max_bucket: int | None = 16384,
) -> DataFrame:
    """Semantic deduplication over an embedding column (SemDeDup,
    Abbas et al. 2023, arXiv:2303.09540): partition the corpus into
    buckets by a deterministic literal-hyperplane LSH signature (the
    paper's k-means cells, made engine-reproducible), then within each
    bucket drop vectors that are near-duplicates (cosine >= threshold)
    of a smaller-id vector. Returns the surviving rows of ``emb``
    unchanged in schema.

    ``policy="greedy"`` (the paper's semantics): sequential
    keep-lowest-id scan per bucket — dropped vectors cannot knock out
    later ones. One shuffle on signature, per-bucket vectorized
    kernel; no oracle (the kept-set recursion isn't plain SQL).

    ``policy="dominated"``: drop any vector within rounded-cosine
    threshold of ANY smaller-id bucket-mate (kept or not) — a
    slightly over-eager variant whose drop set is exactly the b_id
    side of :func:`embedding_near_dup_pairs`, hence fully
    SQL-expressible and DuckDB-oracle-paired. Greedy survivors are
    always a superset of dominated survivors.

    Scale shape (both policies): each vector is hashed and shuffled
    exactly once on its signature; the only quadratic work is within
    a bucket (bounded by planes; band with
    :func:`embedding_near_dup_banded` for recall instead of more
    planes). No global O(n²) stage, nothing on the driver. A FIXED
    ``planes`` lets buckets grow as n/2^planes with the corpus —
    grow it as log2(n); ``max_bucket`` (round 8) fails loudly past
    the bound instead of burning a quadratic task (None disables)."""
    if policy == "dominated":
        pairs = embedding_near_dup_pairs(
            emb,
            id_col=id_col,
            vec_col=vec_col,
            threshold=threshold,
            dims=dims,
            planes=planes,
            sig_kernel=sig_kernel,
            max_bucket=max_bucket,
        )
        drops = pairs.select(F.col("b_id").alias("__drop__")).distinct()
        return emb.join(
            drops, emb[id_col] == F.col("__drop__"), "left_anti"
        )
    if policy != "greedy":
        raise ValueError(f"unknown policy {policy!r} (expected 'greedy' or 'dominated')")
    s = with_lsh_signature(
        # NULL embeddings dropped before the signature kernel
        # (np.stack cannot batch them; a NULL vector has no
        # neighbors by contract anyway)
        _spread(emb, id_col)
        .filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("__id__"), F.col(vec_col).alias("__v__")),
        "__v__",
        dims,
        planes,
        kernel=sig_kernel,
    )
    kept = s.groupBy("__sig__").applyInPandas(
        _make_greedy_semdedup(threshold, max_bucket), schema="__id__ long"
    )
    # NULL-embedding rows never reach the kernel (filtered above) but
    # are not duplicates of anything — they SURVIVE, keeping the
    # documented invariant greedy ⊇ dominated (whose left_anti keeps
    # them naturally). One LEFT join + filter instead of a
    # semi-join ∪ null-scan union, so the corpus is read once.
    return (
        emb.join(kept, emb[id_col] == F.col("__id__"), "left")
        .filter(F.col("__id__").isNotNull() | F.col(vec_col).isNull())
        .drop("__id__")
    )


def quantize_int8(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column:
    scale = max(|v|)/127, q_i = round(v_i/scale) in [-127, 127].
    Returns (id_col, q array<int>, scale double).

    The point at 100 TB: int8 vectors cut ANN shuffle and storage
    bytes 4x vs float32 (8x vs the widened float64), and dot products
    on int8 stay exact integers — a candidate-generation tier that
    shuffles a quarter of the bytes with bounded error (max
    reconstruction error is scale/2 per component).

    Determinism: every op is IEEE arithmetic (abs/max/divide/round —
    no libm), and Spark ROUND and DuckDB round() both break ties away
    from zero, so q and scale are bit-identical across engines. Zero
    vectors quantize to all-zero q with scale 1 (guarded, no 0/0).
    Pure column expressions, no shuffle, no Python; the scale column
    is materialized in a first projection so the quantizing lambda
    references a plain column (keeps the expression tree linear in
    dims, not quadratic)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    mx = F.array_max(F.transform(v, F.abs))
    scale = F.when(mx == F.lit(0.0), F.lit(1.0)).otherwise(mx / F.lit(127.0))
    staged = emb.select(
        F.col(id_col), v.alias("__v__"), scale.alias("scale")
    ).filter(
        # NULL vectors give a NULL scale (isnan is false on NULL, so
        # test both); NaN elements give a NaN scale; a NULL ELEMENT
        # slips past array_max (which skips NULLs) but would put NULLs
        # in q — none of these are quantizable, and under ANSI the int
        # cast of the NaN case would throw
        F.col("scale").isNotNull()
        & ~F.isnan("scale")
        & ~F.exists("__v__", lambda x: x.isNull())
    )

    cols = [
        F.col(id_col),
        F.transform(
            F.col("__v__"), lambda x: F.round(x / F.col("scale")).cast("int")
        ).alias("q"),
        F.col("scale"),
    ]
    if keep_vec:
        # the float64-widened original, for reconstruction-error math
        cols.append(F.col("__v__").alias("vec64"))
    return staged.select(*cols)


def _int_sqnorm(q: str) -> Column:
    """Exact integer squared norm of an int8-quantized vector."""
    return F.aggregate(
        q, F.lit(0).cast("long"), lambda acc, x: acc + (x.cast("long") * x)
    )


def _int_dot(a: str, b: str) -> Column:
    """Exact integer dot product of two int8-quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def int8_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors on int8-quantized vectors (quantize_int8).
    Returns (query_id, neighbor_id, sim, rank) like cosine_topk, with
    sim the cosine of the QUANTIZED vectors.

    Why this tier exists: the per-vector scales cancel in the cosine
    (cos(q_a*s_a, q_b*s_b) = dot(q_a,q_b)/sqrt(|q_a|²|q_b|²)), so the
    whole search runs on exact integer dot products and squared norms
    — sims are bit-identical across engines (integers + IEEE
    sqrt/divide, no libm) — while candidate vectors ship as int8:
    4x fewer broadcast/shuffle bytes than float32, 8x fewer than the
    widened float64 the exact tier carries. Quantization error bounds
    the sim error by ~1/127 per normalized component, plenty for
    candidate generation (recall is pytest-pinned against the exact
    tier; rerank survivors with cosine_topk when exactness matters).
    Same contract as cosine_topk: the query set must broadcast."""
    cq = quantize_int8(emb, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("q").alias("__cq__")
    ).withColumn("__cn__", _int_sqnorm("__cq__"))
    qq = quantize_int8(queries, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("query_id"), F.col("q").alias("__qq__")
    ).withColumn("__qn__", _int_sqnorm("__qq__"))
    joined = _spread(cq, "neighbor_id").join(
        F.broadcast(qq), F.col("neighbor_id") != F.col("query_id")
    )
    sim = F.when(
        (F.col("__cn__") == 0) | (F.col("__qn__") == 0), F.lit(0.0)
    ).otherwise(
        _int_dot("__qq__", "__cq__").cast("double")
        / F.sqrt((F.col("__qn__") * F.col("__cn__")).cast("double"))
    )
    sims = joined.select(
        "query_id", "neighbor_id", F.round(sim, 6).alias("sim")
    )
    return _rank_topk(sims, k)


# ------------------------------------------------- random projection


def rp_component(j: int, i: int, salt: str = "rp") -> float:
    """Deterministic Rademacher (±1) projection-matrix entry from
    md5(salt:j:i) parity — driver-computed literal, inlined
    identically in the Spark plan and the DuckDB oracle (same recipe
    as hyperplane_component)."""
    import hashlib

    h = hashlib.md5(f"{salt}:{j}:{i}".encode()).hexdigest()
    return 1.0 if int(h[:2], 16) % 2 == 0 else -1.0


def rp_matrix(out_dim: int, in_dim: int, salt: str = "rp") -> list[list[float]]:
    return [
        [rp_component(j, i, salt) for i in range(in_dim)] for j in range(out_dim)
    ]


def random_projection(
    df: DataFrame,
    out_dim: int,
    in_dim: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "rp",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a
    Rademacher (±1) matrix (Achlioptas 2003, "Database-friendly
    random projections"): p_j = <v, R_j> / sqrt(out_dim). Shrinking
    embeddings (e.g. 64 -> 16 dims) before ANN indexing or near-dup
    banding cuts shuffle bytes and distance-kernel cost ~4x while
    approximately preserving pairwise geometry. Returns wide form
    (id_col, p0..p{out_dim-1}), each component rounded to 6 dp.

    Determinism: the matrix entries are ±1 literals; each component is
    an ordered left fold of IEEE double multiply-adds (same fold order
    as the oracle's explicit term sum) — only the final division by
    sqrt(out_dim) touches libm, absorbed by round(6).

    Scale shape: pure map-side column expressions — no shuffle, no
    UDF, column pruning reaches the scan. out_dim*in_dim multiply-adds
    per row is codegen'd; for very wide matrices the numpy per-row
    kernel pattern (see _make_sig_udf) applies unchanged."""
    R = rp_matrix(out_dim, in_dim, salt)
    inv = 1.0 / float(out_dim) ** 0.5
    cols = []
    for j in range(out_dim):
        rj = F.array(*[F.lit(x) for x in R[j]])
        prod = F.zip_with(
            F.col(vec_col), rj, lambda x, r: x.cast("double") * r
        )
        s = F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)
        cols.append(F.round(s * F.lit(inv), 6).alias(f"p{j}"))
    return df.select(F.col(id_col), *cols)


def rp_oracle_sql(
    out_dim: int,
    in_dim: int,
    *,
    salt: str = "rp",
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB replay of random_projection: explicit left-associated
    term sums (same fold order ⇒ same doubles)."""
    R = rp_matrix(out_dim, in_dim, salt)
    inv = 1.0 / float(out_dim) ** 0.5
    comps = []
    for j in range(out_dim):
        terms = " + ".join(
            f"v[{i + 1}] * ({R[j][i]!r})" for i in range(in_dim)
        )
        comps.append(f"ROUND(({terms}) * {inv!r}, 6) AS p{j}")
    cols = ",\n           ".join(comps)
    return f"""
    WITH e AS (SELECT {id_col}, ({vec_col}::DOUBLE[]) AS v FROM {table})
    SELECT {id_col},
           {cols}
    FROM e
    """
