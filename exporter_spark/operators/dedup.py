"""Deduplication operators — exact, hash, MinHash+LSH, n-gram
Jaccard, SimHash.

North-star extensions (SURVEY.md §2.5); none exist in the reference.
Everything is expressed with built-in column functions so the hot
path stays JVM-side, and — where feasible — with engine-portable
primitives (md5 hex, replace/length arithmetic) so the DuckDB oracle
can replay the exact computation.

Scale design:
  * exact/hash dedup — one hash-partitioned shuffle on the digest;
    digests (32-64 chars) shuffle instead of document bodies.
  * MinHash — signatures are computed map-side; only
    (band_id, band_hash, doc_id) triples shuffle for the LSH
    bucket-join, keeping candidate generation out of O(n²). Bands and
    rows-per-band tune the similarity threshold curve.
  * n-gram Jaccard — O(n²) *within a blocking key only*; the block
    column must keep groups small (it is the unit of skew).
  * SimHash — map-side 32-bit fingerprint; near-dup = small hamming
    distance, found by pigeonhole banding on equal bit slices.
  * MinHash, SimHash and pHash share one banded candidate join,
    :func:`band_join` (and :func:`band_join_store` for a delta
    against a store).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from exporter_spark.operators.partitioning import spread as _spread


# ---------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Keep the first row (by order_col) per distinct key tuple.

    Window-based rather than dropDuplicates so the survivor choice is
    deterministic — required for oracle comparison and for idempotent
    re-runs at scale.
    """
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def hash_dedup(df: DataFrame, cols: list[str], order_col: str) -> DataFrame:
    """Dedup on a sha256 digest of the selected columns. At 100 TB the
    win is shuffling 64-char digests instead of document bodies.

    The digest input is an unambiguous encoding, not a separator
    join: each column contributes ``n:`` for NULL or
    ``v<len>:<value>`` otherwise. Length prefixes make column
    boundaries collision-free even when values contain the would-be
    separator, and the n/v tag keeps NULL distinct from the empty
    string in EVERY position — concat_ws skips NULLs entirely, so
    ("a", NULL) and (NULL, "a") would otherwise share a digest."""
    out = df.withColumn("__digest__", content_digest(cols))
    return exact_dedup(out, ["__digest__"], order_col).drop("__digest__")


def content_digest(cols: list[str]) -> Column:
    """The sha256 column expression behind :func:`hash_dedup`, exposed
    so the incremental path (operators/incremental.py) keys its
    persisted digest store on the SAME encoding — a store written by
    one and probed by the other must agree byte-for-byte."""
    parts = []
    for c in cols:
        v = F.col(c).cast("string")
        parts.append(
            F.when(v.isNull(), F.lit("n:")).otherwise(
                F.concat(F.lit("v"), F.length(v).cast("string"), F.lit(":"), v)
            )
        )
    return F.sha2(F.concat(*parts), 256)


# ---------------------------------------------------------------- shingles

def shingle_sql(text_col: str, n: int) -> str:
    """Distinct character n-gram array as an engine-portable SQL
    fragment. Texts shorter than n produce an empty set (guarded
    explicitly: Spark's sequence(1, 0) would count *down*, DuckDB's
    generate_series would return empty — the guard unifies them)."""
    return (
        f"if(length({text_col}) < {n}, array(),"
        f" array_distinct(transform(sequence(1, length({text_col}) - {n - 1}),"
        f" i -> substring({text_col}, i, {n}))))"
    )


def char_shingles(text_col: str, n: int) -> Column:
    """Distinct character n-grams (JVM-side; same semantics in DuckDB)."""
    return F.expr(shingle_sql(text_col, n))


def word_tokens(text_col: str) -> Column:
    return F.expr(f"filter(split({text_col}, '\\\\s+'), x -> x != '')")


# ---------------------------------------------------------------- minhash

# Carter-Wegman universal hashing over the Mersenne prime 2^31-1: one
# base hash per shingle (from md5), then num_hashes cheap affine maps
# (a*h + b) mod p.  Constants fit the arithmetic inside int64 with no
# overflow — max(a*h + b) = (p-1)^2 + (p-1) < 2^62 — which matters
# because the session runs ANSI mode, where int64 overflow THROWS.
_MERSENNE = (1 << 31) - 1


def _minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine family; a != 0.
    Seeded so the SQL fragments (Spark + DuckDB oracle) are stable
    across processes and rounds."""
    import random

    rnd = random.Random(0x5EED)
    return [
        (rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]


def hashed_shingles_sql(shingles_col: str, family: str = "md5") -> str:
    """Per-shingle base hash h ∈ [0, 2^31-1) as a Spark-SQL fragment,
    reduced mod the Mersenne prime.

    ``family="md5"`` (default, the ORACLE family): top 60 bits of md5.
    The DuckDB twin is ('0x' || substr(md5(s),1,15))::BIGINT — both
    engines agree bit-for-bit on md5 hex of UTF-8 text and on 64-bit
    integer %, which keeps the whole pipeline oracle-replayable with
    ONE md5 per shingle instead of one per (shingle × seed): at 32
    seeds that is a 32× cut of the digest work, the dominant cost of
    the signature stage.

    ``family="xxhash64"`` (the PRODUCTION family): Spark's native
    codegen'd XXH64 — no hex-string materialization, no conv() parse,
    measured substantially faster (SCALE.md round 5). Not replayable
    in DuckDB (its hash() is a different algorithm), so registry
    queries stay on md5; the final verified output is family-agnostic
    in practice because exact-Jaccard disposes whatever the banding
    proposes (equality pinned in pytest at two SFs).

    Tradeoff vs per-seed hashing (both families): two distinct
    shingles collide in the 31-bit base hash with probability ~2⁻³¹,
    and such a collision aliases them across ALL seeds. The aliasing
    can only merge shingles — it never separates them — so LSH recall
    is unaffected and the only cost is a vanishing rate of extra
    candidates, which the exact-Jaccard verify stage discards.
    """
    if family == "xxhash64":
        return f"transform({shingles_col}, s -> pmod(xxhash64(s), {_MERSENNE}))"
    if family != "md5":
        raise ValueError(f"unknown minhash family: {family!r}")
    return (
        f"transform({shingles_col},"
        f" s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)"
        f" % {_MERSENNE})"
    )


def minhash_over(
    shingles_col: str, num_hashes: int, *, hashed: bool = False
) -> Column:
    """MinHash signature as array<bigint> over an ALREADY MATERIALIZED
    shingle-array column: element i is min over shingles of
    (a_i * h(s) + b_i) mod 2^31-1, the classic Broder minwise estimate
    under a universal family.

    Pass ``hashed=True`` when ``shingles_col`` already holds the base
    hashes from :func:`hashed_shingles_sql` — pipelines should
    materialize that column once so the md5 runs once per shingle, not
    once per seed.  (With ``hashed=False`` the base-hash expression is
    textually repeated per seed; Spark's subexpression elimination
    usually collapses it, but the materialized form is the contract.)

    Taking a column (not the text expression) matters for speed: the
    shingle array is built once per document instead of once per hash
    seed — at 32 seeds that is a 32× cut of the substring/dedup work.
    """
    hs = shingles_col if hashed else hashed_shingles_sql(shingles_col)
    sigs = ", ".join(
        f"array_min(transform({hs}, h -> ({a} * h + {b}) % {_MERSENNE}))"
        for a, b in _minhash_coeffs(num_hashes)
    )
    return F.expr(f"array({sigs})")


def minhash_signature(text_col: str, num_hashes: int, shingle_n: int) -> Column:
    """Convenience one-expression form (prefer hashed_shingles_sql +
    minhash_over(hashed=True) in pipelines)."""
    return minhash_over(shingle_sql(text_col, shingle_n), num_hashes)


def minhash_bands(
    sig_col: str, bands: int, rows_per_band: int, family: str = "md5"
) -> Column:
    """Band hashes per band: md5 of the concatenated signature slice
    (oracle family — the explicit string cast keeps the join key
    rendering identical to the DuckDB oracle's ::VARCHAR), or native
    xxhash64 over the slice (production family — bigint keys, no hex
    strings)."""
    parts = []
    for b in range(bands):
        lo = b * rows_per_band
        if family == "xxhash64":
            parts.append(
                f"xxhash64(array_join(transform(slice({sig_col}, {lo + 1},"
                f" {rows_per_band}), x -> cast(x as string)), '|'))"
            )
            continue
        slice_expr = (
            f"transform(slice({sig_col}, {lo + 1}, {rows_per_band}),"
            f" x -> cast(x as string))"
        )
        parts.append(f"md5(array_join({slice_expr}, '|'))")
    return F.expr(f"array({', '.join(parts)})")


# ---------------------------------------------------------------- banded join
# The one candidate join of the near-dup family: band keys from
# minhash_bands (MinHash LSH) or pigeonhole_keys (SimHash, pHash).

Verify = Callable[[str, str], tuple[Column, Column]]


def _explode_keys(df: DataFrame, keys: Column) -> DataFrame:
    return df.select("*", F.posexplode(keys).alias("__band__", "__key__"))


def band_join(
    left: DataFrame, *, keys: Column, verify: Verify | None = None
) -> DataFrame:
    """Pairs ``(a_id, b_id)``, ``a_id < b_id``, of ``left`` rows that
    share a band key — the banded self-join.

    ``left`` holds ``__id__``, the columns ``verify`` reads and those
    ``keys`` (an array Column, one key per band) is computed from. The
    keys are posexploded into ``(__band__, __key__)`` and equi-joined;
    a pair colliding in several bands comes out once. ``verify(a, b)``
    gets the two sides' aliases and returns ``(score, keep)``: an
    aliased score column added to the output and a predicate on it,
    applied after the distinct. Without ``verify`` the result is the
    bare candidate set.

    The triples are repartitioned on (band, key) so both join sides
    hang off one canonically-equal exchange. Two regimes, both checked
    on the final adaptive plan (tests/test_operators.py pins the first):

    * above the broadcast threshold (the at-scale case) the planner
      dedupes them into ONE ``ReusedExchange``, so the pipeline under
      ``left`` (minhash signatures, an image decode) runs once with no
      cache lifetime to manage — measured on pHash at sf0.1: shuffle
      write 102 KB vs read 192 KB, one write and two reads, where an
      explicit cache gained nothing warm;
    * below it AQE broadcasts one side instead and the pipeline under
      ``left`` runs once per side, which is cheap next to the scan
      because the frame is small by definition.

    A pair found by the join is only a candidate; what the join
    guarantees depends on the keys — see :func:`pigeonhole_keys` for
    the exact (no-loss) case.
    """
    banded = _explode_keys(left, keys).repartition("__band__", "__key__")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = a.join(
        b,
        (F.col("a.__band__") == F.col("b.__band__"))
        & (F.col("a.__key__") == F.col("b.__key__"))
        & (F.col("a.__id__") < F.col("b.__id__")),
    )
    ids = [F.col("a.__id__").alias("a_id"), F.col("b.__id__").alias("b_id")]
    if verify is None:
        return pairs.select(*ids).distinct()
    score, keep = verify("a", "b")
    return pairs.select(*ids, score).distinct().filter(keep)


def band_join_store(
    delta: DataFrame,
    store: DataFrame,
    *,
    keys: Column,
    verify: Verify,
    broadcast_delta: bool = True,
) -> DataFrame:
    """Distinct ``__id__`` of the ``delta`` rows that share a band key
    with some ``store`` row and pass ``verify(store, delta)`` — the
    delta-vs-store face of :func:`band_join`, for the incremental
    operators. It is a second function rather than a mode of the first
    because nothing after the key explode is shared: no repartition, no
    id ordering, and ids instead of scored pairs come out.

    ``keys`` is evaluated on each side separately, so the store's band
    keys are recomputed map-side from what it holds (a signature, a
    fingerprint) and the store needs no id. With ``broadcast_delta``
    (the operators' contract: delta ≪ store) the delta's triples are
    the broadcast build side, so the join and the ``verify`` filter run
    inside the store scan and only matched delta ids reach the
    distinct: the store NEVER shuffles and per-increment shuffle is
    delta-sized at any store size (an incremental sweep caught the
    earlier repartition-both-sides shape shuffling all of the store's
    triples every increment). Without it both sides hash-shuffle on
    (band, key), for a delta too large to broadcast.
    """
    probe = _explode_keys(delta, keys)
    if broadcast_delta:
        probe = F.broadcast(probe)
    score, keep = verify("s", "d")
    return (
        _explode_keys(store, keys).alias("s")
        .join(
            probe.alias("d"),
            (F.col("s.__band__") == F.col("d.__band__"))
            & (F.col("s.__key__") == F.col("d.__key__")),
        )
        .select(F.col("d.__id__").alias("__id__"), score)
        .filter(keep)
        .select("__id__")
        .distinct()
    )


def pigeonhole_keys(
    col: str, *, bits: int, num_tables: int, max_hamming: int
) -> Column:
    """Band keys of a ``bits``-wide fingerprint column: ``num_tables``
    equal bit slices. Two fingerprints within hamming distance h differ
    in at most h slices, so when there are more than h slices they
    share one exactly (pigeonhole) and :func:`band_join` finds every
    such pair without O(n²).

    Both preconditions are hard, not tuning advice — a violation would
    silently LOSE recall — so they raise before anything is built:
    ``num_tables`` must divide ``bits``, and ``max_hamming`` must be
    below ``num_tables``."""
    if bits % num_tables != 0:
        raise ValueError(
            f"num_tables={num_tables} must divide {bits}: uneven chunks would"
            f" leave {bits % num_tables} fingerprint bits outside every table,"
            " making pairs differing only there invisible"
        )
    if max_hamming > num_tables - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs num_tables >= {max_hamming + 1}"
            " (pigeonhole: a pair within hamming h shares a chunk only when"
            " the fingerprint is split into > h chunks)"
        )
    width = bits // num_tables
    return F.expr(
        "array("
        + ", ".join(
            f"shiftright({col}, {i * width}) & {(1 << width) - 1}"
            for i in range(num_tables)
        )
        + ")"
    )


def hamming_verify(max_hamming: int) -> Verify:
    """``verify`` for ``__fp__`` fingerprint frames: the pair's
    ``hamming`` distance, kept when ≤ ``max_hamming``."""

    def verify(a: str, b: str) -> tuple[Column, Column]:
        d = F.bit_count(F.col(f"{a}.__fp__").bitwiseXOR(F.col(f"{b}.__fp__")))
        return d.alias("hamming"), F.col("hamming") <= max_hamming

    return verify


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 8,
    family: str = "md5",
    dist_input: bool = False,
) -> DataFrame:
    """LSH candidate pairs (a_id < b_id), deduplicated across bands.

    Shuffle volume is O(docs × bands) small triples; the quadratic
    blow-up is confined to same-bucket collisions.

    Docs shorter than ``shingle_n`` are dropped BEFORE banding: their
    shingle set is empty, so no pair containing one can ever pass the
    Jaccard verify (0/0 ⇒ NULL ⇒ filtered) — but their all-NULL
    signatures would otherwise share the single band hash md5('') in
    every band, piling m short docs from a web corpus into one hot
    bucket with ~m²/2 doomed candidates per band. The filter is
    output-invariant and removes that skew hotspot.
    """
    sigs = minhash_sig_frame(
        df, id_col, text_col,
        num_hashes=num_hashes, shingle_n=shingle_n, family=family,
        dist_input=dist_input,
    )
    return band_join(
        sigs, keys=minhash_bands("__sig__", bands, num_hashes // bands, family)
    )


def minhash_sig_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int,
    shingle_n: int,
    family: str = "md5",
    dist_input: bool = False,
) -> DataFrame:
    """``(__id__, __sig__)`` for every doc long enough to shingle —
    the tokenize + num_hashes-lane minhash map stage, factored out
    (round 12) so pipelines that need BOTH candidate banding and a
    signature store append compute it ONCE (it dominates near-dup
    cost; incremental_minhash_dedup previously ran it twice over the
    surviving delta text).

    The short-doc guard is a RAW-TEXT length predicate, applied
    before the spread so dropped docs never shuffle. Equivalent to
    filtering size(shingles) > 0 — shingle_sql yields an empty array
    iff length(text) < n, and NULL text fails both forms — but a
    size() predicate on the computed column made Catalyst evaluate
    the transform+array_distinct expression twice (filter + the
    downstream projection): measured +35% on the whole pair pipeline
    at sf0.1 (4.1s -> 5.5s).
    """
    # dist_input=True: the caller vouches the frame is already
    # distributed (e.g. the cached post-shuffle reps of
    # _collapsed_pairs). This skips _spread WHOSE PARTITION PROBE —
    # queryExecution().toRdd() — EXECUTES the upstream plan when it
    # contains exchanges (13s of executor time per probe in the r17
    # stage profile of minhash_dedup_survivors), not just the
    # repartition itself.
    filtered = df.filter(F.length(F.col(text_col)) >= shingle_n)
    return (
        (filtered if dist_input else _spread(filtered, id_col))
        .select(
            F.col(id_col).alias("__id__"),
            char_shingles(text_col, shingle_n).alias("__sh__"),
        )
        .select(
            "__id__",
            F.expr(hashed_shingles_sql("__sh__", family)).alias("__hs__"),
        )
        .select(
            "__id__", minhash_over("__hs__", num_hashes, hashed=True).alias("__sig__")
        )
    )


def jaccard_verify_pairs(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 8,
    threshold: float = 0.7,
    dist_input: bool = False,
) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs; returns
    (a_id, b_id, jaccard) with jaccard >= threshold.

    ``dist_input=True``: skip the _spread — the caller vouches the
    frame is already distributed, and _spread's partition probe
    EXECUTES a post-exchange plan (see minhash_sig_frame)."""
    if not dist_input:
        df = _spread(df, id_col)
    sh = df.select(
        F.col(id_col).alias("__id__"),
        char_shingles(text_col, shingle_n).alias("__sh__"),
    )
    a = sh.alias("a")
    b = sh.alias("b")
    joined = (
        pairs.join(a, pairs.a_id == F.col("a.__id__"))
        .join(b, pairs.b_id == F.col("b.__id__"))
        .select(
            "a_id",
            "b_id",
            F.size(F.array_intersect("a.__sh__", "b.__sh__")).alias("__inter__"),
            F.size("a.__sh__").alias("__na__"),
            F.size("b.__sh__").alias("__nb__"),
        )
    )
    # try_divide: two empty shingle sets (texts shorter than n) give
    # 0/0 — under ANSI mode a plain divide THROWS; NULL fails the
    # threshold filter, which is the semantics we want (and matches
    # the oracle, where DuckDB's divide-by-zero yields no pair)
    jac = F.try_divide(
        F.col("__inter__"), F.col("__na__") + F.col("__nb__") - F.col("__inter__")
    )
    return (
        joined.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 8,
    threshold: float = 0.7,
    collapse_exact: bool = True,
    family: str = "md5",
) -> DataFrame:
    """MinHash LSH → exact Jaccard verification. The standard near-dup
    pipeline: banded LSH proposes, exact Jaccard disposes.

    ``collapse_exact`` (default on) collapses exact-duplicate texts to
    one representative BEFORE the LSH stage and expands the verified
    pairs afterwards. Identical text ⇒ identical shingle set ⇒
    identical Jaccard against every other doc, so the expansion is
    value-exact — intra-group pairs emit jaccard 1.0, cross-group
    pairs inherit their representatives' score. This is THE scale
    guard for duplication-heavy corpora (the situation near-dup
    detection exists for): k exact copies per doc otherwise multiply
    candidate pairs by k² — measured 452s → 8s on a 3×-replicated
    sf0.1 corpus, identical output. Cost when no dups exist: one
    md5-groupBy on the text hash.

    CACHE LIFECYCLE: the collapse path pins two MEMORY_AND_DISK
    caches (the corpus-sized tagged frame and the delta-sized rep
    signature frame). Wrap calls in
    :func:`exporter_spark.operators.partitioning.cache_scope` for
    deterministic release; a scope-less caller should call
    ``release_caches()`` after consuming the result — the pinned
    frames ride the returned DataFrame (``_es_cache_pins``), so the
    tracker's weak entries stay resolvable while the caller holds it.
    """
    if not collapse_exact:
        cands = minhash_candidate_pairs(
            df, id_col, text_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            family=family,
        )
        return jaccard_verify_pairs(
            cands, df, id_col, text_col, shingle_n=shingle_n, threshold=threshold
        )
    pairs, _ = _collapsed_pairs(
        df, id_col, text_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        threshold=threshold, family=family, keep_sigs=False,
    )
    return pairs


def minhash_dedup_pairs_and_sigs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 8,
    threshold: float = 0.7,
    family: str = "md5",
) -> tuple[DataFrame, DataFrame]:
    """:func:`minhash_dedup_pairs` (collapse_exact path) that ALSO
    returns the exact-text representatives' signature frame
    ``(id_col, __sig__)`` — MATERIALIZED and computed ONCE, feeding
    both the banded candidate stage here and the caller's store /
    sig-append stages. Round 12: ``incremental_minhash_dedup``
    previously re-shingled + re-minhashed its surviving delta text
    from scratch after this pipeline had already done so for the LSH
    stage — the dominant map stage ran twice per increment.

    Requires ``threshold <= 1.0``: at any satisfiable threshold every
    non-representative exact-group member pairs with its rep (intra
    pairs carry jaccard 1.0) and is dropped by keep-representatives,
    so ``survivors ⊆ reps`` and the rep signature frame semi-joined
    down to survivors is exactly ``minhash_signatures(survivors)``.
    A degenerate ``threshold > 1.0`` breaks that containment (exact
    dups all survive but only the rep has a signature row here), so
    it is rejected — callers keep the two-pass shape for it.

    Cache lifecycle note of :func:`minhash_dedup_pairs` applies here
    too (tagged + rep-sig pins; wrap in ``cache_scope``).
    """
    if threshold > 1.0:
        raise ValueError(
            "minhash_dedup_pairs_and_sigs requires threshold <= 1.0:"
            " above it exact-duplicate non-representatives survive"
            " without a signature row (see docstring) — use"
            " minhash_dedup_pairs + minhash_signatures instead"
        )
    return _collapsed_pairs(
        df, id_col, text_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        threshold=threshold, family=family, keep_sigs=True,
    )


def _collapsed_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    threshold: float,
    family: str,
    keep_sigs: bool,
) -> tuple[DataFrame, DataFrame | None]:
    # ONE shuffle on the text hash feeds everything below: the
    # keep-first window (reps = min-id member of each exact-text
    # group), the members table, and the intra-group self-join all
    # hang off the same exchange (ReusedExchange). No _spread before
    # it (r17 optimization round): the __tk__ repartition right below
    # already distributes every downstream stage, so the spread was a
    # second full exchange whose only beneficiary — the md5/length
    # projection on the raw scan — is trivial per row; dropping it
    # removes one Exchange + one AQE stage per pipeline instantiation
    # (the incremental entry instantiates four). Measured neutral at
    # sf0.1, strictly fewer stages; results identical (repartition
    # hashing is deterministic and feeds the same window).
    tagged = (
        df
        .select(
            F.col(id_col),
            F.col(text_col),
            F.md5(F.col(text_col)).alias("__tk__"),
            # identical text shorter than shingle_n has an EMPTY
            # shingle set; the direct path drops such pairs (0/0
            # jaccard ⇒ NULL ⇒ fails the threshold filter), so
            # intra-group expansion must skip them too to stay
            # value-invisible
            (F.length(text_col) >= shingle_n).alias("__shok__"),
        )
        .repartition("__tk__")
    )
    w_first = Window.partitionBy("__tk__").orderBy(F.col(id_col).asc())
    tagged = tagged.withColumn("__rn__", F.row_number().over(w_first))
    # tagged is consumed by FOUR plan branches (members, reps → the
    # whole LSH+verify pipeline, rep_tk, and the intra self-join's two
    # sides); Spark shares nothing across branches (SCALE.md
    # cross-branch audit), so un-persisted each branch re-runs
    # scan + md5 + the __tk__ shuffle + window — measured 4.41s vs
    # 3.02s at sf0.1 (interleaved min-of-3). The persist is
    # corpus-sized (id, text, tk, shok) but MEMORY_AND_DISK: at
    # 100 TB it spill-writes the corpus once to executor disks
    # instead of re-reading it ~4x from the object store, keeps
    # lineage for executor-loss recompute, and evicts gracefully.
    from exporter_spark.operators.partitioning import materialize

    tagged = materialize(tagged)
    members = tagged.select(
        F.col(id_col).alias("__mid__"), "__tk__", "__shok__"
    )
    reps = tagged.filter(F.col("__rn__") == 1).select(F.col(id_col), text_col)
    # the one tokenize+minhash pass, MATERIALIZED on both paths (r17
    # optimization round — previously keep_sigs=False left it lazy and
    # the banding self-join's two sides each recomputed the whole
    # md5-per-shingle map whenever AQE's runtime broadcast replaced
    # the shared-exchange dedup): delta-sized cache (id + num_hashes
    # bigints per rep, no text), MEMORY_AND_DISK, released by the
    # caller's cache_scope. keep_sigs only controls whether the frame
    # is RETURNED for the caller's sig-append stage.
    rep_sigs = materialize(
        minhash_sig_frame(
            reps, id_col, text_col,
            num_hashes=num_hashes, shingle_n=shingle_n, family=family,
            dist_input=True,  # reps rides the cached __tk__ shuffle
        )
    )
    cands = band_join(
        rep_sigs, keys=minhash_bands("__sig__", bands, num_hashes // bands, family)
    )
    rep_pairs = jaccard_verify_pairs(
        cands, reps, id_col, text_col, shingle_n=shingle_n,
        threshold=threshold, dist_input=True,
    )

    # intra-group: every member pair of an exact-text group, jaccard 1.0
    m1 = members.alias("m1")
    m2 = members.alias("m2")
    intra = (
        m1.filter("__shok__").join(
            m2,
            (F.col("m1.__tk__") == F.col("m2.__tk__"))
            & (F.col("m1.__mid__") < F.col("m2.__mid__")),
        )
        .select(
            F.col("m1.__mid__").alias("a_id"),
            F.col("m2.__mid__").alias("b_id"),
            F.round(F.lit(1.0), 6).alias("jaccard"),
        )
    )
    if threshold > 1.0:  # degenerate: nothing can pass, incl. exact dups
        intra = intra.filter(F.lit(False))

    # cross-group: expand each verified representative pair to all
    # member combinations (groups are disjoint, so no double counting)
    rep_tk = tagged.filter(F.col("__rn__") == 1).select(F.col(id_col), "__tk__")
    ga = rep_tk.select(F.col(id_col).alias("a_id"), F.col("__tk__").alias("__tka__"))
    gb = rep_tk.select(F.col(id_col).alias("b_id"), F.col("__tk__").alias("__tkb__"))
    ma = members.select(F.col("__mid__").alias("__a__"), F.col("__tk__").alias("__tka__"))
    mb = members.select(F.col("__mid__").alias("__b__"), F.col("__tk__").alias("__tkb__"))
    cross = (
        rep_pairs.join(ga, "a_id").join(gb, "b_id")
        .join(ma, "__tka__")
        .join(mb, "__tkb__")
        .select(
            F.least("__a__", "__b__").alias("a_id"),
            F.greatest("__a__", "__b__").alias("b_id"),
            "jaccard",
        )
    )
    pairs = intra.unionByName(cross)
    # Strong-ref the pinned frames on the returned plan's Python object
    # (r18, ADVICE r17 low #2): outside a cache_scope the tracker holds
    # only WEAK entries, and neither `tagged` nor `rep_sigs` is (as a
    # Python object) part of the returned frames — on the keep_sigs
    # path the sig return is a .select() *derived from* rep_sigs, not
    # rep_sigs itself — so both would be GC'd the moment this function
    # returns and a scope-less caller's later release_caches() could
    # only log the leak. Riding the result keeps the weak entries
    # resolvable for exactly as long as the caller can still execute
    # the plan that consumes the caches. No-op for scoped callers
    # (their tracker entries are strong already).
    pairs._es_cache_pins = (tagged, rep_sigs)  # noqa: SLF001
    if not keep_sigs:
        return pairs, None
    return pairs, rep_sigs.select(F.col("__id__").alias(id_col), "__sig__")


# ---------------------------------------------------------------- n-gram jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    *,
    shingle_n: int = 4,
    threshold: float = 0.5,
    max_block: int | None = 10_000,
) -> DataFrame:
    """All-pairs shingle Jaccard within a blocking key. Exact but
    quadratic per block — the blocking column is the scale contract,
    and since round 8 that contract is ENFORCED, not just documented:
    any block larger than ``max_block`` docs fails the job loudly
    (``assert_true`` inside the plan — distributed, lazy, no driver
    pre-pass) instead of silently exploding into n² pairs. 10,000 docs
    is ~5e7 pairs within one block; past that, pick a finer blocking
    key or switch to the banded minhash path. ``max_block=None``
    disables the guard for callers who have measured their blocks."""
    df = _spread(df, id_col)
    sh = df.select(
        F.col(id_col).alias("__id__"),
        F.col(block_col).alias("__blk__"),
        char_shingles(text_col, shingle_n).alias("__sh__"),
    )
    if max_block is not None:
        bn = F.count("*").over(Window.partitionBy("__blk__"))
        sh = sh.withColumn("__bn__", bn).filter(
            F.assert_true(
                F.col("__bn__") <= max_block,
                F.concat(
                    F.lit("ngram_jaccard_pairs: block "),
                    F.col("__blk__").cast("string"),
                    F.lit(" holds "),
                    F.col("__bn__").cast("string"),
                    F.lit(
                        f" docs > max_block={max_block} — all-pairs within"
                        " a block is quadratic; use a finer blocking key,"
                        " the banded minhash path, or raise max_block"
                    ),
                ),
            ).isNull()
        ).drop("__bn__")
    a = sh.alias("a")
    b = sh.alias("b")
    joined = a.join(
        b,
        (F.col("a.__blk__") == F.col("b.__blk__"))
        & (F.col("a.__id__") < F.col("b.__id__")),
    ).select(
        F.col("a.__id__").alias("a_id"),
        F.col("b.__id__").alias("b_id"),
        F.size(F.array_intersect("a.__sh__", "b.__sh__")).alias("__inter__"),
        F.size("a.__sh__").alias("__na__"),
        F.size("b.__sh__").alias("__nb__"),
    )
    # try_divide: two empty shingle sets (texts shorter than n) give
    # 0/0 — under ANSI mode a plain divide THROWS; NULL fails the
    # threshold filter, which is the semantics we want (and matches
    # the oracle, where DuckDB's divide-by-zero yields no pair)
    jac = F.try_divide(
        F.col("__inter__"), F.col("__na__") + F.col("__nb__") - F.col("__inter__")
    )
    return (
        joined.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


# ------------------------------------------------------- dedup clustering

def _driver_union_find(edges: DataFrame) -> DataFrame | None:
    """Exact min-label components for a SMALL materialized edge set:
    Arrow-collect the (src, dst) rows, union-find with min-root
    merging and path compression, return a local-relation labels
    frame with the input's id dtype. Returns None when any id is NULL
    — null never joins in the distributed path, and null ordering is
    not worth replicating here, so the caller falls back.

    The caller gates on edge count (connected_components'
    ``small_edge_limit``); this function assumes the collect is safe.
    Downstream consumers typically join labels against the corpus —
    Catalyst sees an exactly-sized local relation and broadcasts it.
    """
    pdf = edges.toPandas()
    if pdf["src"].isna().any() or pdf["dst"].isna().any():
        return None
    srcs = pdf["src"].tolist()  # numpy → native (exact for int64/str)
    dsts = pdf["dst"].tolist()
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for s, t in zip(srcs, dsts):
        rs, rt = find(s), find(t)
        if rs == rt:
            continue
        # min-root merging keeps the distributed semantics exactly:
        # component = smallest reachable id
        lo, hi = (rs, rt) if rs < rt else (rt, rs)
        parent[hi] = lo

    # edges are bidirectional (src holds every endpoint), so the node
    # set is exactly the distinct srcs
    from pyspark.sql import types as T

    id_type = edges.schema["src"].dataType
    schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("component", id_type),
        ]
    )
    rows = [(i, find(i)) for i in set(srcs)]
    return edges.sparkSession.createDataFrame(rows, schema)


def connected_components(
    pairs: DataFrame,
    *,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    stats: dict | None = None,
    small_edge_limit: int | None = 200_000,
) -> DataFrame:
    """Cluster duplicate PAIRS into components: (id, component) where
    component = min id reachable through the pair graph.

    Mode selection is RUNTIME-SIZE-GATED (round 10): the edge set is
    materialized once (that execution was always paid — the loop
    needs it pinned), and its EXACT count picks the strategy:

    * ``<= small_edge_limit`` bidirectional edge rows (default 200k,
      ~3 MB through Arrow): collect to the driver and run union-find
      — value-identical labels (component = min reachable id; string
      ids compare the same code-point order as Spark's binary UTF8
      comparison) with ZERO distributed rounds. The duplicate-pair
      edge list is orders smaller than the corpus, so at sf0.1 this
      path replaces ~1.2s of tiny-stage scheduling latency (6+ jobs
      over a 512-row frame) with a ~10 ms local pass — and on a real
      cluster it removes 2·rounds barrier stages for small dup
      graphs. Same rationale as the broadcast policy: decide on
      runtime-exact sizes, never estimates.
    * above the limit (or ``small_edge_limit=None``, or any NULL id
      in the edge set): the distributed pointer-jumping loop below —
      the 100 TB path, state bounded by the label table, O(log
      diameter) rounds.

    ``stats`` receives ``mode`` ("driver" | "distributed"),
    ``n_edges`` (bidirectional rows), and ``rounds`` (0 in driver
    mode — no distributed rounds ran; the convergence observable
    applies to the distributed loop only).

    Iterative min-label propagation WITH pointer jumping: each round
    every node adopts the smallest label among itself, its neighbors,
    and its current label's label (component-of-component — labels
    are node ids, so the label table indexes itself). The jump step
    halves the remaining distance to the component minimum every
    round, so convergence is O(log diameter) rounds instead of
    O(diameter) — max_iter=20 covers diameters up to ~2^19, where
    plain propagation would silently truncate a 30-link drift chain.
    Each round is two joins on node id; the loop stops early at a
    fixed point, checked with a cheap count, and RAISES if max_iter
    rounds were not enough (truncated components are wrong answers,
    not approximations). This is the standard Spark shape for the
    'keep one copy per duplicate cluster' stage after
    minhash/simhash/embedding pair generation.

    Pass ``stats={}`` to receive ``stats["rounds"]`` — the number of
    propagation rounds the fixed point took (the scale-sweep
    observable: diameter growth shows up here before it shows up in
    wall time).

    Checkpoint durability: by default each round is truncated with
    ``localCheckpoint`` — blocks live on executors WITHOUT
    replication, so on a multi-node cluster one lost executor kills
    the job mid-iteration. Pass ``checkpoint_dir`` (an HDFS/object
    store/file: path) to use RELIABLE ``checkpoint()`` instead: each
    round's labels are written to fault-tolerant storage and survive
    executor loss — the right mode for a 1000-node run, at the cost
    of one FS round-trip per iteration. Local default unchanged
    (localCheckpoint is strictly faster single-node). Checkpoint
    files are reclaimed when the SparkContext stops, or eagerly with
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true``.
    """
    if checkpoint_dir is not None:
        sc = pairs.sparkSession.sparkContext
        sc.setCheckpointDir(checkpoint_dir)
        _snap = lambda df: df.checkpoint(eager=True)  # noqa: E731
    else:
        _snap = lambda df: df.localCheckpoint(eager=True)  # noqa: E731

    def _release(df: DataFrame | None) -> None:
        # free a superseded round's checkpoint blocks NOW instead of
        # waiting for the nondeterministic ContextCleaner — each round
        # otherwise leaves a full label-table copy in storage memory
        if df is None:
            return
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)  # noqa: SLF001
        except Exception:  # noqa: BLE001 — best-effort hygiene
            pass
    edges = _snap(
        # bidirectional doubling via ONE explode, not a self-union:
        # union(pairs, pairs.swapped) plants the pair-generator
        # subtree TWICE in one plan, and Spark shares nothing across
        # branches — the entire LSH + verify pipeline executed twice
        # per CC call (r17 optimization round; stage profile showed
        # two full banding-exchange builds per consumer). The explode
        # emits (a,b) and (b,a) from a single scan of pairs — same
        # rows, one execution.
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
                    ),
                    F.struct(
                        F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                    ),
                )
            ).alias("__e__")
        )
        .select("__e__.src", "__e__.dst")
        .distinct()
        # materialize ONCE: the pair generator upstream (a full
        # minhash/simhash banding pipeline) must not re-execute on
        # every iteration's join — without this the loop recomputes
        # the candidate generation O(iterations) times (measured 16.4s
        # → 5.8s on the sf0.1 survivors bench)
    )
    # count only when something consumes it (ADVICE r10): the gate or
    # stats. With small_edge_limit=None and no stats dict the caller
    # explicitly opted out of both, and the count — cheap against the
    # pinned blocks here, but a real scheduled job on a 100 TB run's
    # cluster — would be pure overhead.
    n_edges: int | None = None
    if small_edge_limit is not None or stats is not None:
        n_edges = edges.count()  # cheap: reads the pinned blocks
    if stats is not None:
        stats["n_edges"] = n_edges
    if small_edge_limit is not None and n_edges <= small_edge_limit:
        result = _driver_union_find(edges)
        if result is not None:  # None: NULL ids — needs the join path
            if stats is not None:
                stats["mode"] = "driver"
                stats["rounds"] = 0
            _release(edges)
            return result
    if stats is not None:
        stats["mode"] = "distributed"
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    prev_ckpt: DataFrame | None = None
    for i in range(max_iter):
        # neighbor labels: for each node, the min label among neighbors
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        stepped = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
            )
        )
        # pointer jump: component := min(component, label(component)).
        # Labels are monotonically non-increasing node ids, so the
        # jump only ever improves; it is what turns O(diameter) rounds
        # into O(log diameter). Engaged from round 2 only — near-dup
        # graphs are usually cliques/short chains that fix-point in
        # 2-3 plain rounds, and the jump is an extra join per round;
        # anything still unconverged by then is a deep chain where
        # doubling is the difference between 20 rounds sufficing and
        # silent truncation.
        if i < 2:
            new_labels = stepped
        else:
            lut = stepped.select(
                F.col("id").alias("__cid__"), F.col("component").alias("__cc__")
            )
            new_labels = (
                stepped.join(lut, stepped.component == lut.__cid__, "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("__cc__"), F.col("component")),
                    ).alias("component"),
                )
            )
        # the checkpoint truncates the growing lineage — without it,
        # each iteration re-plans the whole history (exponential
        # plans). Checkpoint BEFORE the fixed-point count so the round
        # materializes once, and the count joins two checkpointed
        # frames (cheap).
        new_labels = _snap(new_labels)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        _release(prev_ckpt)  # superseded round — after the count uses it
        prev_ckpt = new_labels
        labels = new_labels
        if stats is not None:
            stats["rounds"] = i + 1
        if changed == 0:
            break
    else:
        _release(prev_ckpt)
        _release(edges)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
            " — with pointer jumping that means a component diameter"
            f" beyond ~2^{max_iter - 1}; raise max_iter"
        )
    _release(edges)
    # the final labels' blocks must outlive this function (the caller
    # consumes them); the owning cache_scope releases them after the
    # consuming plan has run
    from exporter_spark.operators.partitioning import track_checkpoint

    return track_checkpoint(labels)


def dedup_keep_representatives(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Drop every row whose id belongs to a duplicate cluster but is
    not the cluster's minimum id — the final stage of a near-dup
    pipeline."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------- simhash

# CPython's str-pattern \s, code point for code point, as a Java regex
# character class (Java/Spark regex \s is ASCII-only). The class is
# exhaustively pinned against re.match(r"\s") over ALL of Unicode
# (0x0-0x10FFFF) by test_javakernel.py::
# test_py_ws_re_is_exactly_cpython_whitespace, so a future
# CPython-whitespace-table drift fails a test instead of silently
# de-aligning the sql kernel. Round-7 fix (ADVICE r06): kernel="sql"
# used '\\s+' and so tokenized NBSP/NEL/U+2007/U+202F text differently
# from the pandas/java kernels.
_PY_WS_RE = (
    "[\\t-\\r\\x1c-\\x1f \\x85\\xa0\\u1680\\u2000-\\u200a"
    "\\u2028\\u2029\\u202f\\u205f\\u3000]+"
)


def simhash32(text_col: str) -> Column:
    """32-bit SimHash over whitespace tokens.

    Per token, 32 bits are taken from the first 8 hex chars of its
    md5; each bit contributes ±1 to its lane; the fingerprint is the
    sign vector. Pure expressions (conv + bit ops), no UDF. Token
    boundaries are CPython's ``\\s`` set (``_PY_WS_RE``), matching the
    pandas and java kernels on any valid-Unicode text.
    """
    toks = F.filter(
        F.split(F.col(text_col), _PY_WS_RE), lambda x: x != F.lit("")
    )
    hashes = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"),
    )
    def lane_merge(bit):
        # a separate factory, NOT a default-arg lambda: pyspark builds
        # one lambda variable per declared parameter, so a `bit=bit`
        # default would be fed a Column
        return lambda acc, h: (
            acc + F.shiftright(h, bit).bitwiseAND(F.lit(1)) * 2 - 1
        )

    lanes = []
    for bit in range(32):
        # sum over tokens of (2*bit_j - 1)  ⇒ positive ⇒ bit set
        lane = F.aggregate(hashes, F.lit(0).cast("bigint"), lane_merge(bit))
        lanes.append(F.shiftleft((lane > 0).cast("bigint"), bit))
    total = lanes[0]
    for lane_bit in lanes[1:]:
        total = total + lane_bit
    return total.cast("bigint")


def _make_simhash_udf():
    """Vectorized SimHash (same md5-derived semantics as simhash32's
    SQL expression, verified equivalent in tests) — the SQL version's
    32 per-bit aggregate() folds are interpreted higher-order
    functions and dominate runtime; numpy bit math is ~10× faster.
    Self-contained closure: pickles by value, no package on executors."""
    import hashlib as _hashlib
    import re as _re

    import numpy as _np
    import pandas as _pd

    def one(text):
        if text is None:
            # match simhash32's SQL: split(NULL) propagates NULL, so a
            # NULL text yields a NULL fingerprint (and drops out of
            # the chunk join), NOT fingerprint 0 — which would pair
            # every NULL-text doc with every empty-text doc
            return None
        toks = [t for t in _re.split(r"\s+", text) if t]
        if not toks:
            return 0
        # errors="replace": an unpaired surrogate (unrepresentable in
        # UTF-8) hashes as '?', matching Java String.getBytes(UTF_8)
        # in the JVM kernel — a strict encode() raised instead, so
        # kernel choice changed behavior on malformed text (ADVICE r06)
        h = _np.array(
            [
                int(_hashlib.md5(t.encode("utf-8", "replace")).hexdigest()[:8], 16)
                for t in toks
            ],
            dtype=_np.int64,
        )
        bits = (h[:, None] >> _np.arange(32)) & 1  # tokens × 32
        lanes = (2 * bits - 1).sum(axis=0)
        return int(((lanes > 0).astype(_np.int64) << _np.arange(32)).sum())

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def simhash(s: pd.Series) -> pd.Series:
        return s.map(one)

    return simhash


_SIMHASH_FAST = None


def _simhash32_fast():
    global _SIMHASH_FAST
    if _SIMHASH_FAST is None:
        _SIMHASH_FAST = _make_simhash_udf()
    return _SIMHASH_FAST


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    num_tables: int = 4,
    kernel: str = "auto",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Candidates come from :func:`band_join` on the pigeonhole keys of
    :func:`pigeonhole_keys`: ``num_tables`` equal slices of the 32-bit
    fingerprint, so every pair within ``max_hamming`` is found and the
    two recall-losing configurations raise ``ValueError``.

    ``kernel`` picks the fingerprint implementation — all three are
    bit-identical on valid-Unicode text (fuzz-pinned in
    test_javakernel.py, including the unicode-whitespace matrix since
    the round-7 ``_PY_WS_RE`` fix to the sql kernel), so on such text
    the choice is purely operational. The one residual divergence is
    MALFORMED text (unpaired surrogates, which have no UTF-8
    encoding): java and pandas both hash each surrogate as ``'?'``
    (Java ``getBytes(UTF_8)`` substitution, mirrored by Python
    ``errors="replace"``), while sql hashes the session's internal
    byte representation — malformed input has no canonical bytes, so
    only the java/pandas pair is pinned there:

    * ``"java"`` — compiled JVM ``UDF1`` (javakernel/SimHash32.java):
      no Python workers, no Arrow transfer. Round-6 attribution
      (SCALE.md) measured the pandas kernel's Python share at 63% of
      operator wall at 30× corpus scale and rising (per-token
      hashlib.md5 is interpreted work — the Gopher profile), so this
      is the 100 TB path.
    * ``"auto"`` — ``"java"`` when a JDK is present and the kernel
      builds, silently ``"pandas"`` otherwise. What the registry
      query uses.
    * ``"pandas"`` — the Arrow-vectorized numpy kernel.
    * ``"sql"`` — the pure-Catalyst expression (32 interpreted HOF
      folds; the form the DuckDB oracle mirrors).
    """
    keys = pigeonhole_keys(
        "__fp__", bits=32, num_tables=num_tables, max_hamming=max_hamming
    )
    if kernel == "auto":
        try:
            from exporter_spark.javakernel import ensure_simhash_java

            ensure_simhash_java(df.sparkSession)
            kernel = "java"
        except Exception:  # noqa: BLE001 — no JDK / build failure
            kernel = "pandas"
    if kernel == "java":
        from exporter_spark.javakernel import ensure_simhash_java

        fn = ensure_simhash_java(df.sparkSession)
        fp_col = F.call_udf(fn, F.col(text_col))
    elif kernel == "pandas":
        fp_col = _simhash32_fast()(F.col(text_col))
    elif kernel == "sql":
        fp_col = simhash32(text_col)
    else:
        raise ValueError(f"unknown simhash kernel: {kernel!r}")
    fp = _spread(df, id_col).select(
        F.col(id_col).alias("__id__"), fp_col.alias("__fp__")
    )
    return band_join(fp, keys=keys, verify=hamming_verify(max_hamming))


# ---------------------------------------------------------- paragraph dedup

def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    sep: str = "\n\n",
    join_sep: str | None = None,
) -> DataFrame:
    """Corpus-WIDE paragraph-level exact dedup: split every document
    on ``sep`` (a Java regex; the default splits on blank lines), keep
    only the FIRST occurrence of each distinct paragraph — first =
    minimal (doc id, position) — and reassemble each document from its
    surviving paragraphs in original order. Documents whose paragraphs
    are all claimed by earlier documents vanish from the output.

    This is the boilerplate-removal pass of a training-data pipeline
    (nav bars, license headers, footer text repeated across millions
    of pages). Returns (id_col, dedup_text, n_paras_kept).

    Scale shape: the split/explode is map-side; one hash shuffle on
    the paragraph md5 for the keep-first window, one on the doc id for
    reassembly. Paragraph text rides both shuffles — acceptable
    because post-dedup volume is the collapsed corpus; for extreme
    duplication the window's partial row_number prunes nothing
    map-side, but AQE's coalescing keeps the md5 shuffle balanced
    (paragraph hashes are uniform by construction).

    ``join_sep`` is the literal put back between paragraphs (defaults
    to ``sep``, correct whenever ``sep`` is a literal string).
    """
    join_sep = sep if join_sep is None else join_sep
    paras = _spread(df, id_col).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("__pos__", "__para__"),
    )
    w = Window.partitionBy("__key__").orderBy(
        F.col(id_col).asc(), F.col("__pos__").asc()
    )
    kept = (
        paras.withColumn("__key__", F.md5("__para__"))
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
    )
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos__", "__para__"))),
                lambda s: s["__para__"],
            ),
            join_sep,
        ).alias("dedup_text"),
        F.count("*").cast("long").alias("n_paras_kept"),
    )


# ------------------------------------------------------- decontamination

def word_ngram_hashes(text_col: str, n: int) -> Column:
    """Distinct md5 hashes of the word n-grams of ``text_col`` (SQL
    fragment semantics shared with the DuckDB oracle). Fixed-width
    hashes shuffle/broadcast instead of raw gram strings."""
    toks = f"filter(split(trim({text_col}), '\\\\s+'), x -> x != '')"
    return F.expr(
        f"if(size({toks}) < {n}, array(),"
        f" array_distinct(transform(sequence(1, size({toks}) - {n - 1}),"
        f" i -> md5(concat_ws(' ', slice({toks}, i, {n}))))))"
    )


def ngram_contamination(
    df: DataFrame,
    probe: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    probe_text_col: str | None = None,
    n: int = 8,
) -> DataFrame:
    """Train-test decontamination (the Lee et al. / GPT-3 appendix-C
    style n-gram overlap check): for each document, count how many of
    its DISTINCT word n-grams appear anywhere in the ``probe``
    (benchmark) corpus. Docs with n_shared_ngrams > 0 are
    contamination candidates; callers drop or audit them.

    Scale shape: the probe side is a benchmark suite — thousands of
    documents against a 100 TB corpus — so its distinct gram-hash set
    is broadcast and the corpus side NEVER shuffles its grams; the
    only exchange is the per-doc count aggregation on ``id_col``
    (map-side combined). Only flagged documents reach it.
    """
    probe_text_col = probe_text_col or text_col
    doc_g = _spread(df, id_col).select(
        F.col(id_col),
        F.explode(word_ngram_hashes(text_col, n)).alias("__g__"),
    )
    probe_g = (
        probe.select(F.explode(word_ngram_hashes(probe_text_col, n)).alias("__g__"))
        .distinct()
    )
    return (
        doc_g.join(F.broadcast(probe_g), "__g__")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_shared_ngrams"))
    )


def paragraph_dedup_within(
    text: Column, sep: str = "\n\n", join_sep: str | None = None
) -> Column:
    """Remove repeated spans WITHIN one document: split on ``sep`` (a
    Java regex), keep only first occurrences in order, re-join with
    ``join_sep`` (defaults to ``sep``; pass it when sep isn't a
    literal). With ``sep=" "`` this is in-document repeated-token
    removal; with blank-line separators it strips repeated
    boilerplate paragraphs.

    Pure column expression — zero shuffle, runs inside the scan
    stage. Built as a single left fold with a seen-accumulator, NOT
    the obvious filter-with-array_position form, which would re-paste
    (and re-evaluate) the split per element (see SCALE.md on the
    nested-lambda O(g²) trap)."""
    join_sep = sep if join_sep is None else join_sep
    arr = F.split(text, sep)
    kept = F.aggregate(
        arr,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(F.array_contains(acc, x), acc).otherwise(
            F.concat(acc, F.array(x))
        ),
    )
    return F.array_join(kept, join_sep)


def exact_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 10,
    min_count: int = 2,
    family: str = "md5",
) -> DataFrame:
    """ExactSubstr-style duplicate-span detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): mark every maximal token span whose length-k
    word grams each occur >= min_count times corpus-wide. The paper
    finds these with a suffix array; the distributed shape here is
    fixed-k gram anchoring — every duplicated substring of >= k
    tokens is covered by at least one duplicated k-gram, and merging
    overlapping/adjacent duplicated grams reconstructs the maximal
    span at granularity k. Downstream, the spans are what you cut
    (or what triggers dropping the document).

    Returns (id_col, span_start, span_end, span_tokens, n_dup_grams)
    with 1-based inclusive token positions.

    Scale shape: the gram explosion is O(total tokens) but map-side;
    ONE gram-hash shuffle scores duplication (window count — hot
    boilerplate grams are exactly what AQE skew-split handles), then
    ONE doc-keyed shuffle merges positions into spans (two window
    passes over the same partitioning, single exchange). Only
    (id, pos, gram-hash) triples ever shuffle — never document text.

    ``family``: "md5" (default) keys the duplication count on 32-hex
    strings — DuckDB-replayable, which is what the oracle gate runs.
    "xxhash64" keys on TWO independently-seeded 8-byte bigints (a
    128-bit key): a single 64-bit key expects birthday collisions at
    the motivating corpus scale (~5e9+ distinct grams ⇒ ≈0.5 expected
    false duplicated-gram groups, each a span strip_duplicate_spans
    would cut from an innocent document); at 128 bits the collision
    probability stays ≈1.5e-19 even at 1e10 grams — MODELING the two
    chained-seed XXH64 halves as independent ideal hashes. XXH64 is
    a non-cryptographic hash with known seed-independent collision
    structure, so that bound is a heuristic for natural corpora, not
    a guarantee against adversarially crafted grams (an adversarial
    setting wants the md5 family). Produces the SAME
    spans as md5 (pytest-pinned at two SFs) while the corpus-wide
    shuffle carries half the md5 key bytes — the lever that matters
    at 100 TB where this triple shuffle IS the operator's cost.
    """
    toks = _spread(df, id_col).select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), " ").alias("__l__")
    )
    # The short-doc cut lives INSIDE the explode argument (empty array
    # ⇒ zero output rows) instead of a separate size() Filter — a
    # Filter on the computed column would be pushed through the
    # projection and re-evaluate the split per row (the same
    # double-eval trap measured on the minhash shingle guard).
    grams = toks.select(
        id_col,
        F.explode(
            F.expr(
                f"if(size(__l__) >= {k},"
                f" sequence(1, size(__l__) - {k} + 1), array())"
            )
        ).alias("i"),
        "__l__",
    )
    gram_str = F.array_join(F.slice("__l__", F.col("i"), k), " ")
    if family == "xxhash64":
        # the leading literal chains into the seed (xxhash64 hashes
        # its arguments sequentially), giving a second independent
        # 64-bit hash — together a 128-bit duplication key
        grams = grams.select(
            id_col,
            "i",
            F.xxhash64(gram_str).alias("__h__"),
            F.xxhash64(F.lit(-4), gram_str).alias("__h2__"),
        )
        key_cols = ["__h__", "__h2__"]
    elif family == "md5":
        grams = grams.select(id_col, "i", F.md5(gram_str).alias("__h__"))
        key_cols = ["__h__"]
    else:
        raise ValueError(f"unknown exact-substring family: {family!r}")
    cnt = F.count("*").over(Window.partitionBy(*key_cols))
    dup = grams.withColumn("__cnt__", cnt).filter(
        F.col("__cnt__") >= min_count
    )
    byi = Window.partitionBy(id_col).orderBy("i")
    brk = F.when(
        F.col("i") > F.lag("i").over(byi) + k, F.lit(1)
    ).otherwise(F.lit(0))
    grp = dup.withColumn("__brk__", brk).withColumn(
        "__grp__",
        F.sum("__brk__").over(byi.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return grp.groupBy(id_col, "__grp__").agg(
        F.min("i").cast("long").alias("span_start"),
        (F.max("i") + k - 1).cast("long").alias("span_end"),
        (F.max("i") + k - F.min("i")).cast("long").alias("span_tokens"),
        F.count("*").alias("n_dup_grams"),
    ).drop("__grp__")


def strip_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 10,
    min_count: int = 2,
    family: str = "md5",
) -> DataFrame:
    """The cut step of ExactSubstr dedup (arXiv:2107.06499 §4.2):
    remove every token covered by a corpus-duplicated span (as found
    by exact_substring_spans) and reassemble the remaining tokens in
    order. Returns (id_col, clean_text) for documents with at least
    one surviving token — fully-duplicated documents drop out, which
    is the paper's intended effect.

    Scale shape: on top of the span detection's two shuffles, the cut
    itself costs ONE corpus shuffle — the spans aggregate to one array
    row per spanned doc (bounded by document length / k, never corpus
    size), the raw text joins that doc-level table on the doc key, and
    every per-token decision is a scan-local array lambda. (r17
    optimization round: the previous shape posexploded the corpus to
    (id, pos, token) rows, cached that, and ran a range semi-join +
    anti-join + ordered-collect reassembly — three corpus-token-level
    shuffles and a corpus-sized cache for the same per-token
    covered-by-a-span predicate this lambda evaluates in place.)
    """
    spans = exact_substring_spans(
        df, id_col, text_col, k=k, min_count=min_count, family=family
    ).select(F.col(id_col).alias("__sid__"), "span_start", "span_end")
    span_arrays = spans.groupBy("__sid__").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans__")
    )
    # keyed spread: doubles as the join exchange on the doc key when
    # the planner shuffles, and keeps the token-filter expression
    # parallel when AQE broadcasts the doc-level span table instead
    base = _spread(df, id_col).select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), " ").alias("__toks__")
    )
    joined = base.join(span_arrays, F.col(id_col) == F.col("__sid__"), "left")
    # token position is 1-based (i is the 0-based lambda index); docs
    # with no spans carry a NULL __spans__ → exists() yields NULL →
    # coalesce keeps the token (nothing covers it)
    clean = F.filter(
        "__toks__",
        lambda w, i: ~F.coalesce(
            F.exists(
                "__spans__",
                lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"]),
            ),
            F.lit(False),
        ),
    )
    return (
        joined.select(F.col(id_col), clean.alias("__clean__"))
        .filter(F.size("__clean__") > 0)
        .select(
            F.col(id_col), F.array_join("__clean__", " ").alias("clean_text")
        )
    )
