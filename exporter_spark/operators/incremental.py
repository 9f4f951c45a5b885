"""Incremental deduplication: dedup a new batch AGAINST a persisted
store without reprocessing the corpus.

The batch pipelines in :mod:`exporter_spark.operators.dedup` answer
"dedup this corpus"; production pipelines almost always face the other
question — "a new crawl/delta arrived; drop what we have already
kept, keep the rest, and extend the store" — and re-running the batch
pipeline over corpus ∪ delta re-shuffles 100 TB to admit 1 TB. The
operators here process ONLY the delta plus a compact store:

* exact: the store is one 64-char sha256 digest per surviving row
  (:func:`exporter_spark.operators.dedup.content_digest` — same
  encoding as ``hash_dedup``, so stores and batch runs agree).
  Per increment: one digest shuffle over the delta, one digest-keyed
  anti join against the store. Nothing document-sized moves.
* near-dup (MinHash): the store is one signature row per surviving
  doc — ``num_hashes`` bigints (~256 B/doc at 32 hashes, i.e. ~0.1%
  of a typical web-doc corpus). Per increment: the delta runs the
  standard in-batch pipeline (banded LSH proposes, exact Jaccard
  disposes), then its survivors are banded against the store's
  signatures — band keys recomputed from stored signatures by array
  slicing, no text needed — and candidates are adjudicated by the
  signature lane-agreement estimate (share of equal minhash lanes,
  an unbiased Jaccard estimator with std ≈ sqrt(j(1-j)/num_hashes),
  ~0.08 at 32 lanes). The store holds no text, so exact-Jaccard
  verification against it is impossible BY DESIGN — shipping corpus
  text into every increment is the cost this operator exists to
  avoid.

Semantics note (inherent to every online/greedy dedup, not a quirk of
this one): increments compare against SURVIVORS only. A chain cluster
A ~ B ~ C with A ≁ C where A is stored, B and C arrive later, keeps C
(B matches A and is dropped; C is only compared to A) — while a full
batch run over {A, B, C} would transitively cluster all three and
keep only A. Star-shaped clusters (every member similar to the
representative) — the overwhelming shape in duplication-heavy crawls
— agree exactly with the batch result. Pinned by
tests/test_incremental.py::test_chain_cluster_documented_divergence.

Store discipline: ``num_hashes``, ``bands``, ``shingle_n`` and
``family`` must not change across increments — band keys and lane
estimates are only comparable within one configuration. Since round
12 the WHOLE contract is mechanized: a ``_store_params.json``
manifest is written beside the store (streaming faces and
:func:`append_signature_increment` do it automatically;
:func:`ensure_store_params` for custom callers), every increment
validates its parameters against it (loud ValueError on drift —
including the ``bands``/``shingle_n``/``family`` drift the stored
arrays cannot reveal: same length, different meaning), and a
manifest-verified store skips the per-row in-plan lane assert. For a
pre-manifest store only the ``num_hashes`` half is enforceable
(round 11, ADVICE r10): every store and delta signature row passes
an ``assert_true(size(sig) = num_hashes)`` filter, so a store
written under a different lane count still fails loudly instead of
silently depressing the agreement estimate.

Store handling: pass the store as PINNED data — a parquet read, a
``materialize()``d frame, or the bootstrap call's own returns (pinned
since round 11). Chaining an UN-pinned signature lineage into the
next increment invites Catalyst's project collapse to inline the
32-lane minhash expression into every one of the 8 band slices (the
round-4 double-eval trap, 8-fold: measured 51s vs 6s at sf0.1 on the
registry entry). A real pipeline persists the store anyway; the
warning exists for tests and compositions. Persist the signature store
partitioned/bucketed by a band-key prefix if increments become
latency-critical; the operators take plain DataFrames and do not care
how the store is laid out.

Scale posture at 100 TB: the store probe is
:func:`exporter_spark.operators.dedup.band_join_store`, so the store
is strictly map-side and per-increment shuffle volume is delta-sized
at any store size: the delta's own in-batch pipeline plus matched-id
distincts/anti-joins. The delta-side quadratic risk is the same
same-bucket collision risk as the batch pipeline and is bounded by the
same banding math; the store side contributes at most its per-bucket
survivor count, which near-dup dropping keeps low by construction
(survivors are pairwise dissimilar below threshold).
"""

from __future__ import annotations

import json
import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from exporter_spark.operators.dedup import (
    band_join_store,
    connected_components,
    content_digest,
    dedup_keep_representatives,
    exact_dedup,
    minhash_bands,
    minhash_dedup_pairs,
    minhash_dedup_pairs_and_sigs,
    minhash_sig_frame,
)
from exporter_spark.operators.partitioning import materialize

SIG_COL = "__sig__"
DIGEST_COL = "__digest__"

# ------------------------------------------------------ store manifest

STORE_PARAMS_FILENAME = "_store_params.json"
_STORE_PARAM_KEYS = ("num_hashes", "bands", "shingle_n", "family")

# Partition-directory tokens (run ids, batch-qualified increment ids,
# compaction ids). The LEADING LETTER is load-bearing, not style:
# Spark infers partition-column types from the directory values, and
# a numeric/date-shaped token (e.g. a run_id of "2024-01") would make
# __increment__ read back as a non-string type — the != self-exclusion
# then compares across a cast and can mis-exclude, which is the exact
# silent replay-loss mode the increment ids exist to prevent (ADVICE
# r11). A letter-led token can never parse as int/long/decimal/date/
# timestamp, so inference always lands on string. '/' and '=' are
# excluded because the token is spliced into a partition path.
_TOKEN_RE = re.compile(r"^[A-Za-z][A-Za-z0-9_-]*$")


def validate_increment_token(token: str, what: str) -> str:
    """Charset gate for run/increment/compaction ids (module
    docstring of ``_TOKEN_RE`` has the why)."""
    if not isinstance(token, str) or not _TOKEN_RE.match(token):
        raise ValueError(
            f"{what} {token!r} must match {_TOKEN_RE.pattern}: it is"
            " spliced into an __increment__ partition directory, and a"
            " token without a leading letter can be type-inferred as a"
            " non-string partition value on read-back, breaking the"
            " replay self-exclusion comparison (silent survivor loss)"
        )
    return token


def store_params_dict(
    *, num_hashes: int, bands: int, shingle_n: int, family: str
) -> dict:
    return {
        "num_hashes": int(num_hashes),
        "bands": int(bands),
        "shingle_n": int(shingle_n),
        "family": str(family),
    }


def write_store_params(
    store_path: str, params: dict, spark=None, *, exclusive: bool = False
) -> bool:
    """Persist the signature-store parameter manifest as a sidecar
    (``_store_params.json`` — leading underscore with no '=' keeps it
    invisible to Spark's file listing, like ``_SUCCESS``). Round 12
    (VERDICT r11): ``bands``/``shingle_n``/``family`` drift across
    increments is undetectable from the stored arrays alone (same
    length, different meaning); the manifest turns that documented
    caller contract into a validated one.

    ``exclusive=True`` is the first-contact bootstrap mode (ADVICE
    r12): create-if-absent, returning False WITHOUT writing when a
    manifest already exists — two concurrent bootstraps can no longer
    silently last-write-wins each other; the loser re-reads and
    validates. The default overwrite mode writes atomically
    (temp+rename), so a crashed writer can never leave a truncated
    manifest behind."""
    from exporter_spark import fsio

    payload = json.dumps(
        {k: params[k] for k in _STORE_PARAM_KEYS}, sort_keys=True
    )
    path = f"{store_path}/{STORE_PARAMS_FILENAME}"
    if exclusive:
        return fsio.create_text_exclusive(path, payload, spark)
    fsio.write_text_atomic(path, payload, spark)
    return True


def read_store_params(store_path: str, spark=None) -> dict | None:
    """The store's parameter manifest, or None when the store has
    none (pre-manifest stores). A PRESENT-but-unreadable manifest
    raises — silently downgrading to the manifest-less path would
    drop the bands/shingle_n/family drift detection the manifest
    exists for."""
    from exporter_spark import fsio

    path = f"{store_path}/{STORE_PARAMS_FILENAME}"
    if not fsio.exists(path, spark):
        return None
    raw = fsio.read_text(path, spark)
    try:
        got = json.loads(raw)
        missing = [k for k in _STORE_PARAM_KEYS if k not in got]
    except ValueError as ex:
        raise ValueError(
            f"unreadable store parameter manifest at {path}: {ex}"
        ) from ex
    if missing:
        raise ValueError(
            f"store parameter manifest at {path} is missing keys"
            f" {missing} (found: {sorted(got)})"
        )
    return {k: got[k] for k in _STORE_PARAM_KEYS}


def check_store_params(manifest: dict, params: dict, store_path: str = "") -> None:
    """Loud failure when an increment's parameters drift from the
    store's manifest — the parameter-constancy contract, mechanized."""
    drift = {
        k: {"store": manifest.get(k), "increment": params[k]}
        for k in _STORE_PARAM_KEYS
        if manifest.get(k) != params[k]
    }
    if drift:
        where = f" at {store_path}" if store_path else ""
        raise ValueError(
            "incremental minhash store parameter drift"
            f"{where}: {drift} — band keys and lane-agreement"
            " estimates are only comparable within one configuration"
            " (num_hashes/bands/shingle_n/family fixed for the life of"
            " the store); rebuild the store or match its manifest"
        )


def ensure_store_params(
    store_path: str,
    *,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    family: str,
    spark=None,
) -> dict:
    """Read-validate-or-create: returns the store's manifest when it
    matches this call's parameters, raises on drift, and WRITES the
    manifest when the store has none yet (bootstrap, or first contact
    with a pre-manifest store — for the latter this blesses the
    current call's parameters, which is the status-quo trust
    assumption, but makes every FUTURE drift detectable).

    Bootstrap is race-safe (ADVICE r12): the manifest is created
    exclusively (create-if-absent, never overwrite), and the final
    on-store manifest is re-read and validated afterwards — when two
    first-contact writers race with drifting parameters, exactly one
    creates and the other fails ``check_store_params`` loudly against
    the winner's file, instead of last-write-wins silently blessing
    one side."""
    params = store_params_dict(
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n, family=family
    )
    manifest = read_store_params(store_path, spark)
    if manifest is None:
        write_store_params(store_path, params, spark, exclusive=True)
        # re-read regardless of who won the create: the on-store file
        # is what governs every future increment, so validate THAT
        # (this also self-checks a torn bootstrap write — a truncated
        # manifest raises in read_store_params)
        manifest = read_store_params(store_path, spark)
        if manifest is None:
            raise RuntimeError(
                f"store parameter manifest bootstrap at {store_path}"
                " did not land (created then unreadable/absent on"
                " re-read) — refusing to proceed without a governing"
                " manifest"
            )
    check_store_params(manifest, params, store_path)
    return manifest


def _assert_lane_count(sigs: DataFrame, num_hashes: int, side: str) -> DataFrame:
    """In-plan guard for the store parameter-constancy contract
    (ADVICE r10): a store written with a different ``num_hashes``
    would otherwise zip_with-pad the shorter signature with nulls,
    the null lanes would be silently filtered out of the agreement
    count, and the estimate would be quietly depressed — missed
    duplicates instead of an error. Same loud-failure idiom as
    ``ngram_jaccard_pairs``' max_block guard: assert_true inside the
    plan, distributed, zero driver pre-pass. Evaluated per signature
    ROW (before band explosion), so the cost is one array-length
    compare per doc and a mismatched store fails on its first row
    even when no band ever collides."""
    # coalesce: a NULL signature must still fire WITH the crafted
    # message — size(NULL) is NULL under ANSI, which would both raise
    # (condition NULL) and evaluate the concat'd errMsg to NULL,
    # replacing the contract diagnostic with an opaque null error
    # (round-11 review).
    lanes = F.coalesce(F.size(F.col(SIG_COL)), F.lit(-1))
    return sigs.filter(
        F.assert_true(
            lanes == num_hashes,
            F.concat(
                F.lit(f"incremental_minhash_dedup: {side} signature has "),
                lanes.cast("string"),
                F.lit(
                    f" lanes, expected num_hashes={num_hashes} — the store"
                    " parameter-constancy contract (num_hashes/bands/"
                    "shingle_n/family fixed across increments) is violated;"
                    " rebuild the store or match its parameters"
                ),
            ),
        ).isNull()
    )


def incremental_exact_dedup(
    new_df: DataFrame,
    cols: list[str],
    order_col: str,
    seen_digests: DataFrame | None = None,
    *,
    broadcast_delta: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Exact-dedup ``new_df`` within itself (keep-first by
    ``order_col``) and against a digest store.

    Returns ``(survivors, digest_append)``: the surviving delta rows,
    and their digests in the store schema (single ``__digest__``
    string column) for the caller to append (e.g. parquet append).
    ``seen_digests=None`` bootstraps a store from the first batch.
    Appending only ``digest_append`` keeps the store exactly "digests
    of every row ever kept", so increments are idempotent: re-running
    a batch against the updated store yields zero survivors.

    The store NEVER shuffles (round 11): a direct
    ``delta LEFT ANTI JOIN store`` would hash-partition the whole
    digest store per increment — linear-in-store bytes that the r11
    incremental sweep caught growing 3.3x from 1x to 10x store scale.
    Instead the delta's digests are broadcast INTO the store scan
    (``broadcast_delta=True``, the operator's contract: delta ≪
    store), the inner join reduces map-side to the tiny ``matched``
    digest set, and the delta anti-joins that. Per-increment shuffle
    is delta-sized at ANY store size. ``broadcast_delta=False`` opts
    a huge-delta caller back into the shuffled joins.
    """
    tagged = new_df.withColumn(DIGEST_COL, content_digest(cols))
    # batch feeds multiple branches in BOTH modes — the two returned
    # frames alone re-run the keep-first window per forced output, and
    # the non-bootstrap path adds the probe and anti join (round-11
    # review: the bootstrap path had been left re-executing).
    # Delta-sized cache; released by the caller's cache_scope.
    batch = materialize(exact_dedup(tagged, [DIGEST_COL], order_col))
    if seen_digests is not None:
        probe = batch.select(DIGEST_COL)
        if broadcast_delta:
            probe = F.broadcast(probe)
        # matched is consumed by both returns — materialized so the
        # store scan behind it runs ONCE per increment
        matched = materialize(
            seen_digests.select(DIGEST_COL).join(probe, DIGEST_COL).distinct()
        )
        batch = batch.join(matched, DIGEST_COL, "left_anti")
    return batch.drop(DIGEST_COL), batch.select(DIGEST_COL)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 32,
    shingle_n: int = 8,
    family: str = "md5",
) -> DataFrame:
    """(id, signature) rows for every doc long enough to shingle —
    the store schema of :func:`incremental_minhash_dedup`. Docs
    shorter than ``shingle_n`` have an empty shingle set, can never
    near-dup-match anything (the batch pipeline's invariant), and are
    therefore neither stored nor ever dropped by the store check.
    Thin alias-projection over :func:`dedup.minhash_sig_frame` (the
    shared tokenize+minhash map stage) since round 12."""
    return minhash_sig_frame(
        df, id_col, text_col,
        num_hashes=num_hashes, shingle_n=shingle_n, family=family,
    ).select(F.col("__id__").alias(id_col), F.col("__sig__").alias(SIG_COL))


def incremental_minhash_dedup(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    seen_sigs: DataFrame | None = None,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 8,
    threshold: float = 0.7,
    family: str = "md5",
    broadcast_delta: bool = True,
    store_params: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Near-dup dedup of a delta within itself and against a
    signature store; returns ``(survivors, sig_append)``.

    Stage 1 (in-batch) is the full batch pipeline —
    :func:`minhash_dedup_pairs_and_sigs` (banded LSH + exact Jaccard,
    exact collapse guard included) + keep-min-id representatives — so
    within the delta the semantics are identical to the batch
    operator. Stage 2 bands the stage-1 survivors' signatures against
    the store's (slice + hash of stored arrays; the store never
    re-shuffles document text because it has none) and drops any
    delta doc whose signature lane-agreement with SOME stored doc
    reaches ``threshold``. ``sig_append`` is the store-schema rows
    of the final survivors, to append.

    One tokenization pass (round 12, VERDICT r11): the delta's text is
    shingled + minhashed ONCE — the rep signature frame from stage 1
    is pinned and semi-joined down to survivors for both the store
    probe and ``sig_append`` (every survivor is its exact-text group's
    representative at any satisfiable threshold, so the containment
    is exact — the previous shape re-ran the dominant tokenize +
    32-lane map stage over all surviving delta text). The degenerate
    ``threshold > 1.0`` breaks that containment and keeps the two-pass
    shape (nothing can match there anyway).

    The store check is one-directional on purpose: stored docs are
    already emitted and cannot be un-kept; an increment only decides
    its own rows' fate. See the module docstring for the chain-vs-star
    cluster semantics and the store parameter-constancy contract.

    ``broadcast_delta`` (default True — the operator's contract is
    delta ≪ store) is :func:`dedup.band_join_store`'s: the store never
    shuffles. Set False for a delta too large to broadcast (both sides
    then shuffle signatures only, never text).

    ``store_params``: the store's parameter manifest
    (:func:`read_store_params` / :func:`ensure_store_params`). When
    given it is checked against this call's parameters (loud
    ValueError on drift — including the ``bands``/``shingle_n``/
    ``family`` drift the stored arrays cannot reveal), and the
    per-row store-side lane assert is SKIPPED: the manifest already
    proves the store's lane count, so the 100 TB-side scan drops one
    predicate (round 12, VERDICT r11 #3). Without it only
    ``num_hashes`` is enforceable, via the in-plan assert.
    """
    if store_params is not None:
        check_store_params(
            store_params,
            store_params_dict(
                num_hashes=num_hashes, bands=bands,
                shingle_n=shingle_n, family=family,
            ),
        )
    # Pinning policy (multi-consumer frames only — Spark shares
    # nothing across branches, the round-4/10 cross-branch audits):
    # `sigs` is pinned in both modes (store path consumes it twice —
    # band probe + sig_append; bootstrap returns it as the store,
    # documented pinned since r11). `batch` is pinned ONLY on the
    # bootstrap path, where it is a documented pinned return: since
    # the r17 keep-representatives fusion rerouted sig_append to
    # anti-join `losers` directly, the against-store path consumes
    # batch exactly ONCE (survivors = batch ∖ matched), so its
    # materialize there was a corpus-delta-sized cache (document TEXT
    # included) written for a single read — pure memory cost at
    # 100 TB (guide §5: cache only what is reused) — removed r18.
    # Delta-sized caches (sigs: id + num_hashes bigints/doc, no
    # text), MEMORY_AND_DISK, released by the caller's cache_scope.
    if threshold > 1.0:
        # degenerate: no pair can satisfy the threshold, exact dups
        # all survive, and survivors ⊄ reps — keep the two-pass shape
        pairs = minhash_dedup_pairs(
            new_df, id_col, text_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            threshold=threshold, family=family,
        )
        batch = materialize(dedup_keep_representatives(new_df, pairs, id_col))
        sigs = materialize(
            minhash_signatures(
                batch, id_col, text_col,
                num_hashes=num_hashes, shingle_n=shingle_n, family=family,
            )
        )
    else:
        pairs, rep_sigs = minhash_dedup_pairs_and_sigs(
            new_df, id_col, text_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            threshold=threshold, family=family,
        )
        # Fused keep-representatives (r17 optimization round): ONE
        # connected-components call yields the loser id set and BOTH
        # consumers anti-join it directly — previously the signature
        # frame semi-joined the materialized batch (text included), so
        # building sigs re-scanned the corpus-delta-sized batch cache.
        # rep_sigs ∖ losers ≡ rep_sigs ⋉ batch because survivors ⊆
        # reps at any satisfiable threshold (see
        # minhash_dedup_pairs_and_sigs); the isNotNull guard keeps the
        # semi-join's NULL-key semantics (equality never matches, so a
        # NULL-id rep row was dropped there and must stay dropped
        # here). rep_sigs is already pinned by the pairs pipeline —
        # no second tokenization; sigs stays materialized because the
        # store path consumes it twice (band probe + sig_append).
        comp = connected_components(pairs)
        losers = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
        batch = new_df.join(losers, id_col, "left_anti")
        if seen_sigs is None:
            # bootstrap: batch is a documented pinned RETURN (r11) —
            # the caller may consume it any number of times. On the
            # against-store path below it stays lazy (single
            # consumer; see the pinning-policy note above).
            batch = materialize(batch)
        sigs = materialize(
            rep_sigs.where(F.col(id_col).isNotNull())
            .join(losers, id_col, "left_anti")
        )
    if seen_sigs is None:
        return batch, sigs

    sigs = _assert_lane_count(sigs, num_hashes, "delta")
    # manifest-verified store ⇒ the lane count is already proven and
    # the per-row assert drops out of the 100 TB-side scan
    store_side = (
        seen_sigs
        if store_params is not None
        else _assert_lane_count(seen_sigs, num_hashes, "store")
    )

    # lane-agreement estimate: share of equal minhash components.
    def agree(s: str, d: str):
        share = F.size(
            F.expr(
                f"filter(zip_with({d}.{SIG_COL}, {s}.{SIG_COL},"
                " (x, y) -> x = y), t -> t)"
            )
        ) / F.lit(num_hashes)
        return share.alias("agree"), F.col("agree") >= F.lit(threshold)

    # Materialized because both returned frames consume it: the store
    # scan runs ONCE.
    matched = materialize(
        band_join_store(
            sigs.select(F.col(id_col).alias("__id__"), SIG_COL),
            store_side.select(SIG_COL),
            keys=minhash_bands(SIG_COL, bands, num_hashes // bands, family),
            verify=agree,
            broadcast_delta=broadcast_delta,
        )
    )
    survivors = batch.join(matched, batch[id_col] == matched["__id__"], "left_anti")
    return survivors, sigs.join(matched, sigs[id_col] == matched["__id__"], "left_anti")


def append_signature_increment(
    sig_append: DataFrame,
    store_path: str,
    increment_id: str,
    *,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    family: str,
) -> None:
    """Batch-pipeline helper: persist one ``sig_append`` frame as an
    ``__increment__=<id>`` partition of a signature store, with the
    full store discipline applied — increment-id charset validation
    (:func:`validate_increment_token`), parameter-manifest
    write/validate (:func:`ensure_store_params`), and
    ``mode("error")`` so two increments can never silently clobber
    each other (the streaming sinks use overwrite on purpose — replay
    idempotence — and derive their ids from the checkpointed batch id;
    a batch caller has no such replay contract, so colliding ids are
    a bug to surface, not a recovery to absorb).

    The store parameters are REQUIRED, with no defaults (ADVICE r12):
    this helper blesses a fresh store's manifest from its arguments,
    and a caller whose ``sig_append`` was built with non-default
    parameters but who omitted the kwargs would write a wrong manifest
    — which manifest-verified reads then TRUST, skipping the in-plan
    lane assert and hiding the mismatch. Belt-and-braces, the write
    itself re-asserts ``size(__sig__) == num_hashes`` in-plan, so a
    frame that contradicts the declared parameters fails on its first
    row instead of poisoning the store (``bands``/``shingle_n``/
    ``family`` are not derivable from the arrays — for those the
    explicit kwargs ARE the check)."""
    validate_increment_token(increment_id, "increment_id")
    ensure_store_params(
        store_path,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        family=family, spark=sig_append.sparkSession,
    )
    _assert_lane_count(sig_append, num_hashes, "append").write.mode(
        "error"
    ).parquet(f"{store_path}/__increment__={increment_id}")


def append_digest_increment(
    digest_append: DataFrame, store_path: str, increment_id: str
) -> None:
    """Digest-store twin of :func:`append_signature_increment`:
    persist one ``digest_append`` frame (single ``__digest__`` column,
    the ``incremental_exact_dedup`` store schema) as an
    ``__increment__=<id>`` partition, with increment-id charset
    validation and ``mode("error")`` collision refusal. Digest stores
    carry no tunable parameters, so there is no manifest to write."""
    validate_increment_token(increment_id, "increment_id")
    digest_append.write.mode("error").parquet(
        f"{store_path}/__increment__={increment_id}"
    )
