"""Perceptual image hashing (pHash) — near-duplicate IMAGE detection,
tying the multimodal pillar to the dedup pillar.

A 100 TB multimodal corpus needs image near-dup removal the way the
text corpus needs MinHash: re-encoded, resized, or mildly edited
copies of one image must land in one cluster. The classic pHash
(DCT-sign fingerprint) does this; the implementation here is designed
for ENGINE-EXACT reproducibility:

* Luma is the INTEGER Rec.601 combination ``299*R + 587*G + 114*B``
  (no division — exact in int64).
* The image pools to an 8x8 grid by block means with round-half-up
  integer division (``(2*sum + n) // (2*n)``) — exact for any input
  geometry, replicable in ANSI SQL.
* The 2-D DCT-II uses an INTEGER cosine table — ``T[u][x] =
  round(cos((2x+1)*u*pi/16) * 10000)`` inlined as literals — so the
  transform is an exact int64 matrix product in every engine
  (the same driver-computed-literal discipline as the LSH
  hyperplanes; float ``cos`` differs across libm builds and could
  flip sign bits near the median).
* The fingerprint is 63 bits: AC coefficient (u,v) != (0,0) in
  row-major order, bit set when the coefficient exceeds the MEDIAN of
  the 63 AC values (63 is odd — the median is the exact 32nd order
  statistic; ties clear the bit). Worst-case magnitudes stay under
  2^51, far inside int64.

Near-dup pairs use the same pigeonhole banding as SimHash: the
63-bit fingerprint splits into ``num_tables`` equal chunks (divisors
of 63 — 9 tables of 7 bits by default) by
``dedup.pigeonhole_keys``, and ``dedup.band_join`` (batch) or
``dedup.band_join_store`` (delta vs store) equi-joins on them.

The reference (go-data-exporter/exporter) has no media support; this
module is part of the mandated LLM-pipeline scope extension. pHash
itself is public (DCT perceptual hashing, e.g. the pHash.org scheme).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from exporter_spark.operators.dedup import (
    band_join,
    band_join_store,
    connected_components,
    hamming_verify,
    pigeonhole_keys,
)
from exporter_spark.operators.partitioning import materialize

DCT_SCALE = 10_000

# T[u][x] = round(cos((2x+1) * u * pi / 16) * DCT_SCALE) — computed
# once here, inlined as literals in any SQL oracle (both engines must
# use THESE integers, never their own cos()).
DCT_TABLE: tuple[tuple[int, ...], ...] = tuple(
    tuple(
        int(round(math.cos((2 * x + 1) * u * math.pi / 16) * DCT_SCALE))
        for x in range(8)
    )
    for u in range(8)
)

N_BITS = 63  # the 8x8 AC plane, row-major, (0,0) excluded


def luma_int(px: np.ndarray) -> np.ndarray:
    """Integer Rec.601 luma (x1000 scale): ``(H, W)`` int64.

    Accepts every pixel shape the built-in decoders emit — they are
    SOURCE-FAITHFUL, not RGB-normalizing (jpeg ``_pixels`` returns
    ``(H, W, 1)`` for 1-plane JPEGs; ``png_decoder`` is faithful for
    gray / gray+alpha / 16-bit):

    * ``(H, W)`` or ``(H, W, 1..2)``: grayscale (+alpha ignored) —
      ``gray * 1000``, exactly the 299+587+114 Rec.601 sum when all
      three channels equal the gray value, so 8-bit gray hashes agree
      with the RGB8-converting ``backends.py`` adapters on the same
      image.
    * ``(H, W, >=3)``: RGB(A) — ``299*R + 587*G + 114*B``.

    Any integer dtype works (16-bit planes stay exact in int64 at
    their full range — an RGB8-converting backend would quantize
    them first, the one place the two contract faces can differ)."""
    a = np.asarray(px).astype(np.int64)
    if a.ndim == 2:
        return a * 1000
    if a.ndim == 3 and a.shape[2] <= 2:
        return a[:, :, 0] * 1000
    if a.ndim == 3 and a.shape[2] >= 3:
        return 299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]
    raise ValueError(f"phash needs (H, W[, C]) pixels, got {a.shape}")


def pool8(luma: np.ndarray) -> np.ndarray:
    """Block-mean pool to 8x8 with round-half-up integer division —
    exact for any geometry >= 8x8 (block edges at floor(i*H/8))."""
    h, w = luma.shape
    if h < 8 or w < 8:
        raise ValueError(f"phash needs at least 8x8 pixels, got {h}x{w}")
    out = np.empty((8, 8), np.int64)
    for i in range(8):
        r0, r1 = i * h // 8, (i + 1) * h // 8
        for j in range(8):
            c0, c1 = j * w // 8, (j + 1) * w // 8
            s = int(luma[r0:r1, c0:c1].sum())
            n = (r1 - r0) * (c1 - c0)
            out[i, j] = (2 * s + n) // (2 * n)
    return out


def phash63(px: np.ndarray) -> int:
    """The 63-bit perceptual hash of a pixel array (see module
    docstring for the exact integer pipeline)."""
    pooled = pool8(luma_int(px))
    t = np.array(DCT_TABLE, np.int64)
    coef = t @ pooled @ t.T  # exact int64 2-D DCT (scaled)
    ac = np.delete(coef.reshape(-1), 0)  # row-major, DC dropped
    median = int(np.sort(ac)[31])  # exact middle of 63
    bits = 0
    for k, v in enumerate(ac):
        if int(v) > median:
            bits |= 1 << k
    return bits


def phash_frame(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    decoder=None,
) -> DataFrame:
    """``(id, phash)`` for every payload row — Arrow-batched
    mapInPandas over the zero-dependency decoders.

    ``decoder=`` takes any adapter exposing ``.pixels(payload)``.
    ONE stated pixel contract (ADVICE r16): ``.pixels`` may return
    either the normalized uint8 ``(H, W, 3)`` RGB of the
    ``backends.py`` adapters or the SOURCE-FAITHFUL arrays of the
    built-in decoders (``(H, W)`` gray, ``(H, W, 1..2)`` gray(+alpha),
    ``(H, W, 3..4)`` RGB(A), 8- or 16-bit) — :func:`luma_int` accepts
    all of them, and its gray formula equals the Rec.601 RGB sum on
    an RGB8-converted copy of the same gray image, so hashes are
    backend-consistent either way."""
    import pandas as pd

    from exporter_spark.operators import multimodal

    if decoder is None:
        # same magic-byte routing as auto_decoder, dispatching to each
        # codec's .pixels instead of its lane vector (the per-closure
        # dispatch repetition is the module family's documented style:
        # the closures stay standalone-picklable, and the cross-codec
        # parity pin in tests/test_phash.py keeps the routing honest)
        multimodal._ensure_pickle_by_value()

        from exporter_spark.operators.gif import gif_decoder
        from exporter_spark.operators.jpeg import jpeg_decoder
        from exporter_spark.operators.multimodal import (
            bmp_decoder,
            png_decoder,
            ppm_decoder,
        )

        png, ppm, bmp = png_decoder(), ppm_decoder(), bmp_decoder()
        jpg, gifd = jpeg_decoder(), gif_decoder()

        def _pixels(payload: bytes) -> np.ndarray:
            head = bytes(payload or b"")[:8]
            if head[:8] == b"\x89PNG\r\n\x1a\n":
                return png.pixels(payload)
            if head[:2] in (b"P2", b"P3", b"P5", b"P6"):
                return ppm.pixels(payload)
            if head[:2] == b"BM":
                return bmp.pixels(payload)
            if head[:3] == b"\xff\xd8\xff":
                return jpg.pixels(payload)
            if head[:6] in (b"GIF87a", b"GIF89a"):
                return gifd.pixels(payload)
            raise ValueError(
                f"no image decoder for payload magic {head!r}"
            )

    else:
        _pixels = decoder.pixels

    schema = f"{id_col} long, phash long"

    def run(batches):
        for pdf in batches:
            hashes = [
                phash63(_pixels(bytes(p))) for p in pdf[payload_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], "phash": hashes})

    return df.mapInPandas(run, schema)


def phash_near_dup_pairs(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    *,
    max_hamming: int = 8,
    num_tables: int = 9,
    decoder=None,
) -> DataFrame:
    """Image near-dup pairs ``(a_id, b_id, hamming)`` by pHash —
    pigeonhole-banded like ``simhash_near_dup_pairs``: never
    all-pairs, every pair within ``hamming <= max_hamming`` exactly
    (see ``dedup.band_join`` for why the decode is not cached)."""
    keys = pigeonhole_keys(
        "__fp__", bits=N_BITS, num_tables=num_tables, max_hamming=max_hamming
    )
    fp = phash_frame(df, payload_col, id_col, decoder=decoder).select(
        F.col(id_col).alias("__id__"), F.col("phash").alias("__fp__")
    )
    return band_join(fp, keys=keys, verify=hamming_verify(max_hamming))


def incremental_phash_dedup(
    new_df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    seen_hashes: DataFrame | None = None,
    *,
    max_hamming: int = 8,
    num_tables: int = 9,
    decoder=None,
    broadcast_delta: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Image near-dup dedup of a delta AGAINST a pHash store — the
    multimodal face of the incremental-dedup family
    (``operators/incremental.py`` has the exact/MinHash faces and the
    store-discipline rationale this mirrors).

    Returns ``(survivors, hash_append)``: the surviving delta rows,
    and their ``(id, phash)`` rows in the store schema for the caller
    to append. ``seen_hashes=None`` bootstraps a store from the first
    batch. The store holds 8 bytes per kept image — no pixels — so
    per-increment work is: decode the DELTA once, one in-batch banded
    join, and one ``dedup.band_join_store`` probe whose band keys
    recompute from the stored hash by bit slicing (with
    ``broadcast_delta``, the default, the store never shuffles).

    Parameter constancy (``max_hamming``/``num_tables``) is the same
    hard contract as the MinHash store's manifest: band keys are only
    comparable within one configuration. Greedy-online semantics also
    match the family: increments compare against SURVIVORS only
    (chain clusters may keep more than a full batch re-run would —
    the documented divergence in operators/incremental.py)."""
    keys = pigeonhole_keys(
        "__fp__", bits=N_BITS, num_tables=num_tables, max_hamming=max_hamming
    )
    # one decode per increment: the hash frame feeds the in-batch
    # join, the store probe, and both returns (delta-sized cache;
    # released by the caller's cache_scope)
    fp = materialize(
        phash_frame(new_df, payload_col, id_col, decoder=decoder).select(
            F.col(id_col).alias("__id__"), F.col("phash").alias("__fp__")
        )
    )
    # in-batch: cluster near-dups, keep each cluster's min id
    verify = hamming_verify(max_hamming)
    comp = connected_components(band_join(fp, keys=keys, verify=verify))
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("__id__")
    )
    kept = fp.join(losers, "__id__", "left_anti")
    if seen_hashes is not None:
        store = seen_hashes.select(F.col("phash").alias("__fp__"))
        matched = materialize(
            band_join_store(
                kept, store, keys=keys, verify=verify,
                broadcast_delta=broadcast_delta,
            )
        )
        kept = kept.join(matched, "__id__", "left_anti")
    survivors = new_df.join(
        kept.select(F.col("__id__").alias(id_col)), id_col
    )
    hash_append = kept.select(
        F.col("__id__").alias(id_col), F.col("__fp__").alias("phash")
    )
    return survivors, hash_append
