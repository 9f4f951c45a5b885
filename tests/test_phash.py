"""Perceptual image hashing (operators/phash.py, round 16).

The integer pipeline (int luma -> round-half-up block pool ->
literal-table int DCT -> median sign bits) exists so the hash is
bit-identical in ANY engine; the DuckDB recompute test below proves
it end-to-end in SQL, and the banding reuses the simhash pigeonhole
guarantee.
"""

from __future__ import annotations

import numpy as np
import pytest

from exporter_spark.operators import dedup, multimodal, phash
from exporter_spark.operators.gif import encode_gif
from exporter_spark.operators.jpeg import encode_jpeg
from exporter_spark.operators.multimodal import (
    encode_bmp,
    encode_png,
    encode_ppm,
)


def _img(seed: int, h=16, w=16):
    r = np.arange(h).reshape(h, 1, 1)
    c = np.arange(w).reshape(1, w, 1)
    k = np.arange(3).reshape(1, 1, 3)
    return ((seed * 37 + 29 * r + 5 * c + 11 * k) % 256).astype(np.uint8)


def test_hash_is_63_bits_and_deterministic():
    px = _img(3)
    a, b = phash.phash63(px), phash.phash63(px.copy())
    assert a == b and 0 <= a < (1 << 63)


def test_near_dup_close_distinct_far():
    """A mild perturbation (small brightness shift on a few pixels)
    moves few DCT sign bits; an unrelated image moves many."""
    base = _img(5, 32, 32)
    near = base.copy()
    near[:4, :4] = np.clip(near[:4, :4].astype(int) + 12, 0, 255)
    far = _img(99, 32, 32)
    d_near = bin(phash.phash63(base) ^ phash.phash63(near)).count("1")
    d_far = bin(phash.phash63(base) ^ phash.phash63(far)).count("1")
    assert d_near <= 8, d_near
    assert d_far > 12, d_far


def test_brightness_shift_invariance():
    """pHash's point: a global brightness change barely moves the AC
    sign structure (DC is excluded; a constant shift only perturbs
    coefficients through pooling rounding)."""
    base = _img(7, 24, 24)
    brighter = np.clip(base.astype(int) + 25, 0, 255).astype(np.uint8)
    d = bin(phash.phash63(base) ^ phash.phash63(brighter)).count("1")
    assert d <= 4, d


def test_cross_codec_routing_parity():
    """phash_frame's magic dispatch must route every lossless codec to
    the SAME pixels — one image encoded as PNG/PPM/BMP/GIF hashes
    identically (the cross-codec pin that keeps the per-closure
    dispatch honest); JPEG is lossy but must stay within the near-dup
    band of itself."""
    px = (_img(11) // 8 * 8)  # <=256 colors for GIF
    ph = phash.phash63(px)
    payloads = [
        encode_png(px),
        encode_ppm(px),
        encode_bmp(px),
        encode_gif(px),
    ]
    import pandas as pd

    # drive the SAME dispatch phash_frame uses, without Spark
    from exporter_spark.operators.jpeg import jpeg_decoder

    for p in payloads:
        got = None
        head = bytes(p)[:8]
        if head[:8] == b"\x89PNG\r\n\x1a\n":
            got = multimodal.png_decoder().pixels(p)
        elif head[:2] in (b"P2", b"P3", b"P5", b"P6"):
            got = multimodal.ppm_decoder().pixels(p)
        elif head[:2] == b"BM":
            got = multimodal.bmp_decoder().pixels(p)
        else:
            from exporter_spark.operators.gif import gif_decoder

            got = gif_decoder().pixels(p)
        assert phash.phash63(got) == ph
    jp = jpeg_decoder().pixels(encode_jpeg(px, quality=90, subsampling="444"))
    assert bin(phash.phash63(jp) ^ ph).count("1") <= 8


def test_grayscale_shapes_hash_like_broadcast_rgb():
    """ADVICE r16 (medium): the built-in decoders are source-faithful
    — gray PNGs decode to (H, W, 1)/(H, W, 2), which used to crash
    luma_int. Every gray shape must hash, and hash EQUAL to the same
    image broadcast to RGB (gray*1000 == 299g+587g+114g)."""
    rng = np.random.RandomState(7)
    g = rng.randint(0, 256, (16, 16)).astype(np.uint8)
    rgb = np.repeat(g[:, :, None], 3, axis=2)
    want = phash.phash63(rgb)
    assert phash.phash63(g) == want  # (H, W)
    assert phash.phash63(g[:, :, None]) == want  # (H, W, 1)
    ga = np.dstack([g, np.full_like(g, 200)])  # (H, W, 2), alpha ignored
    assert phash.phash63(ga) == want
    # RGBA: alpha plane must not enter the luma
    rgba = np.dstack([rgb, np.zeros_like(g)])
    assert phash.phash63(rgba) == want


def test_16bit_planes_hash_exactly():
    """16-bit gray and gray+alpha stay exact in int64 (no quantize);
    (H, W) and (H, W, 1) agree, and a 16-bit image whose planes are
    g*257 pools to the same SIGN structure as its 8-bit source only
    when the structure survives scaling — here we pin determinism and
    shape-acceptance, not cross-depth equality (the stated contract:
    faithful planes at full range)."""
    rng = np.random.RandomState(11)
    g16 = rng.randint(0, 65536, (12, 20)).astype(np.uint16)
    a = phash.phash63(g16)
    assert a == phash.phash63(g16[:, :, None])
    assert a == phash.phash63(np.dstack([g16, g16 * 0 + 9]))
    assert 0 <= a < (1 << 63)
    # scaling all luma by a positive constant preserves every
    # median comparison -> identical hash (g*257 is 8->16 bit)
    g8 = rng.randint(0, 256, (12, 20)).astype(np.uint8)
    assert phash.phash63(g8) == phash.phash63(
        (g8.astype(np.uint16) * 257)
    )


def test_gray_png_payloads_through_frame_dispatch(spark):
    """End-to-end on the decoder path the crash lived in: gray,
    gray+alpha and 16-bit-gray PNG payloads through phash_frame's
    magic-byte dispatch (png_decoder is source-faithful) — and the
    gray hash matches the RGB-broadcast encoding of the same image."""
    rng = np.random.RandomState(13)
    g = rng.randint(0, 256, (16, 16)).astype(np.uint8)
    rows = [
        (1, bytearray(encode_png(g)), None),
        (2, bytearray(encode_png(np.dstack([g, np.full_like(g, 7)]))), None),
        (3, bytearray(encode_png(np.repeat(g[:, :, None], 3, axis=2))), None),
        (4, bytearray(encode_png(
            (g.astype(np.uint16) * 257), bit_depth=16)), None),
    ]
    df = spark.createDataFrame(rows, multimodal.media_schema())
    got = {r["media_id"]: r["phash"] for r in phash.phash_frame(df).collect()}
    want = phash.phash63(g)  # 63 bits -> always fits a signed long
    assert got[1] == got[2] == got[3] == want
    assert got[4] == want  # x257 scaling preserves median signs


@pytest.mark.parametrize(
    "call, bits, tables",
    [
        (
            lambda df, **kw: dedup.simhash_near_dup_pairs(df, "id", "text", **kw),
            32,
            4,
        ),
        (phash.phash_near_dup_pairs, 63, 9),
        (phash.incremental_phash_dedup, 63, 9),
    ],
    ids=["simhash_near_dup_pairs", "phash_near_dup_pairs", "incremental_phash_dedup"],
)
def test_pigeonhole_guards(call, bits, tables):
    # the guards run before the DataFrame is touched, so a bare
    # object suffices — recall-losing configurations must refuse
    class _Fake:
        pass

    with pytest.raises(ValueError, match=f"must divide {bits}"):
        call(_Fake(), num_tables=tables + 1)
    with pytest.raises(ValueError, match="needs num_tables.*pigeonhole"):
        call(_Fake(), num_tables=tables, max_hamming=tables)


def test_pool8_exact_geometry():
    # 9x13 (not divisible): block edges at floor boundaries, round-
    # half-up means — cross-checked against a straight float compute
    rng = np.random.RandomState(3)
    luma = rng.randint(0, 255_000, (9, 13)).astype(np.int64)
    pooled = phash.pool8(luma)
    for i in range(8):
        r0, r1 = i * 9 // 8, (i + 1) * 9 // 8
        for j in range(8):
            c0, c1 = j * 13 // 8, (j + 1) * 13 // 8
            s = luma[r0:r1, c0:c1]
            exact = (2 * int(s.sum()) + s.size) // (2 * s.size)
            assert pooled[i, j] == exact
    with pytest.raises(ValueError, match="at least 8x8"):
        phash.pool8(np.zeros((7, 20), np.int64))


def test_spark_pipeline_finds_planted_pairs(spark):
    """End-to-end: 60 PNG payloads, ids i and i+30 perturbed copies —
    the banded join must return exactly the pairs a brute-force
    63-bit hamming scan finds at the same threshold (pigeonhole
    guarantee: max_hamming 8 <= num_tables-1 = 8)."""
    import pandas as pd

    imgs = {}
    for i in range(30):
        base = _img(i, 16, 16)
        near = base.copy()
        near[0, 0] = 255 - near[0, 0]
        imgs[i] = base
        imgs[i + 30] = near
    rows = [(i, bytearray(encode_png(imgs[i])), None) for i in sorted(imgs)]
    df = spark.createDataFrame(rows, multimodal.media_schema())
    got = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in phash.phash_near_dup_pairs(df, max_hamming=8).collect()
    }
    hashes = {i: phash.phash63(imgs[i]) for i in imgs}
    want = {}
    for a in sorted(imgs):
        for b in sorted(imgs):
            if a < b:
                d = bin(hashes[a] ^ hashes[b]).count("1")
                if d <= 8:
                    want[(a, b)] = d
    assert got == want
    assert all((i, i + 30) in got for i in range(30))


def test_duckdb_recomputes_the_hash_bit_for_bit(spark):
    """The engine-exactness claim, proven: DuckDB recomputes the full
    pipeline (int luma from the pixel formula, round-half-up 2x2
    pool, literal-table int DCT, median sign bits) in pure SQL and
    must match the Spark pipeline's hash for every doc."""
    import duckdb
    import pandas as pd

    n = 40
    rows = [
        (i, bytearray(encode_png(_img(i, 16, 16))), None) for i in range(n)
    ]
    df = spark.createDataFrame(rows, multimodal.media_schema())
    got = {
        r["media_id"]: r["phash"]
        for r in phash.phash_frame(df).collect()
    }
    t_rows = ",\n      ".join(
        f"({u}, {x}, {phash.DCT_TABLE[u][x]})"
        for u in range(8)
        for x in range(8)
    )
    sql = f"""
    WITH t(u, x, v) AS (VALUES {t_rows}),
    px AS (
      SELECT d.i AS doc, r.r, c.c,
             299*((d.i*37 + 29*r.r + 5*c.c) % 256)
             + 587*((d.i*37 + 29*r.r + 5*c.c + 11) % 256)
             + 114*((d.i*37 + 29*r.r + 5*c.c + 22) % 256) AS luma
      FROM (SELECT unnest(range({n})) AS i) d
      CROSS JOIN (SELECT unnest(range(16)) AS r) r
      CROSS JOIN (SELECT unnest(range(16)) AS c) c
    ),
    pooled AS (
      SELECT doc, r // 2 AS i, c // 2 AS j,
             (2*SUM(luma) + COUNT(*)) // (2*COUNT(*)) AS p
      FROM px GROUP BY doc, r // 2, c // 2
    ),
    coef AS (
      SELECT p.doc, tu.u, tv.u AS v,
             SUM(tu.v * p.p * tv.v)::BIGINT AS cf
      FROM pooled p
      JOIN t tu ON tu.x = p.i
      JOIN t tv ON tv.x = p.j
      GROUP BY p.doc, tu.u, tv.u
    ),
    ac AS (
      SELECT doc, u*8 + v - 1 AS k, cf FROM coef
      WHERE NOT (u = 0 AND v = 0)
    ),
    med AS (
      SELECT doc, cf AS m FROM (
        SELECT doc, cf, row_number() OVER
          (PARTITION BY doc ORDER BY cf) AS rn
        FROM ac) WHERE rn = 32
    )
    SELECT ac.doc,
           SUM(CASE WHEN ac.cf > med.m THEN 1::BIGINT << ac.k
                    ELSE 0 END)::BIGINT AS phash
    FROM ac JOIN med USING (doc)
    GROUP BY ac.doc ORDER BY ac.doc
    """
    want = dict(duckdb.sql(sql).fetchall())
    assert got == want


def test_non_image_payloads_refuse_by_name(spark):
    """phash routes only image magics; a WAV or garbage payload must
    fail its row loudly with the named refusal — never hash fake
    pixels (the shared corruption contract)."""
    from exporter_spark.operators.multimodal import encode_wav

    wav = encode_wav(np.zeros(100, np.int16), framerate=8000)
    rows = [(1, bytearray(wav), None), (2, bytearray(b"\x00garbage"), None)]
    df = spark.createDataFrame(rows, multimodal.media_schema())
    with pytest.raises(Exception, match="no image decoder"):
        phash.phash_frame(df).collect()


def test_incremental_phash_dedup_two_increments(spark):
    """The multimodal face of the incremental family: batch 1
    bootstraps the hash store; batch 2 carries (a) a near-dup of a
    STORED image (dropped by the store probe), (b) an in-batch
    near-dup pair (one survivor), and (c) a novel image (kept).
    Idempotence: replaying batch 2 against the updated store yields
    zero survivors."""
    from exporter_spark.operators.partitioning import cache_scope

    def media(rows):
        return spark.createDataFrame(
            [(i, bytearray(encode_png(px)), None) for i, px in rows],
            multimodal.media_schema(),
        )

    base0, base1 = _img(0, 16, 16), _img(1, 16, 16)
    with cache_scope():
        b1 = media([(0, base0), (1, base1)])
        s1, append1 = phash.incremental_phash_dedup(b1)
        assert sorted(r["media_id"] for r in s1.collect()) == [0, 1]
        store = append1.collect()
        assert len(store) == 2
    store_df = spark.createDataFrame(store, "media_id long, phash long")

    near_stored = base0.copy()
    near_stored[0, 0] = 255 - near_stored[0, 0]  # near-dup of stored 0
    pair_a = _img(7, 16, 16)
    pair_b = pair_a.copy()
    pair_b[0, 0] = 255 - pair_b[0, 0]  # in-batch near-dup pair
    novel = _img(42, 16, 16)
    # sanity: novel is far from everything at the threshold
    for other in (base0, base1, pair_a):
        assert bin(phash.phash63(novel) ^ phash.phash63(other)).count("1") > 8
    b2 = media([(10, near_stored), (11, pair_a), (12, pair_b), (13, novel)])
    # the store probe gives the same answer broadcast or shuffled
    runs = {}
    for broadcast_delta in (True, False):
        with cache_scope():
            s2, append2 = phash.incremental_phash_dedup(
                b2, seen_hashes=store_df, broadcast_delta=broadcast_delta
            )
            runs[broadcast_delta] = (
                sorted(r["media_id"] for r in s2.collect()),
                sorted(append2.collect()),
            )
    assert runs[True] == runs[False]
    kept2, app2 = runs[True]
    assert kept2 == [11, 13]  # 10 matched store; 12 lost to 11
    assert sorted(r["media_id"] for r in app2) == [11, 13]
    # idempotence: replay batch 2 against store ∪ append2
    store2 = spark.createDataFrame(store + app2, "media_id long, phash long")
    with cache_scope():
        s3, append3 = phash.incremental_phash_dedup(b2, seen_hashes=store2)
        assert s3.count() == 0 and append3.count() == 0
