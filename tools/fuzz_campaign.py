#!/usr/bin/env python
"""Extended corruption-fuzz campaign over every media
decoder.

The in-suite hypothesis fuzzes run 40-200 examples per test per
session — enough to gate regressions, thin for DISCOVERY (the r17
AVI frame-geometry leak surfaced only when a full-suite run happened
to draw the right mutation). This harness drives the same corruption
contract at campaign scale, pure-Python (no Spark), seeded and
reproducible:

  contract: a mutated/truncated/extended payload must either decode
  cleanly or raise ValueError / NotImplementedError — NEVER
  struct.error, IndexError, KeyError, ZeroDivisionError,
  OverflowError, RecursionError, MemoryError, or a numpy shape
  error. ValueError messages are additionally bucketed and reported
  so raw-looking messages (numpy's own ValueErrors are the
  camouflaged leak class — the AVI find) can be reviewed by eye.

Usage: python tools/fuzz_campaign.py [n_mutations_per_codec]
(default 4000). Prints one JSON line; commit to
tools/audits/r17_fuzz_campaign.json.
"""

from __future__ import annotations

import json
import os
import random
import sys
import traceback
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from exporter_spark.operators import avi, gif, jpeg, multimodal  # noqa: E402

SEED = 20260817

BAD_TYPES = (
    KeyError,
    IndexError,
    ZeroDivisionError,
    OverflowError,
    RecursionError,
    MemoryError,
)


def _img(seed: int, h=16, w=16):
    r = np.arange(h).reshape(h, 1, 1)
    c = np.arange(w).reshape(1, w, 1)
    k = np.arange(3).reshape(1, 1, 3)
    return ((seed * 37 + 29 * r + 5 * c + 11 * k) % 256).astype(np.uint8)


def bases() -> dict[str, tuple[bytes, object]]:
    """(codec name) -> (valid payload, decode callable)."""
    px = _img(3)
    gray = px[:, :, 0]
    pal = (px // 8 * 8)
    png_d, ppm_d, bmp_d = (
        multimodal.png_decoder(),
        multimodal.ppm_decoder(),
        multimodal.bmp_decoder(),
    )
    jpg_d, gif_d, wav_d = jpeg.jpeg_decoder(), gif.gif_decoder(), (
        multimodal.wav_decoder()
    )
    vid = multimodal.video_frame_decoder(every_ms=100)
    auto = multimodal.auto_decoder()
    frames3 = [_img(i, 16, 16) for i in range(3)]
    out = {
        "png_rgb": (multimodal.encode_png(px), png_d.pixels),
        "png_gray16": (
            multimodal.encode_png(
                (gray.astype(np.uint16) * 257), bit_depth=16
            ),
            png_d.pixels,
        ),
        "png_interlace_paeth": (
            multimodal.encode_png(px, filter_type=4, interlace=True),
            png_d.pixels,
        ),
        "ppm_binary": (multimodal.encode_ppm(px), ppm_d.pixels),
        "ppm_ascii": (
            multimodal.encode_ppm(px, ascii_format=True), ppm_d.pixels,
        ),
        "bmp": (multimodal.encode_bmp(px), bmp_d.pixels),
        "jpeg_baseline": (jpeg.encode_jpeg(px), jpg_d.pixels),
        "jpeg_progressive": (
            jpeg.encode_jpeg_progressive(px), jpg_d.pixels,
        ),
        "gif_static": (gif.encode_gif(pal), gif_d.pixels),
        "gif_anim": (
            gif.encode_gif_animation([pal, pal[:, ::-1], pal[::-1]]),
            gif_d.pixels,
        ),
        "wav": (
            multimodal.encode_wav(
                np.arange(2048, dtype=np.int16).reshape(-1, 2)
            ),
            wav_d,
        ),
        "avi_mjpeg": (
            avi.encode_avi_mjpeg(frames3, fps=10), vid,
        ),
        "auto_dispatch": (multimodal.encode_png(px), auto),
    }
    return out


def mutate(rng: random.Random, base: bytes) -> bytes:
    b = bytearray(base)
    op = rng.randrange(5)
    if op == 0 and b:  # single byte set
        b[rng.randrange(len(b))] = rng.randrange(256)
    elif op == 1 and b:  # burst of 1-16 bytes
        i = rng.randrange(len(b))
        for j in range(i, min(len(b), i + rng.randrange(1, 17))):
            b[j] = rng.randrange(256)
    elif op == 2:  # truncate
        return bytes(b[: rng.randrange(len(b) + 1)])
    elif op == 3:  # extend with random tail
        return bytes(b) + bytes(
            rng.randrange(256) for _ in range(rng.randrange(1, 64))
        )
    else:  # bit flip
        if b:
            i = rng.randrange(len(b))
            b[i] ^= 1 << rng.randrange(8)
    return bytes(b)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4000
    rng = random.Random(SEED)
    report: dict = {"seed": SEED, "n_per_codec": n, "codecs": {}}
    hard_fails = []
    for name, (base, decode) in bases().items():
        msgs: Counter[str] = Counter()
        counts = Counter()
        for i in range(n):
            payload = mutate(rng, base)
            try:
                decode(payload)
                counts["ok"] += 1
            except ValueError as ex:
                counts["valueerror"] += 1
                msgs[str(ex)[:90]] += 1
            except NotImplementedError:
                counts["notimplemented"] += 1
            except BAD_TYPES as ex:
                counts["HARD_FAIL"] += 1
                hard_fails.append(
                    {
                        "codec": name,
                        "i": i,
                        "type": type(ex).__name__,
                        "msg": str(ex)[:200],
                        "payload_sha": __import__("hashlib").sha256(
                            payload
                        ).hexdigest()[:16],
                        "payload_hex": payload[:4096].hex(),
                    }
                )
            except Exception as ex:  # noqa: BLE001 — struct.error etc.
                counts["HARD_FAIL"] += 1
                hard_fails.append(
                    {
                        "codec": name,
                        "i": i,
                        "type": type(ex).__name__,
                        "msg": str(ex)[:200],
                        "trace_tail": traceback.format_exc().splitlines()[-3:],
                        "payload_sha": __import__("hashlib").sha256(
                            payload
                        ).hexdigest()[:16],
                        "payload_hex": payload[:4096].hex(),
                    }
                )
        report["codecs"][name] = {
            "counts": dict(counts),
            "distinct_valueerror_msgs": len(msgs),
            "top_msgs": msgs.most_common(8),
        }
        print(
            f"[{name}] {dict(counts)} distinct_msgs={len(msgs)}",
            file=sys.stderr,
        )
    report["hard_fails"] = hard_fails
    report["clean"] = not hard_fails
    print(json.dumps(report))
    sys.exit(1 if hard_fails else 0)


if __name__ == "__main__":
    main()
