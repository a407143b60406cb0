"""Per-item timings of the pure-numpy multimodal kernels on seeded inputs.

These kernels run inside the Python workers of the dedup ops, where a
Spark stage hides them behind task scheduling; timing them directly on
the driver gives each one its own number, in microseconds per item.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

ITEMS = 12  # inputs per kernel; each is timed alone and the median kept


def _images(rng: np.random.Generator) -> list[np.ndarray]:
    # Smooth gradients plus noise: compressible like artwork, not constant.
    out = []
    for _ in range(ITEMS):
        h, w = 48, 64
        yy, xx = np.mgrid[0:h, 0:w]
        base = (xx * rng.integers(1, 4) + yy * rng.integers(1, 4))[:, :, None]
        noise = rng.integers(0, 24, (h, w, 3))
        out.append(((base + noise) % 256).astype(np.uint8))
    return out


def _per_item_us(fn, inputs) -> float:
    times = []
    for x in inputs:
        t0 = time.perf_counter()
        fn(x)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e6


def measure(seed: int) -> dict[str, float]:
    """``multimodal.<kernel>_us`` for every kernel the dedup ops call."""
    from dwh_spark.multimodal import codecs, flac
    from dwh_spark.multimodal.audio_fp import subfingerprints
    from dwh_spark.multimodal.perceptual import dhash56

    rng = np.random.default_rng([seed, 2])
    images = _images(rng)
    pngs = [codecs.png_encode(a) for a in images]
    jpegs = [codecs.jpeg_encode(a, quality=90) for a in images]
    webps = [codecs.webp_encode(a) for a in images]
    clips = [rng.integers(-1024, 1024, 8000).astype(np.int64) for _ in range(ITEMS)]
    flacs = [flac.flac_encode(c, rate=8000, block_size=2048) for c in clips]
    kernels = {
        "png_decode": (codecs.png_decode, pngs),
        "jpeg_decode": (codecs.jpeg_decode, jpegs),
        "webp_decode": (codecs.webp_decode, webps),
        "resize_bicubic": (lambda a: codecs.resize_bicubic(a, 40, 30), images),
        "dhash56": (dhash56, images),
        "subfingerprints": (subfingerprints, clips),
        "flac_decode": (flac.flac_decode, flacs),
    }
    out = {}
    for name, (fn, inputs) in kernels.items():
        fn(inputs[0])  # untimed: keeps first-call costs out
        out[f"multimodal.{name}_us"] = _per_item_us(fn, inputs)
    return out
