"""Synthetic media fixtures: one doc-id source, one ``mapInPandas``
wrapper and the two md5 seed formats every audio, video and image
fixture is built from.

No media files or codecs exist in the container, so the perceptual
queries (``plans/av.py``, ``plans/images.py``, ``plans/streaming.py``)
synthesize their clips, frames and images per ``doc_id`` in a Python
worker. The DuckDB oracles never decode: they re-derive every window
energy and grid cell from the same md5 arithmetic, so the two seed
formats below are part of each oracle's contract — change a byte here
and every oracle that re-derives it breaks. FIXTURES.md ("Synthetic
media") lists the seed prefixes, the fixtures that use them and the
id arms of their planted copies.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import Column, DataFrame, SparkSession

from dwh_spark.sources.catalog import load_table


def doc_ids(spark: SparkSession, sf_dir: str, where: Column | None = None) -> DataFrame:
    """The ``doc_id`` column of ``documents`` (rows matching ``where``)
    spread over 32 partitions: the table is one row group, so without
    the spread ``mapInPandas`` would run every encode on one core."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    if where is not None:
        docs = docs.filter(where)
    return docs.repartition(32)


def synthesize(
    docs: DataFrame, rows: Callable[[int], Iterable[tuple]], schema: str
) -> DataFrame:
    """``docs.mapInPandas`` over the fixture rows: ``rows(doc_id)``
    yields tuples in the order of ``schema``'s fields (a flat DDL
    string). The batch function is named ``gen``, which names the
    ``MapInPandas gen(doc_id#x)`` node in the plan."""
    columns = [field.split()[0] for field in schema.split(",")]

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                [row for d in pdf["doc_id"] for row in rows(int(d))],
                columns=columns,
            )

    return docs.mapInPandas(gen, schema)


def md5_clip(seed: str, windows: Iterable[int]):
    """int16 PCM of 64-sample windows: window ``w`` starts at
    ``a = int(md5(f"{seed}:{w}")[:4], 16) % 2048`` and sample ``j`` is
    ``(a + 13 * j) % 2048 - 1024``, so each window's energy is
    md5-seeded (a shared linear sequence would make every clip a
    near-dup of every other)."""
    import numpy as np

    j = np.arange(64, dtype=np.int64)
    wins = []
    for w in windows:
        a = int(hashlib.md5(f"{seed}:{w}".encode()).hexdigest()[:4], 16) % 2048
        wins.append((a + j * 13) % 2048 - 1024)
    return np.concatenate(wins).astype(np.int16)


def md5_grid(seed: str, flip: int | None = None):
    """An 8x8 two-tone RGB image (uint8, 8x8x3): cell ``(r, c)`` is
    200 if ``int(md5(f"{seed}:{r}:{c}")[0], 16)`` is odd, else 50.
    ``flip=b`` plants the one-cell edit of base id ``b``: cell
    ``(b % 8, b // 8 % 8)`` takes the other tone."""
    import numpy as np

    g = np.empty((8, 8), np.uint8)
    for r in range(8):
        for c in range(8):
            g[r, c] = int(hashlib.md5(f"{seed}:{r}:{c}".encode()).hexdigest()[0], 16) % 2
    if flip is not None:
        g[flip % 8, flip // 8 % 8] ^= 1
    rgb = np.where(g[:, :, None] == 1, 200, 50).astype(np.uint8)
    return np.repeat(rgb, 3, axis=2)
