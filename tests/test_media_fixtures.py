"""Byte pins of the synthetic media fixtures.

The perceptual oracles check outcomes (pairs, votes, decisions), not
bytes. These digests pin every row the 19 fixture builders in
``plans/av.py`` and ``plans/images.py`` synthesize over doc ids 0-39,
with the flags their callers pass, so a change to the synthesis path
(``dwh_spark/sources/media_fixtures.py``) that moves a byte fails here.
The digests were recorded from the builders' inline generators, before
they moved onto the shared helpers.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from dwh_spark.plans import av, images
from dwh_spark.sources.media_fixtures import md5_clip, md5_grid, synthesize

# sha256 over repr() of the sorted collected rows
DIGESTS = {
    "_audio_corpus_fixture": (
        "1593eba6b11de46061671c8df7c446bf79da080fac1fb6f714c97ae9de17643a"
    ),
    "_audio_forget_fixture": (
        "1e60a4e1fe56fe36d44f4bb3d360838cd75d41b901ebed5de64d9f3ee1a3596e"
    ),
    "_audio_fp_fixture": (
        "50de5cdd57a3614b021efb0619f4fd4f1f2ff1cf8eb5c9331f0e67642ddaccf9"
    ),
    "_audio_jingle_offset_fixture": (
        "bea79e8583ccb077e958763854c38bb7793fb65893b6de81888953e3f720c9a7"
    ),
    "_audio_offset_fixture": (
        "e6d49c3895fae303406dae5e38357bccb0928d3ae01144dd7b403ba5cd13fa15"
    ),
    "_audio_silence_offset_fixture": (
        "db2a804ddfa814ed12fd9d7b22b8ab7ad54dfb0a6e13846698ed12bfe675cd3e"
    ),
    "_audio_snippet_fixture": (
        "653fdb140d5c3263abfa689446dec3a6edfcd355d10581ad7d9eee54cdb152d4"
    ),
    "_imgs_corpus_fixture": (
        "503a22b6601fc7494fa515ebfb137cb233b8cf894984287987575988ae73eacf"
    ),
    "_imgs_flat_phash_fixture": (
        "348ecbb0b820304701e10e80317613f1ebca6db1b6c6bd239d05bdf01fc598af"
    ),
    "_imgs_forget_fixture": (
        "95167ee703d64c095d06821a3fe094a9f517d839824dbaf71444bd51c4598863"
    ),
    "_phash_fixture_images": (
        "1a0782723f80ec7c11f1a9f59d1c8e99a4bf7d4e517d1933cb862726e07bc13c"
    ),
    "_video_black_offset_fixture": (
        "3a9902ec128d6a7483dd20ab24c7540e6f8bb16b672f5cfcc755d8856e265588"
    ),
    "_video_corpus_fixture": (
        "e1468e0392c07507e27085c91c7b6aed2f90903f9e0fd179fc14108045721126"
    ),
    "_video_drift_fixture": (
        "f3970afa2d17ce40e8f50057facfe7f6acb396cfd34a8014c829460b8713a107"
    ),
    "_video_forget_fixture": (
        "a94d7873acd227c31213aeea216f8216f2ec2f3b6599548332b79cf479787af2"
    ),
    "_video_offset_fixture": (
        "5daf352c51fedbf573524194330724dbb7cd93a9fc53c774c878e59d46e0e922"
    ),
    "_video_phash_fixture": (
        "a3ed522afc3f27398e6adb9d3d13cd419055df4078e68166422f7303d00e7a5c"
    ),
    "_video_snippet_fixture": (
        "818a556be5fcdf2e3026a2875019683853479abb6f2a21fcbef06c2b87309480"
    ),
    "_video_title_offset_fixture": (
        "079e6bf1be73c7a9a83c55a9486c15e2e08bfa0f3b2bf92dc32a3c5c6841a252"
    ),
}

_NOVEL = {"_audio_corpus_fixture", "_video_corpus_fixture"}


def _digest(df) -> str:
    h = hashlib.sha256()
    for row in sorted(tuple(r) for r in df.collect()):
        h.update(repr(row).encode())
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(DIGESTS))
def test_fixture_rows_match_recorded_digest(spark, name):
    builder = getattr(av, name, None) or getattr(images, name)
    docs = spark.range(0, 40, 1, 1).select(F.col("id").alias("doc_id"))
    flags = {"novel": True} if name in _NOVEL else {}
    assert _digest(builder(docs, True, True, **flags)) == DIGESTS[name]


def test_md5_clip_follows_the_window_formula():
    s = md5_clip("7", range(2, 4))
    assert s.dtype.name == "int16" and s.shape == (128,)
    for k, w in enumerate(range(2, 4)):
        a = int(hashlib.md5(f"7:{w}".encode()).hexdigest()[:4], 16) % 2048
        assert [int(x) for x in s[k * 64 : k * 64 + 3]] == [
            (a + 13 * j) % 2048 - 1024 for j in range(3)
        ]


def test_md5_grid_follows_the_cell_formula_and_flips_the_edit_cell():
    g = md5_grid("icb:11")
    assert g.shape == (8, 8, 3) and g.dtype.name == "uint8"
    for r in range(8):
        for c in range(8):
            bit = int(hashlib.md5(f"icb:11:{r}:{c}".encode()).hexdigest()[0], 16) % 2
            assert (g[r, c] == (200 if bit else 50)).all()
    edited = md5_grid("icb:11", flip=11)
    assert [tuple(x) for x in zip(*(g != edited).any(axis=2).nonzero())] == [(3, 1)]


def test_synthesize_plans_one_gen_node(spark):
    docs = spark.range(3).select(F.col("id").alias("doc_id"))
    df = synthesize(docs, lambda d: [(d, str(d))] * (d % 2), "doc_id long, s string")
    assert "MapInPandas gen(doc_id" in df._jdf.queryExecution().executedPlan().toString()
    assert sorted(df.collect()) == [(1, "1")]
