"""Image-pipeline queries (SURVEY.md §2.5, B1-B7 + S10).

The container has no image fixtures or codecs, so image rows are
derived deterministically from the `documents` table: each doc becomes
one "image" whose bytes are a real format magic prefix (chosen by
``doc_id % 8``) followed by ``:doc_id:`` and the document text. The
Spark side does real binary work — constructs the bytes, sniffs the
magic, hashes content — while the oracle checks the business outcome
through the same ``doc_id`` arithmetic that generated the fixture, so
a sniffing/hashing bug shows up as a mismatch.

Formats by ``doc_id % 8``: png jpeg gif bmp tiff webp svg unknown.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dwh_spark.multimodal.images import (
    decode_and_resize,
    dedup_against_store,
    deterministic_decoder,
    point_read_with_fallback,
    resize_fanout,
    sniff_format,
    supersede_keep_latest,
)
from dwh_spark.plans.registry import query
from dwh_spark.session import persist_slot
from dwh_spark.sources.catalog import load_table
from dwh_spark.sources.media_fixtures import doc_ids, md5_grid, synthesize

_MAGICS: dict[int, bytes] = {
    0: b"\x89PNG\r\n\x1a\n",          # 8 bytes
    1: b"\xff\xd8\xff\xe0",            # 4
    2: b"GIF89a",                      # 6
    3: b"BM",                          # 2
    4: b"II*\x00",                     # 4
    5: b"RIFF\x00\x00\x00\x00WEBP",    # 12
    6: b'<svg xmlns="t">',             # 15
    7: b"\x01\x02\x03\x04",            # 4 (not an image)
}

_FMT_NAMES = ("png", "jpeg", "gif", "bmp", "tiff", "webp", "svg", "unknown")
_MAGIC_LENS = tuple(len(_MAGICS[k]) for k in range(8))

# ------------------------------------------------------- fixture (both sides)


def _content(suffix: str = "") -> Column:
    mod = F.col("doc_id") % 8
    magic = F.lit(_MAGICS[7])
    for k in range(7):
        magic = F.when(mod == k, F.lit(_MAGICS[k])).otherwise(magic)
    body = F.concat_ws(
        "", F.lit(":"), F.col("doc_id").cast("string"), F.lit(":"),
        F.col("text"), F.lit(suffix),
    )
    return F.concat(magic, body.cast("binary"))


def _images(spark: SparkSession, sf_dir: str, suffix: str = "") -> DataFrame:
    return load_table(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        F.lit("owner").alias("owner"),
        F.col("doc_id").cast("string").alias("token_id"),
        _content(suffix).alias("content"),
    )


_FMT_SQL = (
    "CASE doc_id % 8 "
    + " ".join(f"WHEN {k} THEN '{_FMT_NAMES[k]}'" for k in range(8))
    + " END"
)
_MAGIC_LEN_SQL = (
    "CASE doc_id % 8 "
    + " ".join(f"WHEN {k} THEN {_MAGIC_LENS[k]}" for k in range(8))
    + " END"
)
# octet_length of the fixture content, derivable without building bytes
# (DuckDB: strlen = byte length of a VARCHAR; octet_length needs BLOB)
_CONTENT_LEN_SQL = (
    f"({_MAGIC_LEN_SQL}) + 2 + length(CAST(doc_id AS VARCHAR)) + strlen(text)"
)

# ------------------------------------------------------------------- queries


@query(
    "imgs_format_bytes",
    oracle=f"""
    SELECT {_FMT_SQL} AS format,
           count(*) AS n_images,
           CAST(sum({_CONTENT_LEN_SQL}) AS BIGINT) AS total_bytes
    FROM documents GROUP BY 1
    """,
)
def imgs_format_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1: magic-byte sniffing over the binary column (JVM-side, no
    UDF) + byte accounting. A wrong sniffer mis-buckets whole formats."""
    imgs = _images(spark, sf_dir)
    return (
        imgs.withColumn("format", F.coalesce(sniff_format(F.col("content")), F.lit("unknown")))
        .groupBy("format")
        .agg(
            F.count("*").alias("n_images"),
            F.sum(F.octet_length("content")).alias("total_bytes"),
        )
    )


@query(
    "imgs_resize_fanout_stats",
    oracle=f"""
    WITH fmts AS (SELECT {_FMT_SQL} AS format FROM documents
                  WHERE doc_id % 8 != 7)
    SELECT format, target_w, target_h, count(*) AS n
    FROM fmts CROSS JOIN (VALUES (200, 150), (120, 90)) AS r(target_w, target_h)
    WHERE format != 'svg'
    GROUP BY 1, 2, 3
    UNION ALL
    SELECT 'svg', 0, 0, count(*) FROM documents WHERE doc_id % 8 = 6
    """,
)
def imgs_resize_fanout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: per-resolution fan-out — rasters × 2 resolutions, vectors
    pass through once as (0,0), non-images dropped."""
    return (
        resize_fanout(_images(spark, sf_dir))
        .groupBy("format", "target_w", "target_h")
        .agg(F.count("*").alias("n"))
    )


@query(
    "imgs_decode_resize_bytes",
    oracle=f"""
    WITH fmts AS (
      SELECT {_FMT_SQL} AS format, {_CONTENT_LEN_SQL} AS clen FROM documents
      WHERE doc_id % 8 != 7)
    SELECT format, target_w,
           CAST(sum(length(format) + length(CAST(target_w AS VARCHAR))
                    + length(CAST(target_h AS VARCHAR)) + 19) AS BIGINT)
             AS resized_bytes,
           count(*) AS n
    FROM fmts CROSS JOIN (VALUES (200, 150), (120, 90)) AS r(target_w, target_h)
    WHERE format != 'svg'
    GROUP BY 1, 2
    UNION ALL
    SELECT 'svg', 0, CAST(sum(clen) AS BIGINT), count(*)
    FROM fmts WHERE format = 'svg' GROUP BY 1, 2
    """,
)
def imgs_decode_resize_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2+B4 plumbing: the mapInPandas decode/resize stage end-to-end
    with the deterministic stub decoder (tag + md5 digest = len(fmt) +
    len("WxH") + 3 + 16 bytes); svg rows pass through at original
    size. Exercises the Arrow batch path the real codec would use."""
    fanned = resize_fanout(_images(spark, sf_dir))
    resized = decode_and_resize(fanned, decoder=deterministic_decoder)
    return resized.groupBy("format", "target_w").agg(
        F.sum("n_bytes").alias("resized_bytes"), F.count("*").alias("n")
    )


@query(
    "imgs_dedup_new",
    oracle="SELECT doc_id FROM documents WHERE doc_id % 3 != 0",
)
def imgs_dedup_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: checksum skip-if-exists — only images whose md5 isn't in the
    store (docs with doc_id % 3 == 0 are pre-stored) survive."""
    all_imgs = _images(spark, sf_dir)
    store = all_imgs.filter(F.col("doc_id") % 3 == 0)
    return dedup_against_store(all_imgs, store).select("doc_id")


@query(
    "imgs_keep_latest",
    oracle=f"""
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT) AS kept_seq,
           CAST({_CONTENT_LEN_SQL}
                + CASE WHEN doc_id % 4 = 0 THEN 3 ELSE 0 END AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def imgs_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7: version supersede — a re-upload (write_seq 1, content
    suffixed '-v2') replaces the original for doc_id % 4 == 0; exactly
    one row per content address survives."""
    gen0 = _images(spark, sf_dir).withColumn("write_seq", F.lit(0))
    gen1 = (
        _images(spark, sf_dir, suffix="-v2")
        .filter(F.col("doc_id") % 4 == 0)
        .withColumn("write_seq", F.lit(1))
    )
    store = gen0.unionByName(gen1).withColumns(
        {"target_w": F.lit(0), "target_h": F.lit(0)}
    )
    kept = supersede_keep_latest(store)
    return kept.select(
        "doc_id",
        F.col("write_seq").cast("long").alias("kept_seq"),
        F.octet_length("content").cast("long").alias("n_bytes"),
    )


def _decoded_stats(resized: DataFrame) -> DataFrame:
    """Decode each ``resized`` PNG of a ``decode_and_resize`` output again
    and report its dims and rounded per-channel means, keyed by
    ``token_id``: the last stage of every ``imgs_*_pixel_stats`` query.
    The batch function is named ``verify``, which names the
    ``MapInPandas verify(...)`` node in the plan."""
    columns = [
        "token_id", "format", "target_w", "target_h",
        "dec_w", "dec_h", "mean_r", "mean_g", "mean_b",
    ]

    def verify(batches):
        import pandas as pd

        from dwh_spark.multimodal import codecs

        for pdf in batches:
            rows = []
            for tok, fmt, tw, th, blob in zip(
                pdf["token_id"], pdf["format"], pdf["target_w"],
                pdf["target_h"], pdf["resized"],
            ):
                arr = codecs.png_decode(bytes(blob))
                rows.append((
                    tok, fmt, int(tw), int(th),
                    int(arr.shape[1]), int(arr.shape[0]),
                    int(round(arr[:, :, 0].mean())),
                    int(round(arr[:, :, 1].mean())),
                    int(round(arr[:, :, 2].mean())),
                ))
            yield pd.DataFrame(rows, columns=columns)

    return resized.mapInPandas(
        verify,
        "token_id string, format string, target_w int, target_h int, "
        "dec_w int, dec_h int, mean_r long, mean_g long, mean_b long",
    )


@query(
    "imgs_real_pixel_stats",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
           r.target_w, r.target_h,
           r.target_w AS dec_w, r.target_h AS dec_h,
           (doc_id * 37) % 256 AS mean_r,
           (doc_id * 59) % 256 AS mean_g,
           (doc_id * 83) % 256 AS mean_b
    FROM documents
    CROSS JOIN (VALUES (40, 30), (16, 12)) AS r(target_w, target_h)
    WHERE doc_id % 10 < 2
    """,
)
def imgs_real_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2+B4 for REAL: every doc becomes a genuine 32x24 constant-color
    image — PNG for even doc_ids, 24-bit BMP for odd — encoded by the
    vendored codecs in a mapInPandas stage. The pipeline then sniffs,
    fans out to two resolutions, pixel-decodes, bicubic-resizes and
    re-encodes to PNG (pixel_decoder), and finally DECODES THE OUTPUT
    AGAIN to report decoded dimensions and per-channel means.

    The oracle is independent of every codec: bicubic resampling of a
    constant image is that constant, so the means must equal the
    channel values the construction arithmetic assigned
    ((doc_id*37|59|83) % 256) and the decoded dims must equal the
    resize targets. A bug anywhere in encode → sniff → decode →
    resample → re-encode → re-decode shows up as a wrong mean, wrong
    size, or a crashed row.
    """
    from dwh_spark.multimodal.images import pixel_decoder

    # Deterministic 20% doc subset: the codec-pipeline proof needs
    # real pixels through every stage, not every document — the full
    # corpus run tripled Python/Arrow memory churn bench-wide for no
    # additional oracle coverage. 32-way spread because the
    # single-row-group fixture would otherwise run every PNG/BMP
    # encode+decode on ONE core (mapInPandas inherits partitioning).
    docs = doc_ids(spark, sf_dir, F.col("doc_id") % 10 < 2)

    gen_schema = "doc_id long, owner string, token_id string, content binary"

    def rows(d):
        import numpy as np

        from dwh_spark.multimodal import codecs

        arr = np.empty((24, 32, 3), np.uint8)
        arr[:, :, 0] = (d * 37) % 256
        arr[:, :, 1] = (d * 59) % 256
        arr[:, :, 2] = (d * 83) % 256
        if d % 2 == 0:
            # half the PNGs are Adam7-interlaced so the driver
            # row also pins the deinterlacing decode path
            content = codecs.png_encode(arr, interlace=(d % 4 == 0))
        else:
            content = codecs.bmp_encode(arr)
        yield d, "owner", str(d), content

    images = synthesize(docs, rows, gen_schema)
    fanned = resize_fanout(images, resolutions=((40, 30), (16, 12)))
    resized = decode_and_resize(fanned, decoder=pixel_decoder)

    verified = _decoded_stats(resized)
    return verified.select(
        F.col("token_id").cast("long").alias("doc_id"),
        "format",
        "target_w", "target_h", "dec_w", "dec_h",
        "mean_r", "mean_g", "mean_b",
    )


@query(
    "imgs_jpeg_pixel_stats",
    oracle="""
    SELECT doc_id,
           'jpeg' AS format,
           CASE WHEN doc_id % 2 = 0 THEN '4:2:0' ELSE '4:4:4' END AS subsampling,
           CASE WHEN doc_id % 10 = 7 THEN 'progressive' ELSE 'baseline' END
             AS coding,
           r.target_w, r.target_h,
           r.target_w AS dec_w, r.target_h AS dec_h,
           (doc_id * 37) % 256 AS mean_r,
           (doc_id * 37) % 256 AS mean_g,
           (doc_id * 37) % 256 AS mean_b
    FROM documents
    CROSS JOIN (VALUES (40, 30), (16, 12)) AS r(target_w, target_h)
    WHERE doc_id % 10 IN (2, 7)
    """,
)
def imgs_jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 for JPEG — the dominant real-corpus format
    (x/imgresizer/resizer.go:251): every selected doc becomes a genuine
    JFIF (vendored pure-numpy codec, multimodal/jpeg.py) — 4:2:0 for
    even doc_ids, 4:4:4 for odd; baseline SOF0 for doc_id%10==2 and
    PROGRESSIVE SOF2 (spectral selection + successive approximation,
    10-scan script with EOB runs and refinement bits) for doc_id%10==7
    — then flows through the SAME pipeline as imgs_real_pixel_stats:
    sniff → fan-out → jpeg-decode → bicubic resize → PNG re-encode →
    decode again for stats.

    Oracle independence rests on a JPEG identity: a constant-GRAY
    image at quality=100 (all-ones quant tables) round-trips EXACTLY —
    Y is the gray value (integral DC, zero AC), chroma is flat 128
    under either subsampling, and the RGB reconstruction returns the
    gray unchanged. So the decoded channel means must equal the
    construction arithmetic (doc_id*37 % 256) with no codec terms in
    the oracle. Huffman/quant tables are read from each file's own
    DHT/DQT, so this exercises the real decode path, not a replay.
    """
    from dwh_spark.multimodal.images import pixel_decoder

    docs = doc_ids(spark, sf_dir, (F.col("doc_id") % 10).isin(2, 7))  # single-row-group fixture would pin one core

    gen_schema = "doc_id long, owner string, token_id string, content binary"

    def rows(d):
        import numpy as np

        from dwh_spark.multimodal import codecs

        arr = np.full((24, 32, 3), (d * 37) % 256, np.uint8)
        sub = "4:2:0" if d % 2 == 0 else "4:4:4"
        enc = codecs.jpeg_encode_progressive if d % 10 == 7 else codecs.jpeg_encode
        yield d, "owner", str(d), enc(arr, quality=100, subsampling=sub)

    images = synthesize(docs, rows, gen_schema)
    fanned = resize_fanout(images, resolutions=((40, 30), (16, 12)))
    resized = decode_and_resize(fanned, decoder=pixel_decoder)

    verified = _decoded_stats(resized)
    return verified.select(
        F.col("token_id").cast("long").alias("doc_id"),
        "format",
        F.when(F.col("token_id").cast("long") % 2 == 0, "4:2:0")
        .otherwise("4:4:4")
        .alias("subsampling"),
        F.when(F.col("token_id").cast("long") % 10 == 7, "progressive")
        .otherwise("baseline")
        .alias("coding"),
        "target_w", "target_h", "dec_w", "dec_h",
        "mean_r", "mean_g", "mean_b",
    )


@query(
    "imgs_gif_pixel_stats",
    oracle="""
    SELECT doc_id,
           'gif' AS format,
           r.target_w, r.target_h,
           r.target_w AS dec_w, r.target_h AS dec_h,
           (doc_id * 37) % 256 AS mean_r,
           (doc_id * 59) % 256 AS mean_g,
           (doc_id * 83) % 256 AS mean_b
    FROM documents
    CROSS JOIN (VALUES (40, 30), (16, 12)) AS r(target_w, target_h)
    WHERE doc_id % 10 = 3
    """,
)
def imgs_gif_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 for GIF (x/imgresizer/resizer.go:253): constant-color GIF89a
    images (vendored LZW encoder) through sniff → fan-out → LZW decode
    → palette expand → bicubic → PNG. GIF is palette-lossless, so
    unlike JPEG the full RGB color (37/59/83 channels) round-trips
    exactly and the oracle pins all three channel means."""
    from dwh_spark.multimodal.images import pixel_decoder

    docs = doc_ids(spark, sf_dir, F.col("doc_id") % 10 == 3)

    gen_schema = "doc_id long, owner string, token_id string, content binary"

    def rows(d):
        import numpy as np

        from dwh_spark.multimodal import codecs

        arr = np.empty((24, 32, 3), np.uint8)
        arr[:, :, 0] = (d * 37) % 256
        arr[:, :, 1] = (d * 59) % 256
        arr[:, :, 2] = (d * 83) % 256
        yield d, "owner", str(d), codecs.gif_encode(arr)

    images = synthesize(docs, rows, gen_schema)
    fanned = resize_fanout(images, resolutions=((40, 30), (16, 12)))
    resized = decode_and_resize(fanned, decoder=pixel_decoder)

    verified = _decoded_stats(resized)
    return verified.select(
        F.col("token_id").cast("long").alias("doc_id"),
        "format",
        "target_w", "target_h", "dec_w", "dec_h",
        "mean_r", "mean_g", "mean_b",
    )


@query(
    "imgs_tiff_pixel_stats",
    oracle="""
    SELECT doc_id,
           'tiff' AS format,
           CASE WHEN doc_id % 2 = 0 THEN 'none' ELSE 'lzw' END AS compression,
           r.target_w, r.target_h,
           r.target_w AS dec_w, r.target_h AS dec_h,
           (doc_id * 37) % 256 AS mean_r,
           (doc_id * 59) % 256 AS mean_g,
           (doc_id * 83) % 256 AS mean_b
    FROM documents
    CROSS JOIN (VALUES (40, 30), (16, 12)) AS r(target_w, target_h)
    WHERE doc_id % 10 = 5
    """,
)
def imgs_tiff_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 for TIFF (x/imgresizer/resizer.go:252): constant-color TIFFs
    — uncompressed strips for even doc_ids, TIFF-LZW (MSB-first,
    early-change) for odd — through sniff → IFD walk → strip decode →
    bicubic → PNG. TIFF is lossless, so the oracle pins all three
    channel means from the construction arithmetic, and the
    compression column proves both strip paths ran."""
    from dwh_spark.multimodal.images import pixel_decoder

    docs = doc_ids(spark, sf_dir, F.col("doc_id") % 10 == 5)

    gen_schema = "doc_id long, owner string, token_id string, content binary"

    def rows(d):
        import numpy as np

        from dwh_spark.multimodal import codecs

        arr = np.empty((24, 32, 3), np.uint8)
        arr[:, :, 0] = (d * 37) % 256
        arr[:, :, 1] = (d * 59) % 256
        arr[:, :, 2] = (d * 83) % 256
        comp = "none" if d % 2 == 0 else "lzw"
        yield d, "owner", str(d), codecs.tiff_encode(arr, comp)

    images = synthesize(docs, rows, gen_schema)
    fanned = resize_fanout(images, resolutions=((40, 30), (16, 12)))
    resized = decode_and_resize(fanned, decoder=pixel_decoder)

    verified = _decoded_stats(resized)
    return verified.select(
        F.col("token_id").cast("long").alias("doc_id"),
        "format",
        F.when(F.col("token_id").cast("long") % 2 == 0, "none")
        .otherwise("lzw")
        .alias("compression"),
        "target_w", "target_h", "dec_w", "dec_h",
        "mean_r", "mean_g", "mean_b",
    )


@query(
    "imgs_webp_pixel_stats",
    oracle="""
    SELECT doc_id,
           'webp' AS format,
           CASE doc_id % 3 WHEN 0 THEN 'palette'
                           WHEN 1 THEN 'subgreen_lz77_cache'
                           ELSE 'predictor_color' END AS variant,
           r.target_w, r.target_h,
           r.target_w AS dec_w, r.target_h AS dec_h,
           (doc_id * 37) % 256 AS mean_r,
           (doc_id * 59) % 256 AS mean_g,
           (doc_id * 83) % 256 AS mean_b
    FROM documents
    CROSS JOIN (VALUES (40, 30), (16, 12)) AS r(target_w, target_h)
    WHERE doc_id % 10 = 4
    """,
)
def imgs_webp_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 for WebP (x/imgresizer/resizer.go:254): constant-color
    lossless WebPs (vendored VP8L encoder, multimodal/vp8l.py) through
    sniff → RIFF walk → prefix-code decode → inverse transforms →
    bicubic → PNG. Three encoder variants by doc_id so one driver row
    exercises three decoder paths: color-indexing with 8-pixel/byte
    bundling, subtract-green + LZ77 + color cache, and predictor +
    cross-color transforms. VP8L is lossless, so the oracle pins all
    three channel means from the construction arithmetic."""
    from dwh_spark.multimodal.images import pixel_decoder

    docs = doc_ids(spark, sf_dir, F.col("doc_id") % 10 == 4)

    gen_schema = "doc_id long, owner string, token_id string, content binary"

    def rows(d):
        import numpy as np

        from dwh_spark.multimodal import vp8l

        arr = np.empty((24, 32, 3), np.uint8)
        arr[:, :, 0] = (d * 37) % 256
        arr[:, :, 1] = (d * 59) % 256
        arr[:, :, 2] = (d * 83) % 256
        if d % 3 == 0:
            data = vp8l.webp_encode(arr, palette=True)
        elif d % 3 == 1:
            data = vp8l.webp_encode(arr, subtract_green=True, cache_bits=4)
        else:
            data = vp8l.webp_encode(
                arr,
                subtract_green=True,
                predictor_mode=d % 14,
                color_transform=(13, 27, 5),
            )
        yield d, "owner", str(d), data

    images = synthesize(docs, rows, gen_schema)
    fanned = resize_fanout(images, resolutions=((40, 30), (16, 12)))
    resized = decode_and_resize(fanned, decoder=pixel_decoder)

    verified = _decoded_stats(resized)
    return verified.select(
        F.col("token_id").cast("long").alias("doc_id"),
        "format",
        F.when(F.col("token_id").cast("long") % 3 == 0, "palette")
        .when(F.col("token_id").cast("long") % 3 == 1, "subgreen_lz77_cache")
        .otherwise("predictor_color")
        .alias("variant"),
        "target_w", "target_h", "dec_w", "dec_h",
        "mean_r", "mean_g", "mean_b",
    )


@query(
    "imgs_point_read_fallback",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN 200 ELSE 0 END AS served_w,
           CASE WHEN doc_id % 5 = 0 THEN 150 ELSE 0 END AS served_h
    FROM documents
    """,
)
def imgs_point_read_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: blob point-read with resolution fallback — every doc is
    requested at 200x150; only doc_id % 5 == 0 has that rendition
    stored, the rest serve the (0,0) original."""
    originals = _images(spark, sf_dir).withColumns(
        {"target_w": F.lit(0), "target_h": F.lit(0)}
    )
    resized = (
        _images(spark, sf_dir)
        .filter(F.col("doc_id") % 5 == 0)
        .withColumns({"target_w": F.lit(200), "target_h": F.lit(150)})
    )
    store = originals.unionByName(resized)
    requests = load_table(spark, sf_dir, "documents").select(
        F.lit("owner").alias("owner"),
        F.col("doc_id").cast("string").alias("token_id"),
        F.lit(200).alias("req_w"), F.lit(150).alias("req_h"),
    )
    served = point_read_with_fallback(store, requests)
    return served.select(
        F.col("token_id").cast("long").alias("doc_id"),
        F.col("target_w").alias("served_w"),
        F.col("target_h").alias("served_h"),
    )


@query(
    "imgs_jpeg_reencode_stats",
    oracle="""
    SELECT doc_id,
           'jpeg' AS thumb_format,
           CASE WHEN doc_id % 2 = 0 THEN '4:2:0' ELSE '4:4:4' END AS subsampling,
           r.target_w, r.target_h,
           r.target_w AS dec_w, r.target_h AS dec_h,
           (doc_id * 41) % 256 AS mean_r,
           (doc_id * 41) % 256 AS mean_g,
           (doc_id * 41) % 256 AS mean_b
    FROM documents
    CROSS JOIN (VALUES (40, 30), (16, 12)) AS r(target_w, target_h)
    WHERE doc_id % 10 = 4
    """,
)
def imgs_jpeg_reencode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 beyond the reference: the reference's only thumbnail
    encoder is PNG (x/imgresizer/resizer.go:33,49,184,
    png.BestCompression — covered by imgs_decode_resize_bytes); JPEG
    appears in the reference only on the DECODE side
    (resizer.go:251 is the jpeg.Decode switch arm). This query
    exercises the beyond-reference JPEG ENCODE path: the full decode
    → bicubic resize → JPEG ENCODE → decode loop with the vendored
    encoder (multimodal/jpeg.py:jpeg_encode), under both chroma
    subsamplings (4:2:0 even doc_ids, 4:4:4 odd).

    Oracle independence uses the same JPEG identity the generation
    query relies on, now on the ENCODE side of the product path:
    constant-GRAY pixels at quality=100 (all-ones quant tables)
    round-trip exactly — integral DC, zero AC, flat chroma under
    either subsampling — and bicubic resampling of a constant image
    is that constant. So decoded dims must equal the resize targets
    and every channel mean must equal the construction arithmetic
    ((doc_id*41) % 256), with zero codec terms in the SQL."""
    docs = doc_ids(spark, sf_dir, F.col("doc_id") % 10 == 4)  # single-row-group fixture would pin one core

    gen_schema = "doc_id long, owner string, token_id string, content binary"

    def rows(d):
        import numpy as np

        from dwh_spark.multimodal import codecs

        arr = np.full((24, 32, 3), (d * 41) % 256, np.uint8)
        yield d, "owner", str(d), codecs.png_encode(arr)

    images = synthesize(docs, rows, gen_schema)
    fanned = resize_fanout(images, resolutions=((40, 30), (16, 12)))

    stats_schema = (
        "doc_id long, thumb_format string, subsampling string, "
        "target_w int, target_h int, dec_w int, dec_h int, "
        "mean_r long, mean_g long, mean_b long"
    )

    def reencode_verify(batches):
        import pandas as pd

        from dwh_spark.multimodal import codecs

        for pdf in batches:
            rows = []
            for tok, tw, th, blob in zip(
                pdf["token_id"], pdf["target_w"], pdf["target_h"], pdf["content"]
            ):
                d = int(tok)
                sub = "4:2:0" if d % 2 == 0 else "4:4:4"
                resized = codecs.resize_bicubic(
                    codecs.png_decode(bytes(blob)), int(tw), int(th)
                )
                thumb = codecs.jpeg_encode(resized, quality=100, subsampling=sub)
                arr = codecs.jpeg_decode(thumb)
                rows.append((
                    d, "jpeg", sub, int(tw), int(th),
                    int(arr.shape[1]), int(arr.shape[0]),
                    int(round(arr[:, :, 0].mean())),
                    int(round(arr[:, :, 1].mean())),
                    int(round(arr[:, :, 2].mean())),
                ))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "thumb_format", "subsampling",
                    "target_w", "target_h", "dec_w", "dec_h",
                    "mean_r", "mean_g", "mean_b",
                ],
            )

    return fanned.mapInPandas(reencode_verify, stats_schema)


@query(
    "imgs_phash_near_dups",
    oracle="""
    WITH ids AS (
      SELECT doc_id AS image_id, doc_id AS base, 0 AS edit FROM documents
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 0 FROM documents WHERE doc_id % 10 = 4
      UNION ALL
      SELECT doc_id + 2000000, doc_id, 1 FROM documents WHERE doc_id % 10 = 6
    ),
    cells AS (
      SELECT i.image_id, g.r, g.c,
             ((('0x' || substr(md5(CAST(i.base AS VARCHAR) || ':' || g.r
                                  || ':' || g.c), 1, 1))::INT
               + CASE WHEN i.edit = 1 AND g.r = i.base % 8
                       AND g.c = (i.base // 8) % 8 THEN 1 ELSE 0 END)
              % 2) AS b
      FROM ids i,
           (SELECT r.r, c.c
            FROM (SELECT unnest(range(0, 8)) AS r) r,
                 (SELECT unnest(range(0, 8)) AS c) c) g
    ),
    hashes AS (
      SELECT b1.image_id,
             CAST(sum(CASE WHEN b2.b = 1 AND b1.b = 0
                           THEN (1::BIGINT << (b1.r * 7 + b1.c))
                           ELSE 0 END) AS BIGINT) AS h
      FROM cells b1
      JOIN cells b2 ON b2.image_id = b1.image_id
                   AND b2.r = b1.r AND b2.c = b1.c + 1
      GROUP BY 1
    )
    SELECT h1.image_id AS id_a, h2.image_id AS id_b,
           CAST(bit_count(xor(h1.h, h2.h)) AS BIGINT) AS hamming
    FROM hashes h1 JOIN hashes h2 ON h1.image_id < h2.image_id
    WHERE bit_count(xor(h1.h, h2.h)) <= 3
    """,
)
def imgs_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup dedup (VERDICT r10 #3, the B5 gap):
    exact content-md5 dedup misses every re-encode and resize of the
    same artwork — the reference's e2e corpus is 7 raster encodings of
    one image (x/imgresizer/resizer_test.go:10-27). Each doc becomes a
    REAL 8×8 two-tone PNG whose cell pattern is md5-derived from
    doc_id (engine-portable, like every hash family here); doc_id%10
    ==4 additionally plants a 2× nearest-upscaled BMP RE-ENCODE
    (id +1,000,000) and %10==6 plants a 3×-upscaled GIF with ONE cell
    flipped (id +2,000,000) — a resize+re-encode dup and an edited
    near-dup per ten docs, crossing three codecs.

    The Spark side does the real work: vendored png/bmp/gif decode →
    Rec.601 luma → exact area-downscale to the 8×8 grid → 56-bit
    dHash (multimodal/perceptual.py) in one Arrow mapInPandas pass,
    then the permute-and-reblock pigeonhole join (4×14-bit blocks,
    full recall at hamming <= 3, never all-pairs). The oracle never
    decodes: it derives each image's dHash from the generating
    arithmetic (bit = cell(c+1) brighter than cell(c), cells from the
    md5 formula, the edit flip applied in SQL) and brute-forces
    all-pairs with bit_count(xor()) — so a decode, downscale, luma, or
    blocking bug all surface as a mismatch. The exact-upscale
    round-trip is guaranteed by the floor-partitioned area mean
    (perceptual.py:area_downscale); one-cell edits move at most 2 of
    the 56 bits, inside the hamming budget."""
    from dwh_spark.multimodal.perceptual import perceptual_near_dup_pairs

    docs = doc_ids(spark, sf_dir)  # single-row-group fixture would pin one core
    images = _phash_fixture_images(docs, base=True, variants=True)
    pairs = perceptual_near_dup_pairs(images, key="image_id", max_hamming=3)
    return pairs.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def _phash_fixture_images(docs, base: bool, variants: bool):
    """The perceptual fixture corpus shared by the batch and
    incremental dHash queries: per doc_id a REAL 8×8 two-tone PNG whose
    cell pattern is md5-derived (``base``), plus per ten docs a 2×
    nearest-upscaled BMP re-encode (id +1,000,000, doc_id%10==4) and a
    3×-upscaled one-cell-edited GIF (id +2,000,000, %10==6)
    (``variants``). Deterministic arithmetic end-to-end so the DuckDB
    oracles re-derive every dHash without decoding."""

    def rows(d):
        from dwh_spark.multimodal import codecs

        base_img = md5_grid(f"{d}")
        if base:
            yield d, codecs.png_encode(base_img)
        if variants and d % 10 == 4:
            up2 = base_img.repeat(2, axis=0).repeat(2, axis=1)
            yield d + 1000000, codecs.bmp_encode(up2)
        if variants and d % 10 == 6:
            edited = md5_grid(f"{d}", flip=d).repeat(3, axis=0).repeat(3, axis=1)
            yield d + 2000000, codecs.gif_encode(edited)

    return synthesize(docs, rows, "image_id long, content binary").withColumn(
        "format", sniff_format(F.col("content"))
    )


@query(
    "imgs_phash_incremental_ingest",
    oracle="""
    WITH ids AS (
      SELECT doc_id AS image_id, doc_id AS base, 0 AS edit, 0 AS is_new
      FROM documents
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 0, 1 FROM documents WHERE doc_id % 10 = 4
      UNION ALL
      SELECT doc_id + 2000000, doc_id, 1, 1 FROM documents WHERE doc_id % 10 = 6
    ),
    cells AS (
      SELECT i.image_id, i.is_new, g.r, g.c,
             ((('0x' || substr(md5(CAST(i.base AS VARCHAR) || ':' || g.r
                                  || ':' || g.c), 1, 1))::INT
               + CASE WHEN i.edit = 1 AND g.r = i.base % 8
                       AND g.c = (i.base // 8) % 8 THEN 1 ELSE 0 END)
              % 2) AS b
      FROM ids i,
           (SELECT r.r, c.c
            FROM (SELECT unnest(range(0, 8)) AS r) r,
                 (SELECT unnest(range(0, 8)) AS c) c) g
    ),
    hashes AS (
      SELECT b1.image_id, b1.is_new,
             CAST(sum(CASE WHEN b2.b = 1 AND b1.b = 0
                           THEN (1::BIGINT << (b1.r * 7 + b1.c))
                           ELSE 0 END) AS BIGINT) AS h
      FROM cells b1
      JOIN cells b2 ON b2.image_id = b1.image_id
                   AND b2.r = b1.r AND b2.c = b1.c + 1
      GROUP BY 1, 2
    )
    SELECT n.image_id AS batch_id, x.image_id AS index_id,
           CAST(bit_count(xor(n.h, x.h)) AS BIGINT) AS hamming
    FROM hashes n JOIN hashes x ON n.is_new = 1 AND x.is_new = 0
    WHERE bit_count(xor(n.h, x.h)) <= 3
    """,
)
def imgs_phash_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time perceptual screen — the dHash twin of the MinHash
    band probe and the reference's skip-if-exists blob discipline
    (x/imgresizer/resizer.go:137-174: per-item existence asks, never a
    store enumeration). The corpus fingerprint index is the stored
    (image_id, dhash) frame built ONCE from the base PNGs; the daily
    batch is the planted variants (2× BMP re-encodes, 3× one-cell-edit
    GIFs). Only the batch is decoded; its 14-bit pigeonhole blocks are
    BROADCAST into the index (multimodal/perceptual.py:
    perceptual_incremental_ingest), so the corpus is scanned once —
    never shuffled, never re-decoded, never self-joined. The oracle
    re-derives both hash sets from the generating arithmetic and
    brute-forces batch×index, so a decode, downscale, blocking, or
    probe-direction bug all surface as a mismatch."""
    from dwh_spark.multimodal.perceptual import (
        dhash_frame,
        perceptual_incremental_ingest,
    )

    docs = doc_ids(spark, sf_dir)  # single-row-group fixture would pin one core
    index = dhash_frame(_phash_fixture_images(docs, base=True, variants=False))
    batch = _phash_fixture_images(docs, base=False, variants=True)
    matches = perceptual_incremental_ingest(index, batch, max_hamming=3)
    return matches.select(
        "batch_id", "index_id", F.col("hamming").cast("long").alias("hamming")
    )


def _imgs_corpus_fixture(docs, base: bool = True, variants: bool = True):
    """Fixture corpus for the image corpus-build capstone (seed prefix
    'icb:' decorrelates it from _phash_fixture_images, FIXTURES.md
    discipline). ``base`` emits per doc a REAL 8×8 two-tone PNG;
    ``variants`` emits the planted rejects, one arm per pipeline
    stage:

    - %10==2 → byte-identical PNG copy   (id+1,000,000; exact-dup arm)
    - %10==4 → 2× nearest-upscale BMP    (id+2,000,000; dHash hamming 0)
    - %10==6 → 3× one-cell-edit GIF      (id+3,000,000; hamming ≤ 2)
    - %10==8 → FLAT all-one-tone PNG     (id+4,000,000; zero contrast)
    - %10==0 → TRUNCATED PNG (24 bytes)  (id+5,000,000; undecodable)

    Deterministic arithmetic end-to-end: the oracle re-derives every
    dHash and byte-identity class (deterministic encoders make
    same-pixels ⇔ same-bytes within one codec+size class) from doc_id
    alone, never decoding."""

    def rows(d):
        import numpy as np

        from dwh_spark.multimodal import codecs

        base_img = md5_grid(f"icb:{d}")
        png = codecs.png_encode(base_img)
        if base:
            yield d, png
        if variants and d % 10 == 2:
            yield d + 1000000, png
        if variants and d % 10 == 4:
            up2 = base_img.repeat(2, axis=0).repeat(2, axis=1)
            yield d + 2000000, codecs.bmp_encode(up2)
        if variants and d % 10 == 6:
            edited = md5_grid(f"icb:{d}", flip=d).repeat(3, axis=0).repeat(3, axis=1)
            yield d + 3000000, codecs.gif_encode(edited)
        if variants and d % 10 == 8:
            flat = np.full((8, 8, 3), 50, np.uint8)
            yield d + 4000000, codecs.png_encode(flat)
        if variants and d % 10 == 0:
            yield d + 5000000, png[:24]

    return synthesize(docs, rows, "image_id long, content binary").withColumn(
        "format", sniff_format(F.col("content"))
    )


def _imgs_feature_frame(imgs: DataFrame) -> DataFrame:
    """ONE Arrow pass per image corpus: (image_id, bmd5, ok, dhash,
    contrast) — content md5, decode-try, 56-bit dHash, and 8×8-grid
    luma contrast. Blobs cross to Python exactly once; only the
    ~50-byte feature row returns. This is the stored per-image
    artifact every corpus-build/triage stage probes (the hash index
    and fingerprint index are column subsets of it)."""
    from dwh_spark.multimodal.perceptual import (
        area_downscale,
        decode_pixels,
        dhash56,
    )

    def feat(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for k, fmt, c in zip(pdf["image_id"], pdf["format"], pdf["content"]):
                data = bytes(c)
                bmd5 = hashlib.md5(data).hexdigest()
                try:
                    arr = decode_pixels(data, fmt)
                    gray = (
                        0.299 * arr[:, :, 0].astype(np.float64)
                        + 0.587 * arr[:, :, 1].astype(np.float64)
                        + 0.114 * arr[:, :, 2].astype(np.float64)
                    )
                    g = area_downscale(gray, 8, 8)
                    out.append(
                        (
                            int(k),
                            bmd5,
                            True,
                            dhash56(arr),
                            int(round(g.max() - g.min())),
                        )
                    )
                except Exception:  # noqa: BLE001 — any decode failure routes out
                    out.append((int(k), bmd5, False, None, None))
            # nullable Int64 arrays, NOT a plain DataFrame: pandas
            # coerces an int column containing None to float64, and a
            # 56-bit dHash above 2^53 silently loses its low bits
            # there (the undecodable rows in a batch corrupted every
            # fingerprint in it; decisions happened to survive only
            # because both pair sides rounded identically)
            yield pd.DataFrame(
                {
                    "image_id": pd.array([r[0] for r in out], dtype="int64"),
                    "bmd5": [r[1] for r in out],
                    "ok": [r[2] for r in out],
                    "dhash": pd.array([r[3] for r in out], dtype="Int64"),
                    "contrast": pd.array([r[4] for r in out], dtype="Int64"),
                }
            )

    return imgs.mapInPandas(
        feat, "image_id long, bmd5 string, ok boolean, dhash long, contrast long"
    )


# The image queries keep their persisted feature frames in ONE slot
# (persist_slot "images.corpus"): the slim (id, md5, ok, dhash,
# contrast) frame feeds four downstream consumers — re-decoding the
# corpus per consumer would quadruple the only expensive stage.

_IMGS_CORPUS_BUILD_ORACLE = """
WITH ids AS (
  SELECT doc_id AS image_id, doc_id AS base, 'base' AS kind FROM documents
  UNION ALL
  SELECT doc_id + 1000000, doc_id, 'copy' FROM documents WHERE doc_id % 10 = 2
  UNION ALL
  SELECT doc_id + 2000000, doc_id, 'reenc' FROM documents WHERE doc_id % 10 = 4
  UNION ALL
  SELECT doc_id + 3000000, doc_id, 'edit' FROM documents WHERE doc_id % 10 = 6
  UNION ALL
  SELECT doc_id + 4000000, doc_id, 'flat' FROM documents WHERE doc_id % 10 = 8
  UNION ALL
  SELECT doc_id + 5000000, doc_id, 'trunc' FROM documents WHERE doc_id % 10 = 0
),
cells AS (
  SELECT i.image_id, i.kind, g.r, g.c,
         ((('0x' || substr(md5('icb:' || CAST(i.base AS VARCHAR) || ':'
                            || g.r || ':' || g.c), 1, 1))::INT
           + CASE WHEN i.kind = 'edit' AND g.r = i.base % 8
                   AND g.c = (i.base // 8) % 8 THEN 1 ELSE 0 END)
          % 2) AS b
  FROM ids i,
       (SELECT r.r, c.c
        FROM (SELECT unnest(range(0, 8)) AS r) r,
             (SELECT unnest(range(0, 8)) AS c) c) g
  WHERE i.kind IN ('base', 'copy', 'reenc', 'edit')
),
pats AS (
  -- the 64-cell pattern as an ordered bit STRING (bit 63 of a BIGINT
  -- would overflow DuckDB's signed left shift); any injective
  -- encoding works — it only stands in for byte-identity within one
  -- codec+size class
  SELECT image_id, kind,
         string_agg(CAST(b AS VARCHAR), '' ORDER BY r, c) AS pat,
         count(DISTINCT b) AS n_lv
  FROM cells GROUP BY 1, 2
),
hashes AS (
  SELECT b1.image_id,
         CAST(sum(CASE WHEN b2.b = 1 AND b1.b = 0
                       THEN (1::BIGINT << (b1.r * 7 + b1.c))
                       ELSE 0 END) AS BIGINT) AS h
  FROM cells b1
  JOIN cells b2 ON b2.image_id = b1.image_id AND b2.r = b1.r
               AND b2.c = b1.c + 1
  GROUP BY 1
),
qual AS (
  SELECT p.image_id, p.pat, h.h,
         CASE p.kind WHEN 'reenc' THEN 'bmp16'
                     WHEN 'edit' THEN 'gif24' ELSE 'png8' END AS enc
  FROM pats p JOIN hashes h USING (image_id)
  WHERE p.n_lv > 1
),
canon AS (
  SELECT min(image_id) AS image_id FROM qual GROUP BY enc, pat
),
survivors AS (
  SELECT q.image_id, q.h FROM qual q JOIN canon USING (image_id)
),
near AS (
  SELECT DISTINCT b.image_id
  FROM survivors a JOIN survivors b ON a.image_id < b.image_id
  WHERE bit_count(xor(a.h, b.h)) <= 3
),
dec AS (
  SELECT i.image_id,
         CASE WHEN i.kind = 'trunc' THEN 'undecodable'
              WHEN i.kind = 'flat' OR p.n_lv = 1 THEN 'low_quality'
              WHEN c.image_id IS NULL THEN 'exact_dup'
              WHEN n.image_id IS NOT NULL THEN 'near_dup'
              WHEN (('0x' || substr(md5(CAST(i.image_id AS VARCHAR)), 1, 8))::BIGINT
                    % 100) < 10 THEN 'test'
              ELSE 'train' END AS decision
  FROM ids i
  LEFT JOIN pats p USING (image_id)
  LEFT JOIN canon c ON c.image_id = i.image_id
  LEFT JOIN near n ON n.image_id = i.image_id
)
SELECT decision, count(*) AS n_images, CAST(sum(image_id) AS BIGINT) AS id_sum
FROM dec GROUP BY 1
"""


@query("imgs_corpus_build", oracle=_IMGS_CORPUS_BUILD_ORACLE)
def imgs_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IMAGE corpus-build capstone (VERDICT r11 next #7) — the
    image twin of docs_corpus_build, composing the perceptual family
    end-to-end: decodability gate → contrast (quality) gate → exact
    byte-dedup keep-canonical → perceptual dHash near-dup
    keep-canonical → reproducible hash split; output is the per-stage
    rollup (decision, n_images, id_sum) so the oracle hash pins WHICH
    image reached every stage.

    One Arrow pass computes everything per image (md5, decode-try,
    dHash, 8×8-grid contrast) — blobs cross to Python ONCE and only a
    ~50-byte feature row returns; the persisted feature frame feeds
    all four downstream consumers. Every decision arm is cheap-first:
    the decode/contrast gates are per-row, the exact arm is a groupBy
    on the 128-bit content hash (map-side combine), the perceptual arm
    is the pigeonhole blocked join over exact-canonical survivors only
    (never all-pairs — the brute-force form exists only in the
    oracle), and the split is a pure-codegen hash bucket. At 100 TB
    nothing rescans or re-decodes the corpus: the feature frame is the
    ~50-byte-per-image artifact every later stage (and the incremental
    ingest twins) probes — the md5 rides as its 32-char hex string
    (the form DuckDB's md5() emits, keeping every oracle
    engine-portable); a deployment squeezing the artifact would pack
    it as 2 x int64 (~16 B/row) at the cost of hex-splitting in every
    SQL consumer."""
    from dwh_spark.multimodal.perceptual import DHASH_BITS
    from dwh_spark.operators.dedup import simhash_blocked_pairs
    from dwh_spark.operators.sampling import hash_bucket

    docs = doc_ids(spark, sf_dir)
    feats = persist_slot(
        "images.corpus", lambda: _imgs_feature_frame(_imgs_corpus_fixture(docs))
    )

    qual = feats.filter(F.col("ok") & (F.col("contrast") > 0))
    canon = qual.groupBy("bmd5").agg(F.min("image_id").alias("image_id"))
    exact_kept = qual.join(canon.select("image_id"), "image_id", "left_semi")
    pairs = simhash_blocked_pairs(
        exact_kept.select("image_id", F.col("dhash").alias("simhash")),
        key="image_id",
        n_blocks=4,
        block_bits=DHASH_BITS // 4,
        max_hamming=3,
    )
    pruned = pairs.select(F.col("id_b").alias("image_id")).distinct()

    decision = (
        F.when(~F.col("ok"), F.lit("undecodable"))
        .when(F.col("contrast") == 0, F.lit("low_quality"))
        .when(F.col("__canon").isNull(), F.lit("exact_dup"))
        .when(F.col("__near").isNotNull(), F.lit("near_dup"))
        .when(hash_bucket(F.col("image_id")) < 10, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return (
        feats.join(
            canon.select("image_id").withColumn("__canon", F.lit(True)),
            "image_id",
            "left",
        )
        .join(pruned.withColumn("__near", F.lit(True)), "image_id", "left")
        .withColumn("decision", decision)
        .groupBy("decision")
        .agg(
            F.count("*").alias("n_images"),
            F.sum("image_id").alias("id_sum"),
        )
    )


_IMGS_TRIAGE_ORACLE = """
WITH ids AS (
  SELECT doc_id + 1000000 AS image_id, doc_id AS base, 'copy' AS kind
  FROM documents WHERE doc_id % 10 = 2
  UNION ALL
  SELECT doc_id + 2000000, doc_id, 'reenc' FROM documents WHERE doc_id % 10 = 4
  UNION ALL
  SELECT doc_id + 3000000, doc_id, 'edit' FROM documents WHERE doc_id % 10 = 6
  UNION ALL
  SELECT doc_id + 4000000, doc_id, 'flat' FROM documents WHERE doc_id % 10 = 8
  UNION ALL
  SELECT doc_id + 5000000, doc_id, 'trunc' FROM documents WHERE doc_id % 10 = 0
),
all_imgs AS (
  SELECT doc_id AS image_id, doc_id AS base, 'base' AS kind, 0 AS is_new
  FROM documents
  UNION ALL
  SELECT image_id, base, kind, 1 FROM ids
),
cells AS (
  SELECT a.image_id, a.kind, a.is_new, g.r, g.c,
         ((('0x' || substr(md5('icb:' || CAST(a.base AS VARCHAR) || ':'
                            || g.r || ':' || g.c), 1, 1))::INT
           + CASE WHEN a.kind = 'edit' AND g.r = a.base % 8
                   AND g.c = (a.base // 8) % 8 THEN 1 ELSE 0 END)
          % 2) AS b
  FROM all_imgs a,
       (SELECT r.r, c.c
        FROM (SELECT unnest(range(0, 8)) AS r) r,
             (SELECT unnest(range(0, 8)) AS c) c) g
  WHERE a.kind IN ('base', 'copy', 'reenc', 'edit')
),
pats AS (
  SELECT image_id, kind, is_new,
         string_agg(CAST(b AS VARCHAR), '' ORDER BY r, c) AS pat,
         count(DISTINCT b) AS n_lv
  FROM cells GROUP BY 1, 2, 3
),
hashes AS (
  SELECT b1.image_id,
         CAST(sum(CASE WHEN b2.b = 1 AND b1.b = 0
                       THEN (1::BIGINT << (b1.r * 7 + b1.c))
                       ELSE 0 END) AS BIGINT) AS h
  FROM cells b1
  JOIN cells b2 ON b2.image_id = b1.image_id AND b2.r = b1.r
               AND b2.c = b1.c + 1
  GROUP BY 1
),
-- the stored corpus artifacts: base-image hash classes + fingerprints
corpus AS (
  SELECT p.image_id, p.pat, h.h
  FROM pats p JOIN hashes h USING (image_id)
  WHERE p.is_new = 0 AND p.n_lv > 1
),
exact AS (  -- byte-identity needs the same codec+size class: only the
            -- 8x8 PNG arm ('copy') shares the corpus PNGs' class
  SELECT DISTINCT p.image_id
  FROM pats p JOIN corpus c ON c.pat = p.pat
  WHERE p.is_new = 1 AND p.kind IN ('base', 'copy')
),
near AS (
  SELECT DISTINCT p.image_id
  FROM pats p
  JOIN hashes hb USING (image_id)
  JOIN corpus c ON bit_count(xor(hb.h, c.h)) <= 3
  WHERE p.is_new = 1 AND p.n_lv > 1
    AND p.image_id NOT IN (SELECT image_id FROM exact)
),
dec AS (
  SELECT i.image_id,
         CASE WHEN i.kind = 'trunc' THEN 'undecodable'
              WHEN i.kind = 'flat' OR p.n_lv = 1 THEN 'low_quality'
              WHEN e.image_id IS NOT NULL THEN 'exact_dup'
              WHEN n.image_id IS NOT NULL THEN 'near_dup'
              ELSE 'kept' END AS decision
  FROM ids i
  LEFT JOIN pats p ON p.image_id = i.image_id
  LEFT JOIN exact e ON e.image_id = i.image_id
  LEFT JOIN near n ON n.image_id = i.image_id
)
SELECT image_id, decision FROM dec
"""


@query("imgs_corpus_ingest_triage", oracle=_IMGS_TRIAGE_ORACLE)
def imgs_corpus_ingest_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-delta triage for the IMAGE modality — the incremental
    twin of imgs_corpus_build and the image analog of the docs triage
    (operators/dedup.py:corpus_ingest_triage): route each NEW image to
    the FIRST matching decision — 'undecodable' (decode-try fails),
    'low_quality' (zero 8×8-grid contrast), 'exact_dup' (content md5
    already in the STORED corpus hash index), 'near_dup' (dHash within
    hamming ≤ 3 of the STORED fingerprint index), else 'kept'.

    Probe discipline matches the docs triage exactly: both stored
    indexes are column subsets of the corpus feature frame (built once
    at corpus-build time; recomputed here from the base fixture) and
    are STREAMED, never shuffled — the batch's hash set and
    fingerprint blocks are BROADCAST into them; probes run
    cheapest-first over shrinking inputs (decode/contrast gates are
    per-row, the exact probe sees only quality passers, the perceptual
    probe only quality-passing non-exact rows). Per-batch cost is
    O(batch decodes + index scans + collisions) — the corpus is never
    re-decoded. The oracle re-derives decisions from the generating
    arithmetic: dHashes and byte-identity classes (pattern equality
    within one codec+size class) from doc_id alone."""
    from dwh_spark.multimodal.perceptual import DHASH_BITS
    from dwh_spark.operators.dedup import simhash_blocked_probe

    docs = doc_ids(spark, sf_dir)
    corpus_feats, batch_feats = persist_slot(
        "images.corpus",
        lambda: (
            _imgs_feature_frame(
                _imgs_corpus_fixture(docs, base=True, variants=False)
            ),
            _imgs_feature_frame(
                _imgs_corpus_fixture(docs, base=False, variants=True)
            ),
        ),
    )

    qual = batch_feats.filter(F.col("ok") & (F.col("contrast") > 0))
    # exact probe: batch hash set BROADCAST into the streamed corpus
    # hash index; `found` is <= batch rows and broadcasts back
    batch_hashes = qual.select("bmd5").distinct()
    found = (
        corpus_feats.select("bmd5")
        .join(F.broadcast(batch_hashes), "bmd5")
        .distinct()
        .withColumn("__exact", F.lit(True))
    )
    survivors = qual.join(F.broadcast(found.select("bmd5")), "bmd5", "left_anti")
    # perceptual probe: batch fingerprint blocks BROADCAST into the
    # streamed corpus fingerprint index
    near = (
        simhash_blocked_probe(
            corpus_feats.select("image_id", F.col("dhash").alias("simhash")),
            survivors.select("image_id", F.col("dhash").alias("simhash")),
            key="image_id",
            n_blocks=4,
            block_bits=DHASH_BITS // 4,
            max_hamming=3,
        )
        .select(F.col("batch_id").alias("image_id"))
        .distinct()
        .withColumn("__near", F.lit(True))
    )
    decision = (
        F.when(~F.col("ok"), F.lit("undecodable"))
        .when(F.col("contrast") == 0, F.lit("low_quality"))
        .when(F.col("__exact"), F.lit("exact_dup"))
        .when(F.col("__near"), F.lit("near_dup"))
        .otherwise(F.lit("kept"))
    )
    return (
        batch_feats.join(F.broadcast(found), "bmd5", "left")
        .join(near, "image_id", "left")
        .withColumn("decision", decision)
        .select("image_id", "decision")
    )


def _imgs_flat_phash_fixture(docs, base: bool, variants: bool):
    """Fixture for the HOT-BLOCK-CAPPED image ingest (seed 'ipc:',
    decorrelated per FIXTURES.md): ``base`` emits per doc a REAL 8x8
    two-tone content PNG, PLUS a FLAT one-tone PNG per EVEN doc
    (id +3,000,000) — the degenerate half of the corpus that makes
    every 14-bit block of dhash 0 corpus-hot. ``variants`` emits the
    daily batch: a 2x nearest-upscale BMP re-encode per %10==4 doc
    (id +1,000,000, the true-match class) and a flat batch image per
    %10==8 doc (id +2,000,000 — without a guard it would pair with
    EVERY stored flat image)."""

    def rows(d):
        import numpy as np

        from dwh_spark.multimodal import codecs

        flat = np.full((8, 8, 3), 50, np.uint8)
        if base:
            yield d, codecs.png_encode(md5_grid(f"ipc:{d}"))
            if d % 2 == 0:
                yield d + 3000000, codecs.png_encode(flat)
        if variants and d % 10 == 4:
            up2 = md5_grid(f"ipc:{d}").repeat(2, axis=0).repeat(2, axis=1)
            yield d + 1000000, codecs.bmp_encode(up2)
        if variants and d % 10 == 8:
            yield d + 2000000, codecs.png_encode(flat)

    return synthesize(docs, rows, "image_id long, content binary").withColumn(
        "format", sniff_format(F.col("content"))
    )


@query(
    "imgs_phash_capped_ingest",
    oracle="""
    WITH ids AS (
      SELECT doc_id AS image_id, doc_id AS base, 0 AS flat, 0 AS is_new
      FROM documents
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 1, 0 FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 0, 1 FROM documents WHERE doc_id % 10 = 4
      UNION ALL
      SELECT doc_id + 2000000, doc_id, 1, 1 FROM documents WHERE doc_id % 10 = 8
    ),
    cells AS (
      SELECT i.image_id, i.is_new, g.r, g.c,
             (('0x' || substr(md5('ipc:' || CAST(i.base AS VARCHAR) || ':'
                                  || g.r || ':' || g.c), 1, 1))::INT % 2) AS b
      FROM ids i,
           (SELECT r.r, c.c
            FROM (SELECT unnest(range(0, 8)) AS r) r,
                 (SELECT unnest(range(0, 8)) AS c) c) g
      WHERE i.flat = 0
    ),
    hashes AS (
      SELECT b1.image_id, b1.is_new,
             CAST(sum(CASE WHEN b2.b = 1 AND b1.b = 0
                           THEN (1::BIGINT << (b1.r * 7 + b1.c))
                           ELSE 0 END) AS BIGINT) AS h
      FROM cells b1
      JOIN cells b2 ON b2.image_id = b1.image_id
                   AND b2.r = b1.r AND b2.c = b1.c + 1
      GROUP BY 1, 2
      UNION ALL
      SELECT image_id, is_new, 0 AS h FROM ids WHERE flat = 1
    ),
    xb AS (
      SELECT h.image_id, h.h, b.i,
             CAST((h.h >> (b.i * 14)) & 16383 AS BIGINT) AS val
      FROM hashes h, (SELECT unnest(range(0, 4)) AS i) b
      WHERE h.is_new = 0
    ),
    nb AS (
      SELECT h.image_id, h.h, b.i,
             CAST((h.h >> (b.i * 14)) & 16383 AS BIGINT) AS val
      FROM hashes h, (SELECT unnest(range(0, 4)) AS i) b
      WHERE h.is_new = 1
    ),
    bdf AS (SELECT i, val, count(*) AS df FROM xb GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT n.image_id AS batch_id, n.h AS h_n,
                      x.image_id AS index_id, x.h AS h_x
      FROM nb n
      JOIN xb x ON x.i = n.i AND x.val = n.val
      JOIN bdf d ON d.i = x.i AND d.val = x.val AND d.df <= 8
    )
    SELECT batch_id, index_id,
           CAST(bit_count(xor(h_n, h_x)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(h_n, h_x)) <= 3
    """,
)
def imgs_phash_capped_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOT-BLOCK-CAPPED perceptual image ingest — the guard the
    offset family gained in round 13, extended to the shared blocked
    fingerprint join (operators/dedup.py:simhash_blocked_probe),
    which has the same degenerate-value class: HALF the stored corpus
    here is FLAT one-tone images (dhash 0 — every 14-bit block value
    0 is posted by every flat image), so an uncapped probe of a flat
    batch image would pair it with every stored flat (|hot|² rows).
    The guard is the stored (i, val, df) stats table
    (operators/dedup.py:simhash_block_df — bounded at
    n_blocks x 2^14 rows, append-maintainable, built at index build
    time), anti-joined broadcast off the streamed index side: flat
    batch images match NOTHING, while the planted 2x BMP re-encodes
    still match their base (hamming 0) through their md5-random
    content blocks (df ~= 1). This is the raw-corpus form of the
    guard; the corpus-build pipeline instead removes degenerate items
    at its contrast gate before any join — both routes stated. The
    oracle re-derives every dHash, splits the SAME 14-bit blocks,
    computes the SAME per-(block, value) df over the index, and
    applies the SAME df <= 8 cap before its brute-force join. The
    cap constant follows the operators/caps.py:calibrate_cap recipe
    (margin x natural q99 of the stats df; see
    av_audio_fp_cap_calibration) — run cap_report before enabling."""
    from dwh_spark.multimodal.perceptual import (
        dhash_frame,
        perceptual_incremental_ingest,
    )
    from dwh_spark.operators.dedup import simhash_block_df

    docs = doc_ids(spark, sf_dir)
    # the fingerprint frame feeds BOTH the stats build and the probe —
    # persist so the image corpus is decoded once, not twice (ADVICE r13)
    index = persist_slot(
        "images.corpus",
        lambda: dhash_frame(
            _imgs_flat_phash_fixture(docs, base=True, variants=False)
        ),
    )
    stats = simhash_block_df(
        index.select("image_id", F.col("dhash").alias("simhash")),
        n_blocks=4,
        block_bits=14,
    )
    batch = _imgs_flat_phash_fixture(docs, base=False, variants=True)
    matches = perceptual_incremental_ingest(
        index, batch, max_hamming=3, max_block_freq=8, block_df=stats
    )
    return matches.select(
        "batch_id", "index_id", F.col("hamming").cast("long").alias("hamming")
    )


# ---------------------------------------------------------------------------
# RIGHT-TO-BE-FORGOTTEN for the image dHash index (round 15): the
# image binding of the batch forget family — operators/forget.py's
# forget_rows + shrink_simhash_block_df had unit tests but no
# oracle-gated probe query; this closes the asymmetry and lets the
# unified erasure capstone carry an 'image' family row.
# ---------------------------------------------------------------------------


def _imgs_forget_fixture(docs, base: bool, variants: bool):
    """Fixture for the right-to-be-forgotten image query: per doc a
    REAL 8x8 two-tone PNG with md5-seeded cells (seed prefix 'ifg:'
    decorrelates from every other image fixture); for doc_id%10==3 a
    TRIO — the base plus a pixel-identical 2x-upscaled BMP re-encode
    (id +3,000,000, hamming 0) AND a one-cell-edited PNG
    (id +1,000,000, hamming <= 2) — so after the base is forgotten
    its two copies still pair with EACH OTHER (re-encode vs edit is
    the same <= 2-bit hamming) while nothing matches the forgotten
    base itself."""

    def rows(d):
        from dwh_spark.multimodal import codecs

        base_img = md5_grid(f"ifg:{d}")
        if base:
            yield d, codecs.png_encode(base_img)
        if variants and d % 10 == 3:
            up2 = base_img.repeat(2, axis=0).repeat(2, axis=1)
            yield d + 3000000, codecs.bmp_encode(up2)
            yield d + 1000000, codecs.png_encode(md5_grid(f"ifg:{d}", flip=d))

    return synthesize(docs, rows, "image_id long, content binary").withColumn(
        "format", sniff_format(F.col("content"))
    )


_IMGS_FORGET_ORACLE = """
    WITH ids AS (
      SELECT doc_id AS image_id, doc_id AS base, 0 AS edit, 0 AS is_ghost
      FROM documents WHERE doc_id % 10 <> 3
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 0, 0 FROM documents
      WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 1, 0 FROM documents
      WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id, doc_id, 0, 1 FROM documents WHERE doc_id % 10 = 3
    ),
    cells AS (
      SELECT i.image_id, i.is_ghost, g.r, g.c,
             ((('0x' || substr(md5('ifg:' || CAST(i.base AS VARCHAR) || ':'
                                  || g.r || ':' || g.c), 1, 1))::INT
               + CASE WHEN i.edit = 1 AND g.r = i.base % 8
                       AND g.c = (i.base // 8) % 8 THEN 1 ELSE 0 END)
              % 2) AS b
      FROM ids i,
           (SELECT r.r, c.c
            FROM (SELECT unnest(range(0, 8)) AS r) r,
                 (SELECT unnest(range(0, 8)) AS c) c) g
    ),
    hashes AS (
      SELECT b1.image_id, b1.is_ghost,
             CAST(sum(CASE WHEN b2.b = 1 AND b1.b = 0
                           THEN (1::BIGINT << (b1.r * 7 + b1.c))
                           ELSE 0 END) AS BIGINT) AS h
      FROM cells b1
      JOIN cells b2 ON b2.image_id = b1.image_id
                   AND b2.is_ghost = b1.is_ghost
                   AND b2.r = b1.r AND b2.c = b1.c + 1
      GROUP BY 1, 2
    )
    SELECT 'pairs' AS arm, a.image_id AS id_a, b.image_id AS id_b,
           CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
    FROM hashes a JOIN hashes b
      ON a.image_id < b.image_id AND a.is_ghost = 0 AND b.is_ghost = 0
     AND bit_count(xor(a.h, b.h)) <= 3
    UNION ALL
    SELECT 'ghost_probe', g.image_id, x.image_id,
           CAST(bit_count(xor(g.h, x.h)) AS BIGINT)
    FROM hashes g JOIN hashes x
      ON g.is_ghost = 1 AND x.is_ghost = 0
     AND bit_count(xor(g.h, x.h)) <= 3
    """


@query("imgs_phash_forget_probe", oracle=_IMGS_FORGET_ORACLE)
def imgs_phash_forget_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT-TO-BE-FORGOTTEN for the image dHash index — the image
    binding of the batch forget family (audio H-K table, video frame
    index, docs posting index, IVF cells all gained theirs in r14;
    the image operators forget_rows + shrink_simhash_block_df were
    unit-pinned equal to rebuild but had no oracle-gated probe).
    Build the (image_id, dhash) index and its bounded (i, val, df)
    block-stats over the full corpus (every doc; %10==3 docs have a
    pixel-identical re-encode AND a one-cell-edit copy), FORGET the
    %10==3 base images (one broadcast anti-join) and SHRINK the
    stats by the forgotten images' own block partials, then run two
    oracle-enforced arms with the SHRUNK stats on the guard path
    (cap 500 — the 2^14-space calibration, non-binding on this
    md5-uniform corpus exactly like the video twin):

    - 'pairs': the pigeonhole blocked join over the SURVIVING index —
      the forgotten base pairs with nothing, while its re-encode and
      edit copies still pair with each other at hamming <= 2;
    - 'ghost_probe': the forgotten images' own fingerprints probed
      back against the post-forget index (the re-ingest scenario) —
      they hit ONLY the surviving copies (hamming 0 / <= 2), never
      the forgotten id; one leftover index row would add a row the
      survivor-corpus oracle cannot have.

    One decode pass feeds the stats build, the forget split (semi +
    anti), both arms (one persist_slot rotation).
    Durability note as the twins: the same anti-join runs as
    ``ParquetAppendLog.compact(transform=...)``."""
    from dwh_spark.multimodal.perceptual import DHASH_BITS, dhash_frame
    from dwh_spark.operators.dedup import (
        simhash_block_df,
        simhash_blocked_pairs,
        simhash_blocked_probe,
    )
    from dwh_spark.operators.forget import forget_rows, shrink_simhash_block_df

    docs = doc_ids(spark, sf_dir)
    sh = persist_slot(
        "images.corpus",
        lambda: dhash_frame(
            _imgs_forget_fixture(docs, base=True, variants=True)
        ).select("image_id", F.col("dhash").alias("simhash")),
    )
    n_blocks = 4
    block_bits = DHASH_BITS // n_blocks
    stats = simhash_block_df(sh, n_blocks=n_blocks, block_bits=block_bits)
    fids = docs.filter(F.col("doc_id") % 10 == 3).select(
        F.col("doc_id").alias("image_id")
    )
    dead = sh.join(F.broadcast(fids), "image_id", "left_semi")
    kept = forget_rows(sh, fids, key="image_id")
    shrunk = shrink_simhash_block_df(
        stats, dead, n_blocks=n_blocks, block_bits=block_bits
    )
    pairs = simhash_blocked_pairs(
        kept,
        key="image_id",
        n_blocks=n_blocks,
        block_bits=block_bits,
        max_hamming=3,
        max_block_freq=500,
        block_df=shrunk,
    ).select(
        F.lit("pairs").alias("arm"),
        "id_a",
        "id_b",
        F.col("hamming").cast("long").alias("hamming"),
    )
    ghost = simhash_blocked_probe(
        kept,
        dead,
        key="image_id",
        n_blocks=n_blocks,
        block_bits=block_bits,
        max_hamming=3,
        max_block_freq=500,
        block_df=shrunk,
    ).select(
        F.lit("ghost_probe").alias("arm"),
        F.col("batch_id").alias("id_a"),
        F.col("index_id").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )
    return pairs.unionByName(ghost)
