"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The reference deduplicates binary content by md5 content hash
(`x/imgresizer/resizer.go:137-174`, `x/imgstorage/storage.go:37-61`);
a 100 TB training-data pipeline needs the near-duplicate family too.
All operators are pure DataFrame compositions (no Python UDFs) and
use md5-derived hashing so a DuckDB oracle can reproduce them
bit-for-bit.

Scale notes:
- exact dedup = hash groupBy: one shuffle on a 128-bit key, partial
  aggregation collapses duplicates map-side.
- n-gram Jaccard via inverted shingle index: the candidate join blows
  up quadratically in shingle frequency — correct at small scale,
  superseded by MinHash LSH at 100 TB (band-bucket join bounds the
  candidate set; false negatives only below the similarity threshold).
- MinHash here uses lexicographic-min md5(seed:shingle) as the hash
  family — engine-portable, deterministic, no RNG state to ship.
- SimHash blocks on the high 16 bits, so the hamming join only
  compares within blocks — single-permutation, misses pairs whose
  differing bits straddle the block boundary. The rotation-complete
  form is :func:`simhash_near_duplicates_rotated`: a 60-bit
  fingerprint cut into ``n_blocks`` disjoint blocks, one candidate
  table per block (each table IS one permutation with that block
  rotated to the front, Manku et al. WWW'07); by pigeonhole any pair
  at hamming ≤ n_blocks-1 matches exactly in at least one block.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dwh_spark.functions.text import shingles, word_hash32, words


def exact_duplicates(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """Groups of byte-identical texts (md5 + equality): one row per
    duplicated content hash with the canonical (min) key and count."""
    return (
        df.groupBy(F.md5(F.col(text)).alias("content_md5"))
        .agg(F.min(key).alias("canonical_id"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


def keep_canonical(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """Exact-dedup survivor set: for each byte-identical content group,
    keep only the canonical (min-key) row. The groupBy side collapses
    map-side to one row per distinct content hash, so the join build
    side is O(distinct contents); the probe side is never widened."""
    canon = df.groupBy(F.md5(F.col(text)).alias("__md5")).agg(
        F.min(key).alias(key)
    )
    return df.join(canon, on=key, how="left_semi")


def jaccard_pairs(
    df: DataFrame, text: str = "text", key: str = "doc_id", k: int = 3, threshold: float = 0.7
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs via inverted index.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    Set sizes ride along as array lengths (``n_sh``) instead of a
    separate groupBy — one fewer shuffle and no index recompute.
    """
    # Both join sides are the IDENTICAL subplan (aliases only differ
    # above the join), so Catalyst ReuseExchange computes the inverted
    # index — shingle extraction AND its shuffle — once, not twice.
    idx = df.select(F.col(key), shingles(F.col(text), k).alias("sh")).select(
        F.explode("sh").alias("shingle"),
        F.struct(F.col(key).alias("id"), F.size("sh").alias("n")).alias("node"),
    )
    a, b = idx.alias("a"), idx.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.node.id") < F.col("b.node.id")),
        )
        .groupBy(
            F.col("a.node.id").alias("id_a"), F.col("b.node.id").alias("id_b")
        )
        .agg(
            F.count("*").alias("n_common"),
            F.first(F.col("a.node.n")).alias("n_a"),
            F.first(F.col("b.node.n")).alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    k: int = 3,
    threshold: float = 0.9,
    min_common: int = 3,
    max_doc_freq: int | None = None,
    bucket: str | None = None,
) -> DataFrame:
    """Broder CONTAINMENT near-dups (Broder 1997, "On the resemblance
    and containment of documents"): c(A⊆B) = |S(A) ∩ S(B)| / |S(A)| —
    the ASYMMETRIC companion to Jaccard that catches a short document
    embedded in a long one, where the union-normalized Jaccard stays
    low and MinHash-LSH (which estimates Jaccard) misses the pair
    entirely. Pairs need ``min_common`` shared shingles (noise floor)
    and max(c_ab, c_ba) >= ``threshold``.

    Returns (id_a, id_b, cont_a_in_b, cont_b_in_a) with id_a < id_b.

    Scale: same inverted-index self-join as :func:`jaccard_pairs`
    (both sides the identical subplan — ReuseExchange computes the
    index once), keyed on ``xxhash64(shingle)`` 8-byte longs like
    :func:`jaccard_pairs_hashed` (same fixed-width-shuffle argument;
    distinct-set semantics preserved barring an in-corpus 64-bit
    collision), with the same frequency-quadratic caveat; containment
    has no LSH shortcut precisely BECAUSE minhash estimates the
    union-normalized measure, so the exact join on a pre-filtered
    candidate universe (e.g. same-source pairs) is the documented
    100 TB form.

    ``max_doc_freq`` is the stop-gram cap (prefix-filtering's
    standard boundedness trade): shingles appearing in more than
    ``max_doc_freq`` docs — boilerplate — are dropped from the JOIN,
    bounding the per-shingle pair blowup at max_doc_freq² instead of
    corpus². Pair sizes ``n_a``/``n_b`` still count ALL shingles, so
    a capped run UNDER-estimates containment for pairs whose overlap
    is mostly boilerplate — exactly the pairs a dedup pass should not
    fire on anyway. None (default) disables the cap; the oracle-gated
    query runs uncapped.

    ``bucket`` names a column of ``df`` that pre-filters the candidate
    universe to SAME-BUCKET pairs (e.g. the crawl source, a shard key,
    or a precomputed cluster id): the bucket value joins alongside the
    shingle hash, so cross-bucket pairs are pruned inside the join
    itself — the inverted-index blowup is bounded by the largest
    bucket, not the corpus. This is the composed 100 TB form the
    paragraph above names; recall is exactly the same-bucket subset of
    the uncapped pair set (cross-bucket containment is invisible by
    construction — pick the bucket to match where fragment dups
    actually occur, e.g. within a source).
    """
    cols = [F.col(key), shingles(F.col(text), k).alias("sh")]
    node_fields = [F.col(key).alias("id"), F.size("sh").alias("n")]
    if bucket is not None:
        cols.append(F.col(bucket))
    idx = df.select(*cols).select(
        F.explode("sh").alias("shingle"),
        F.struct(*node_fields).alias("node"),
        *([F.col(bucket).alias("bk")] if bucket is not None else []),
    ).select(
        F.xxhash64("shingle").alias("h"),
        "node",
        *(["bk"] if bucket is not None else []),
    )
    if max_doc_freq is not None:
        rare = (
            idx.groupBy("h")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select("h")
        )
        idx = idx.join(rare, "h")
    a, b = idx.alias("a"), idx.alias("b")
    cond = (F.col("a.h") == F.col("b.h")) & (F.col("a.node.id") < F.col("b.node.id"))
    if bucket is not None:
        cond = cond & (F.col("a.bk") == F.col("b.bk"))
    return (
        a.join(b, cond)
        .groupBy(
            F.col("a.node.id").alias("id_a"), F.col("b.node.id").alias("id_b")
        )
        .agg(
            F.count("*").alias("n_common"),
            F.first(F.col("a.node.n")).alias("n_a"),
            F.first(F.col("b.node.n")).alias("n_b"),
        )
        .filter(F.col("n_common") >= min_common)
        .withColumn(
            "cont_a_in_b",
            F.round(F.col("n_common").cast("double") / F.col("n_a").cast("double"), 6),
        )
        .withColumn(
            "cont_b_in_a",
            F.round(F.col("n_common").cast("double") / F.col("n_b").cast("double"), 6),
        )
        .filter(F.greatest("cont_a_in_b", "cont_b_in_a") >= threshold)
        .select("id_a", "id_b", "cont_a_in_b", "cont_b_in_a")
    )


def jaccard_pairs_hashed(
    df: DataFrame, text: str = "text", key: str = "doc_id", k: int = 3, threshold: float = 0.7
) -> DataFrame:
    """Exact n-gram Jaccard pairs joining on ``xxhash64(shingle)``
    instead of the shingle string.

    Same semantics as :func:`jaccard_pairs` (identical output barring a
    64-bit hash collision, which would require two distinct shingles
    colliding within one corpus): distinct-shingle sets are preserved
    because xxhash64 is injective in expectation at corpus scale.

    Scale: the self-join shuffle carries fixed 8-byte longs instead of
    variable-length shingle strings — for k=3 word-shingles that is
    ~3-6× less shuffle I/O, and the sort/hash join keys become
    fixed-width comparisons. This is the form to run at 100 TB; the
    string variant exists because the oracle can only re-derive string
    shingles.
    """
    idx = df.select(F.col(key), shingles(F.col(text), k).alias("sh")).select(
        F.explode("sh").alias("shingle"),
        F.struct(F.col(key).alias("id"), F.size("sh").alias("n")).alias("node"),
    ).select(F.xxhash64("shingle").alias("h"), "node")
    a, b = idx.alias("a"), idx.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h")) & (F.col("a.node.id") < F.col("b.node.id")),
        )
        .groupBy(F.col("a.node.id").alias("id_a"), F.col("b.node.id").alias("id_b"))
        .agg(
            F.count("*").alias("n_common"),
            F.first(F.col("a.node.n")).alias("n_a"),
            F.first(F.col("b.node.n")).alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# Double-hashing (Kirsch-Mitzenmacher) constants: the hash family is
# h_s = (h1 + s*h2') & MASK60 with h1/h2 the two 60-bit halves of ONE
# md5 — n_hashes minhash functions for the price of a single digest.
# h2 is reduced mod 2^58 so s*h2' never overflows signed 64-bit in
# either engine (DuckDB raises on BIGINT overflow).
_H2_MOD = 1 << 58
_MASK60 = (1 << 60) - 1


def minhash_signature_arrays(
    df: DataFrame, text: str = "text", key: str = "doc_id", k: int = 3, n_hashes: int = 16
) -> DataFrame:
    """(key, sigs) — sigs[s] = min over the doc's shingles of the s-th
    double-hash of the shingle digest. Docs with fewer than k words
    have no row.

    One shuffle total: the shingle index goes through a single
    groupBy(key) whose n_hashes ``min`` aggregates all partial-combine
    map-side. Per index row the cost is ONE md5 plus n_hashes long
    multiply-adds in codegen — NOT n_hashes digests, NOT a ×n row
    explosion. Signature computation at 100 TB is one map+combine pass.
    """
    digest = F.md5(F.col("shingle"))
    h1 = F.conv(F.substring(digest, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(digest, 17, 15), 16, 10).cast("long") % F.lit(_H2_MOD)
    idx = df.select(
        F.col(key), F.explode(shingles(F.col(text), k)).alias("shingle")
    ).select(F.col(key), h1.alias("__h1"), h2.alias("__h2"))
    mins = [
        F.min(
            (F.col("__h1") + F.lit(s) * F.col("__h2")).bitwiseAND(F.lit(_MASK60))
        ).alias(f"__m{s}")
        for s in range(n_hashes)
    ]
    return idx.groupBy(key).agg(*mins).select(
        F.col(key), F.array(*(F.col(f"__m{s}") for s in range(n_hashes))).alias("sigs")
    )


def _banded(
    df: DataFrame, text: str, key: str, k: int, n_hashes: int, bands: int
) -> DataFrame:
    """(key, band, band_key): band key = md5 of the band's minhashes
    joined in seed order — computed by slicing the signature array, no
    extra shuffle past the signature groupBy."""
    rows_per_band = n_hashes // bands
    sigs = minhash_signature_arrays(df, text, key, k, n_hashes)
    band_ix = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    return sigs.select(F.col(key), band_ix, "sigs").select(
        key, "band",
        F.md5(
            F.concat_ws(
                "|",
                F.transform(
                    F.slice("sigs", F.col("band") * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
            ).cast("binary")
        ).alias("band_key"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """MinHash-LSH candidate pairs: docs sharing ≥1 identical band.

    This is THE scale path for near-dup at 100 TB: candidates are
    bounded by bucket collisions, not by shingle frequency. The only
    shuffles are the signature groupBy and the bucket self-join on
    (band, band_key).
    """
    banded = _banded(df, text, key, k, n_hashes, bands)
    # identical subplans on both sides → Catalyst ReuseExchange computes
    # the signature pipeline once and reads the shuffle twice
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{key}") < F.col(f"b.{key}")),
        )
        .select(F.col(f"a.{key}").alias("id_a"), F.col(f"b.{key}").alias("id_b"))
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
) -> DataFrame:
    """Full MinHash-LSH pipeline: band-bucket candidates, then exact
    Jaccard verification of candidates only.

    Verification joins each candidate pair to the two docs' shingle
    ARRAYS and intersects them vectorized — O(candidates), not a third
    pass over the inverted index. The bucket self-join stays slim
    (ids + band key only); the wide arrays attach to the few surviving
    pairs afterwards via broadcast."""
    pairs = lsh_candidate_pairs(df, text, key, k, n_hashes, bands)
    arrays = df.select(F.col(key), shingles(F.col(text), k).alias("sh"))
    cands = pairs.join(
        F.broadcast(arrays.select(F.col(key).alias("id_a"), F.col("sh").alias("sh_a"))), "id_a"
    ).join(
        F.broadcast(arrays.select(F.col(key).alias("id_b"), F.col("sh").alias("sh_b"))), "id_b"
    )
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    union_n = F.size("sh_a") + F.size("sh_b") - n_common
    return (
        cands.withColumn("jaccard", F.round(n_common.cast("double") / union_n.cast("double"), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def band_index(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Public band-index builder — the STORED artifact of LSH dedup:
    (key, band, band_key) rows a production pipeline appends to per
    ingest batch and probes with :func:`minhash_incremental_near_dups`
    / the streaming ingest fold. Same banding as
    :func:`lsh_candidate_pairs` (it and this share ``_banded``)."""
    return _banded(df, text, key, k, n_hashes, bands)


def candidate_corpus_shingles(
    pairs: DataFrame,
    corpus: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Candidate-id pushdown for the ingest verify stage: attach
    corpus-side shingle arrays to the LSH candidate pairs WITHOUT
    shingling the whole corpus.

    ``pairs`` (small — O(batch × collisions) by construction) is
    BROADCAST against the corpus, so the corpus frame is scanned once
    projecting only (key, text) and never shuffled, and the shingle
    expression sits in the Project ABOVE the broadcast join — it is
    evaluated on the few matched candidate rows only. Before this
    helper, both ingest variants projected ``shingles(text)`` over the
    ENTIRE corpus per batch: an O(corpus) CPU cost per daily ingest at
    100 TB. Now the per-batch verify cost is O(candidates).
    ``tests/test_dedup_rotation.py`` pins the plan shape (no
    ``regexp_extract_all`` below the corpus-side join).

    Returns ``pairs``' columns plus ``sh_c``.
    """
    corpus_text = corpus.select(
        F.col(key).alias("corpus_id"), F.col(text).alias("_corpus_text")
    )
    return (
        corpus_text.join(F.broadcast(pairs), "corpus_id")
        .withColumn("sh_c", shingles(F.col("_corpus_text"), k))
        .drop("_corpus_text")
    )


def minhash_incremental_near_dups(
    corpus: DataFrame,
    new_docs: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
) -> DataFrame:
    """Ingest-time near-dup screen: which NEW docs are near-duplicates
    of the EXISTING corpus. The daily-batch shape of
    :func:`minhash_near_duplicates` — a production pipeline does not
    re-self-join the whole corpus per ingest.

    The corpus band index is the stored artifact of the initial dedup
    run (recomputed here from the corpus frame; in production it is a
    table keyed ``(band, band_key)`` that each ingest appends to). The
    new batch bands itself and equi-joins that index, so candidates
    are new-vs-corpus ONLY: no corpus self-join, no new-batch
    self-join — incremental cost is O(batch × collisions) regardless
    of corpus size. (Run the plain near-dup over the batch itself for
    within-batch dups.) Verification is the same exact-Jaccard pass,
    with the NEW side broadcast (a daily batch is small by
    construction) and the corpus shingles computed ONLY for candidate
    rows via :func:`candidate_corpus_shingles` — the corpus is neither
    broadcast, nor shuffled, nor corpus-wide shingled.

    Returns (new_id, corpus_id, jaccard) for verified pairs >=
    ``threshold``.
    """
    banded_corpus = _banded(corpus, text, key, k, n_hashes, bands)
    banded_new = _banded(new_docs, text, key, k, n_hashes, bands)
    # the banded BATCH is the explicitly-pinned broadcast side (a daily
    # batch is small by construction) so the stored corpus band index is
    # streamed, never shuffled — same pin as cell_probe /
    # candidate_corpus_shingles rather than trusting AQE's size pick
    pairs = (
        F.broadcast(banded_new).alias("n")
        .join(
            banded_corpus.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.band_key") == F.col("c.band_key")),
        )
        .select(
            F.col(f"n.{key}").alias("new_id"), F.col(f"c.{key}").alias("corpus_id")
        )
        .distinct()
    )
    arrays_new = new_docs.select(
        F.col(key).alias("new_id"), shingles(F.col(text), k).alias("sh_n")
    )
    cands = candidate_corpus_shingles(
        pairs.join(F.broadcast(arrays_new), "new_id"), corpus, text, key, k
    )
    n_common = F.size(F.array_intersect("sh_n", "sh_c"))
    union_n = F.size("sh_n") + F.size("sh_c") - n_common
    return (
        cands.withColumn(
            "jaccard", F.round(n_common.cast("double") / union_n.cast("double"), 6)
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


def containment_posting_index(
    corpus: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    k: int = 3,
    with_df: bool = False,
) -> DataFrame:
    """Build the stored shingle posting index that
    :func:`containment_incremental` probes: one row per (shingle,
    doc) posting — ``h`` = xxhash64(shingle), ``corpus_id``, ``n_c``
    (the doc's distinct-shingle count) — plus, when ``with_df``, the
    per-shingle document frequency ``df`` stored IN the index.

    ``df`` is what makes the stop-gram cap map-side at ingest time:
    the probe filters ``df <= cap`` on the stored column instead of
    aggregating the corpus-sized posting table per batch. Attaching it
    costs one hash aggregate + join here, at INDEX BUILD time — once per
    index version, amortized over every subsequent ingest. The column
    is append-maintainable: a new doc's postings only ever INCREMENT
    the df of the shingles it contains (df never shrinks under
    append), so production upkeep is a merge of per-batch (h, count)
    partials into the index's df — no corpus rescan there either.
    """
    postings = (
        corpus.select(
            F.col(key).alias("corpus_id"), shingles(F.col(text), k).alias("sh")
        )
        .select(
            F.explode("sh").alias("shingle"), "corpus_id", F.size("sh").alias("n_c")
        )
        .select(F.xxhash64("shingle").alias("h"), "corpus_id", "n_c")
    )
    if not with_df:
        return postings
    # groupBy + join, NOT a Window.partitionBy("h") count: the window
    # form has no map-side partial aggregation, so every posting of a
    # hot shingle funnels into one task — and the hottest keys are
    # exactly the stop-grams the df column exists to drop. The groupBy
    # combines map-side; the join back re-shuffles on h (build-time
    # cost, amortized per index version).
    freq = postings.groupBy("h").agg(F.count("*").alias("df"))
    return postings.join(freq, "h")


def containment_incremental(
    corpus: DataFrame,
    new_docs: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    k: int = 3,
    threshold: float = 0.9,
    min_common: int = 3,
    max_doc_freq: int | None = None,
    posting_index: DataFrame | None = None,
) -> DataFrame:
    """Ingest-time Broder containment screen: which NEW docs share a
    >= ``threshold`` containment (either direction) with an EXISTING
    corpus doc. The daily-batch shape of :func:`containment_pairs` —
    the screen that catches a short new doc embedded in a long stored
    one (or vice versa), the pair class the MinHash band probe misses
    by construction (it estimates union-normalized Jaccard).

    The corpus side is the stored shingle POSTING index
    (:func:`containment_posting_index`) — recomputed here from the
    corpus frame unless a prebuilt ``posting_index`` frame is passed;
    in production it is a table each ingest appends to, the exact
    analog of the band index in :func:`minhash_incremental_near_dups`.
    The batch explodes its own postings and is BROADCAST into the
    index, so the index is scanned once (streamed, never shuffled) and
    per-batch cost is O(batch_shingles + collisions) regardless of
    corpus size. The collision aggregate shuffles only matched
    (new_id, corpus_id) rows. ``max_doc_freq`` is the stop-gram cap:
    boilerplate shingles posted in more than that many corpus docs are
    dropped from the probe (bounding per-shingle fan-out; same
    under-estimate trade as :func:`containment_pairs`). The cap is a
    map-side ``df <= cap`` filter on the index's STORED df column —
    the df aggregate runs at index build time, never per batch, so
    enabling the cap adds no corpus-side shuffle to the probe
    (tests/test_dedup_rotation.py pins the capped probe plan over a
    prebuilt index to the uncapped plan's aggregate count).

    Returns (new_id, corpus_id, cont_new_in_corpus,
    cont_corpus_in_new) for pairs with >= ``min_common`` shared
    shingles and max(containment) >= ``threshold``.
    """
    if posting_index is not None:
        postings = posting_index
        if max_doc_freq is not None and "df" not in postings.columns:
            raise ValueError(
                "max_doc_freq needs a posting index built with "
                "with_df=True (stored df column)"
            )
    else:
        postings = containment_posting_index(
            corpus, text=text, key=key, k=k, with_df=max_doc_freq is not None
        )
    if max_doc_freq is not None:
        postings = postings.filter(F.col("df") <= max_doc_freq)
    if "df" in postings.columns:
        # drop either way: an UNCAPPED probe over a prebuilt with_df
        # index must not carry the unused df column through the
        # broadcast join and collision aggregate (ADVICE r12)
        postings = postings.drop("df")
    batch = (
        new_docs.select(F.col(key).alias("new_id"), shingles(F.col(text), k).alias("sh"))
        .select(F.explode("sh").alias("shingle"), "new_id", F.size("sh").alias("n_n"))
        .select(F.xxhash64("shingle").alias("h"), "new_id", "n_n")
    )
    return (
        postings.join(F.broadcast(batch), "h")
        .groupBy("new_id", "corpus_id")
        .agg(
            F.count("*").alias("n_common"),
            F.first("n_n").alias("n_n"),
            F.first("n_c").alias("n_c"),
        )
        .filter(F.col("n_common") >= min_common)
        .withColumn(
            "cont_new_in_corpus",
            F.round(F.col("n_common").cast("double") / F.col("n_n").cast("double"), 6),
        )
        .withColumn(
            "cont_corpus_in_new",
            F.round(F.col("n_common").cast("double") / F.col("n_c").cast("double"), 6),
        )
        .filter(F.greatest("cont_new_in_corpus", "cont_corpus_in_new") >= threshold)
        .select("new_id", "corpus_id", "cont_new_in_corpus", "cont_corpus_in_new")
    )


def corpus_ingest_triage(
    corpus_kept: DataFrame,
    new_docs: DataFrame,
    quality,
    text: str = "text",
    key: str = "doc_id",
    quality_threshold: float = 0.5,
    near_threshold: float = 0.7,
    detect_contained: bool = False,
    containment_threshold: float = 0.9,
) -> DataFrame:
    """Daily-delta triage against a standing corpus: route each new
    doc to the FIRST matching decision — 'low_quality' (score below
    threshold; pure codegen), 'exact_dup' (md5(text) already in the
    corpus hash index), 'near_dup' (the incremental MinHash band
    probe, :func:`minhash_incremental_near_dups`), 'contained' (the
    incremental Broder screen :func:`containment_incremental`, only
    when ``detect_contained``), else 'kept'. ``corpus_kept`` is the
    quality-filtered standing corpus; its exact-canon survivors feed
    the near-dup and containment probes. ``quality`` is a
    Column-builder (text column -> score).

    Probes run cheapest-first over SHRINKING inputs: quality is pure
    codegen over the batch; the exact-dup probe sees only
    quality-passers; the near-dup and containment probes see only
    quality-passing non-exact-dups — a rejected doc never reaches a
    shuffle, and each arm's broadcast side shrinks with the prior
    rejections. (Decision PRIORITY is unchanged: a doc matching two
    arms still routes to the first; gating only removes probe work
    whose outcome the CASE would ignore.)

    The exact-dup probe never puts the corpus on a build side: the
    BATCH hash set is broadcast INTO the corpus-sized stored index
    (inner join, build = batch), and the resulting ``found`` set —
    <= batch rows by construction — is broadcast back onto the batch.
    The stored index is streamed exactly like the band/posting
    indexes; at 100 TB no probe shuffles or broadcasts the corpus.

    Returns ``new_docs``' rows plus a ``decision`` column. Per-batch
    cost is O(batch + collisions), never a corpus rescan.
    """
    canon = keep_canonical(corpus_kept, text=text, key=key)
    # the stored hash index, scanned as-is: de-dup happens AFTER the
    # probe on the <= batch-sized `found` set, so the corpus side needs
    # no distinct-shuffle even when recomputed from the corpus frame
    hash_index = corpus_kept.select(F.md5(text).alias("__h"))
    scored = new_docs.withColumn("__q", quality(F.col(text)))
    qual_ok = scored.filter(F.col("__q") >= quality_threshold)
    batch_hashes = qual_ok.select(F.md5(F.col(text)).alias("__h")).distinct()
    found = (
        hash_index.join(F.broadcast(batch_hashes), "__h")
        .select("__h")
        .distinct()
        .withColumn("__exact", F.lit(True))
    )
    survivors = qual_ok.join(
        F.broadcast(found), F.md5(F.col(text)) == F.col("__h"), "left_anti"
    )
    near = (
        minhash_incremental_near_dups(
            canon, survivors, text=text, key=key, threshold=near_threshold
        )
        .select(F.col("new_id").alias(key))
        .distinct()
        .withColumn("__near", F.lit(True))
    )
    out = (
        scored.join(F.broadcast(found), F.md5(F.col(text)) == F.col("__h"), "left")
        .join(near, key, "left")
    )
    decision = (
        F.when(F.col("__q") < quality_threshold, F.lit("low_quality"))
        .when(F.col("__exact"), F.lit("exact_dup"))
        .when(F.col("__near"), F.lit("near_dup"))
    )
    drop = ["__q", "__h", "__exact", "__near"]
    if detect_contained:
        contained = (
            containment_incremental(
                canon, survivors, text=text, key=key, threshold=containment_threshold
            )
            .select(F.col("new_id").alias(key))
            .distinct()
            .withColumn("__contained", F.lit(True))
        )
        out = out.join(contained, key, "left")
        decision = decision.when(F.col("__contained"), F.lit("contained"))
        drop.append("__contained")
    return out.withColumn("decision", decision.otherwise(F.lit("kept"))).drop(*drop)


def simhash(df: DataFrame, text: str = "text", key: str = "doc_id", bits: int = 32) -> DataFrame:
    """32-bit SimHash over distinct words (md5-derived bit weights)."""
    toks = df.select(key, F.explode(F.array_distinct(words(F.col(text)))).alias("word"))
    hashed = toks.withColumn("h", word_hash32(F.col("word")))
    expanded = hashed.select(
        key, "h", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("j")
    )
    # shiftright/shiftleft take only literal amounts in the Python API;
    # the SQL forms accept a column shift
    weighted = expanded.withColumn(
        "w", F.when(F.expr("shiftright(h, j)").bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
    )
    return (
        weighted.groupBy(key, "j")
        .agg(F.sum("w").alias("wsum"))
        .groupBy(key)
        .agg(
            F.sum(
                F.when(F.col("wsum") > 0, F.expr("shiftleft(cast(1 as bigint), j)")).otherwise(0)
            ).alias("simhash")
        )
    )


def simhash_near_duplicates(
    df: DataFrame, text: str = "text", key: str = "doc_id", max_hamming: int = 4
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on the high
    16 bits so the join never goes quadratic in the table size.

    Single-permutation: pairs whose differing bits straddle the block
    boundary are missed; :func:`simhash_near_duplicates_rotated` is the
    recall-complete variant."""
    sh = simhash(df, text, key)
    blocked = sh.withColumn("block", F.shiftright(F.col("simhash"), 16))
    a = blocked.select(F.col(key).alias("id_a"), F.col("simhash").alias("sh_a"), "block")
    b = blocked.select(F.col(key).alias("id_b"), F.col("simhash").alias("sh_b"), "block")
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash60(df: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
    """60-bit SimHash over distinct words: bit weights from the first
    15 hex chars of md5(word) — engine-portable like every hash here,
    and wide enough that 15-bit blocks still have 32k bucket values
    (the 32-bit fingerprint's 4-block cut would leave 256)."""
    toks = df.select(key, F.explode(F.array_distinct(words(F.col(text)))).alias("word"))
    hashed = toks.withColumn(
        "h", F.conv(F.substring(F.md5(F.col("word")), 1, 15), 16, 10).cast("long")
    )
    expanded = hashed.select(
        key, "h", F.explode(F.sequence(F.lit(0), F.lit(59))).alias("j")
    )
    weighted = expanded.withColumn(
        "w", F.when(F.expr("shiftright(h, j)").bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
    )
    return (
        weighted.groupBy(key, "j")
        .agg(F.sum("w").alias("wsum"))
        .groupBy(key)
        .agg(
            F.sum(
                F.when(F.col("wsum") > 0, F.expr("shiftleft(cast(1 as bigint), j)")).otherwise(0)
            ).alias("simhash")
        )
    )


def simhash_block_df(
    sh: DataFrame, n_blocks: int = 4, block_bits: int = 15
) -> DataFrame:
    """Per-(block, value) posting counts over a (key, simhash) frame —
    the stored hot-block artifact for the blocked fingerprint joins
    (:func:`simhash_blocked_pairs` / :func:`simhash_blocked_probe`):
    real fingerprints are not uniform over the 2^block_bits value
    space (a flat image / silent clip hashes to 0, so (i, 0) is hot
    in every block corpus-wide — the same degenerate-value class the
    offset family guards against). At most n_blocks × 2^block_bits
    rows — always broadcastable — and append-maintainable (a new
    item's blocks only ever INCREMENT the df of the values they
    emit). Built once at index build time, consumed by the
    ``max_block_freq`` cap. Returns (i, val, df)."""
    mask = (1 << block_bits) - 1
    return (
        sh.select(
            "simhash",
            F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("i"),
        )
        .select(
            "i",
            F.expr(f"shiftright(simhash, i * {block_bits})")
            .bitwiseAND(F.lit(mask))
            .alias("val"),
        )
        .groupBy("i", "val")
        .agg(F.count("*").alias("df"))
    )


def _simhash_hot_blocks(
    block_df: DataFrame | None, max_block_freq: int | None, caller: str
):
    """The tiny over-cap (i, val) set (<= corpus_blocks/cap rows by
    construction). Loud ValueError when a cap is requested without
    the stored stats — the df aggregate belongs at index build time,
    never per probe."""
    if max_block_freq is None:
        return None
    if block_df is None:
        raise ValueError(
            f"{caller}: max_block_freq needs the stored block stats "
            "table (simhash_block_df) — the df aggregate runs at "
            "index build time, never per probe"
        )
    return block_df.filter(F.col("df") > max_block_freq).select("i", "val")


def simhash_blocked_pairs(
    sh: DataFrame,
    key: str = "doc_id",
    n_blocks: int = 4,
    block_bits: int = 15,
    max_hamming: int = 3,
    max_block_freq: int | None = None,
    block_df: DataFrame | None = None,
) -> DataFrame:
    """Permute-and-reblock candidate join over a (key, simhash) frame.

    The fingerprint is cut into ``n_blocks`` disjoint ``block_bits``
    slices; each block index is one permutation of the bits with that
    block rotated to the front, and candidates equi-join on
    (block index, block value). Pigeonhole: a pair at hamming ≤
    n_blocks-1 has fewer differing bits than blocks, so at least one
    block matches exactly — full recall up to that distance, including
    pairs whose differing bits straddle every single-cut boundary.

    Scale: ×n_blocks row fan-out on the slim (key, fingerprint) frame,
    one equi-join shuffle on the block key; never all-pairs. Bucket
    population is n/2^block_bits per value ON UNIFORM fingerprints —
    degenerate content breaks uniformity (flat images / silent clips
    hash to 0), so ``max_block_freq`` caps hot values via the STORED
    stats table ``block_df`` (:func:`simhash_block_df`; computed here
    from the frame if omitted — one bounded aggregate, acceptable in
    the corpus-wide self-join form): the tiny over-cap set is
    broadcast LEFT-ANTI-joined off one side before the match join, so
    a pair then needs at least one NON-hot shared block (the stated
    cap trade on pigeonhole recall; the quality-gated corpus builds
    remove degenerate items earlier and need no cap).
    """
    if max_hamming >= n_blocks:
        raise ValueError(
            f"pigeonhole guarantee needs n_blocks > max_hamming "
            f"(got {n_blocks} blocks for hamming {max_hamming})"
        )
    if max_block_freq is not None and block_df is None:
        block_df = simhash_block_df(sh, n_blocks=n_blocks, block_bits=block_bits)
    hot = _simhash_hot_blocks(block_df, max_block_freq, "simhash_blocked_pairs")
    mask = (1 << block_bits) - 1
    blk = sh.select(
        F.col(key),
        F.col("simhash"),
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("i"),
    ).withColumn(
        "val",
        F.expr(f"shiftright(simhash, i * {block_bits})").bitwiseAND(F.lit(mask)),
    )
    a = blk.select(F.col(key).alias("id_a"), F.col("simhash").alias("sh_a"), "i", "val")
    if hot is not None:
        a = a.join(F.broadcast(hot), ["i", "val"], "left_anti")
    b = blk.select(F.col(key).alias("id_b"), F.col("simhash").alias("sh_b"), "i", "val")
    return (
        a.join(b, ["i", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_blocked_probe(
    index_sh: DataFrame,
    batch_sh: DataFrame,
    key: str = "doc_id",
    n_blocks: int = 4,
    block_bits: int = 15,
    max_hamming: int = 3,
    max_block_freq: int | None = None,
    block_df: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric permute-and-reblock probe: every (batch, index) pair
    at hamming ≤ ``max_hamming`` between a STORED fingerprint index and
    a small new batch — the ingest-time twin of
    :func:`simhash_blocked_pairs`, same pigeonhole recall guarantee
    (n_blocks > max_hamming ⇒ at least one block matches exactly).

    Scale shape follows the incremental-probe discipline every other
    ingest arm here uses (band probe, cell probe, hash probe): the
    batch's exploded blocks are BROADCAST into the index's exploded
    blocks, so the corpus-sized index is scanned once — never shuffled,
    never self-joined — and per-batch cost is O(index blocks scanned +
    bucket collisions), independent of corpus pair count — ON UNIFORM
    fingerprints: degenerate content (flat images, silent clips)
    hashes to 0 and makes (i, 0) corpus-hot, so ``max_block_freq``
    caps hot values via the STORED stats table ``block_df``
    (:func:`simhash_block_df`, built at index build time; loud
    ValueError if the cap is requested without it — the df aggregate
    never runs per batch): the tiny over-cap set is broadcast
    LEFT-ANTI-joined off the streamed index side, zero added shuffles.
    Returns (batch_id, index_id, hamming); self-pairs are kept if a
    key appears on both sides (callers filter).
    """
    if max_hamming >= n_blocks:
        raise ValueError(
            f"pigeonhole guarantee needs n_blocks > max_hamming "
            f"(got {n_blocks} blocks for hamming {max_hamming})"
        )
    hot = _simhash_hot_blocks(block_df, max_block_freq, "simhash_blocked_probe")
    mask = (1 << block_bits) - 1
    blocks = F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("i")
    val = F.expr(f"shiftright(simhash, i * {block_bits})").bitwiseAND(F.lit(mask))
    idx = (
        index_sh.select(F.col(key).alias("index_id"), "simhash", blocks)
        .select("index_id", F.col("simhash").alias("sh_i"), "i", val.alias("val"))
    )
    if hot is not None:
        idx = idx.join(F.broadcast(hot), ["i", "val"], "left_anti")
    bat = (
        batch_sh.select(F.col(key).alias("batch_id"), "simhash", blocks)
        .select("batch_id", F.col("simhash").alias("sh_b"), "i", val.alias("val"))
    )
    return (
        idx.join(F.broadcast(bat), ["i", "val"])
        .select("batch_id", "index_id", "sh_b", "sh_i")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_b").bitwiseXOR(F.col("sh_i"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("batch_id", "index_id", "hamming")
    )


def simhash_near_duplicates_rotated(
    df: DataFrame,
    text: str = "text",
    key: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int = 4,
) -> DataFrame:
    """Rotation-complete SimHash near-dup pairs: 60-bit fingerprint,
    one candidate table per 15-bit block (Manku et al. WWW'07 scheme),
    guaranteed to find every pair at hamming ≤ n_blocks-1."""
    return simhash_blocked_pairs(
        simhash60(df, text, key), key, n_blocks, 15, max_hamming
    )
