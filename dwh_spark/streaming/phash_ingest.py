"""Streaming PERCEPTUAL near-dup ingest — fingerprint indexes as
accumulating stream state, ONE fold shared by every modality binding.

The sibling of ``streaming/docs_ingest.py`` (MinHash bands) and
``streaming/emb_ingest.py`` (IVF cells), completing the ladder for the
perceptual dedup families: media batches arrive in key order; each
batch is decoded ONCE (Arrow mapInPandas → a fingerprint frame), flags
within-batch earlier mates off its own frame, probes the STORED index
for cross-batch re-encodes/resizes/gain-changes/trims (batch side
BROADCAST into the index), then appends its O(batch) fingerprint rows
under the high-water replay guard. Id-ordered batches make "stored
index ∪ smaller-id batch mates" exactly "all earlier items", so the
drained output equals the batch earlier-partners oracle — stream/batch
parity, the repo-wide streaming claim.

ALL bindings run through :func:`_run_indexed_ingest` — the crash
semantics, replay guard, versioned-output-then-append commit ordering,
and index discipline are written (and tested) ONCE; a binding supplies
only its fingerprint function and its within/cross partner probes:

- image / audio whole-clip  (56-bit hash, pigeonhole blocked probe)
- video ALIGNED             (per-frame index, temporally-aligned vote)
- audio OFFSET              (H-K subfingerprint lookup table)
- video OFFSET              (per-frame index, relative-offset vote)

Crash semantics (identical everywhere): per-batch results land in a
VERSIONED output dir (``out/batch=<id>``, overwrite) BEFORE the index
append commits; the append is the completion marker.

At 100 TB the fingerprint index is 16 bytes/item (12 B/position for
the audio lookup table, 16 B/frame for video) — a billion items is
~16 GB, scanned once per ingest batch and never shuffled; the decode
cost lives entirely on the new batch. Reference parity:
x/imgresizer/resizer.go:137-174 asks the blob store "exists?" per
item — this is the same skip-if-seen discipline with a perceptual key
instead of a byte hash.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dwh_spark.multimodal.audio_fp import AUDIO_FP_BITS, audio_fp_frame
from dwh_spark.multimodal.perceptual import DHASH_BITS, dhash_frame
from dwh_spark.operators.dedup import simhash_blocked_pairs, simhash_blocked_probe
from dwh_spark.session import run_parallel
from dwh_spark.streaming.ingest import ParquetAppendLog, _read_store_parquet


def _run_indexed_ingest(
    stream: DataFrame,
    index_store: ParquetAppendLog,
    out_dir: str,
    checkpoint_dir: str,
    fp_fn: Callable[[DataFrame], DataFrame],
    within_fn: Callable[[DataFrame], DataFrame],
    cross_fn: Callable[[DataFrame, DataFrame], DataFrame],
    id_col: str,
    out_count_col: str,
    maintenance=None,
) -> None:
    """THE fold: drain an id-ordered media stream, flagging each
    item's earlier perceptual near-dup partners.

    ``fp_fn`` maps the raw batch frame to the fingerprint frame that
    is both probed and appended (the stored artifact's schema).
    ``within_fn(batch_fps)`` and ``cross_fn(prior_index, batch_fps)``
    each return ONE ROW PER (item, earlier-partner) with the item's id
    in ``id_col`` — the fold unions them and counts partners. The
    within arm should use the pairs-form (earlier < later INSIDE the
    join) so the self-join never carries both pair directions or the
    self-pair groups through its vote; the cross arm must BROADCAST
    the batch side into the streamed index."""
    spark = stream.sparkSession

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        # high-water replay guard (index append commits LAST = marker)
        lc = index_store.last_committed()
        if lc is not None and batch_id <= lc:
            return
        # one decode pass feeds three consumers (within-batch pairs,
        # the index probe, the store append): persist the slim
        # fingerprint frame, never the media bytes. The decode is the
        # fold's dominant map-side cost and a one-file micro-batch
        # arrives as one partition — spread it first (ingest.py:
        # spread_small_batch) so the Arrow pass uses every core.
        from dwh_spark.streaming.ingest import spread_small_batch

        batch_fps = fp_fn(spread_small_batch(batch_df)).persist()
        flagged = within_fn(batch_fps)
        prior = index_store.current(spark)
        if prior is not None:
            flagged = flagged.unionByName(cross_fn(prior, batch_fps))

        # the per-batch result write and the O(batch) segment write are
        # independent jobs over the same persisted fingerprint frame —
        # overlap them (the marketplace fold's write_snapshot/flip
        # split applied to the append log); the manifest commit, which
        # is both the append's publish point and the fold's completion
        # marker, still lands STRICTLY LAST, so the crash/replay
        # contract is unchanged (either unpublished artifact is
        # rewritten idempotently by the replay)
        def _write_out() -> None:
            flagged.groupBy(id_col).agg(
                F.count("*").alias(out_count_col)
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch={batch_id}")
            )

        run_parallel(
            spark, [_write_out, lambda: index_store.write_segment(batch_fps, batch_id)]
        )
        # append-only: O(batch) fingerprint rows, history never
        # rewritten; the manifest swap is the completion marker
        index_store.commit_segment(batch_id)
        batch_fps.unpersist()
        if maintenance is not None:
            maintenance(batch_id)

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _read_results(spark: SparkSession, out_dir: str, cols: list[str]) -> DataFrame:
    """All drained per-batch result rows across ``out/batch=*``."""
    return spark.read.option("basePath", out_dir).parquet(
        os.path.join(out_dir, "batch=*")
    ).select(*cols)


def run_fingerprint_ingest(
    stream: DataFrame,
    fp_fn: Callable[[DataFrame], DataFrame],
    index_store: ParquetAppendLog,
    out_dir: str,
    checkpoint_dir: str,
    key: str,
    fp_col: str,
    out_count_col: str,
    fp_bits: int = 56,
    max_hamming: int = 3,
    n_blocks: int = 4,
    min_fp_bits: int | None = None,
    maintenance=None,
) -> None:
    """Whole-item fingerprint binding (one 56-bit hash per item —
    image dHash or audio energy hash): within-batch mates via the
    pigeonhole blocked self-join, cross-batch via the blocked probe
    with the batch's blocks broadcast. ``min_fp_bits`` is the
    STREAMING form of the hot-block guard for this binding:
    degenerate items (flat images, silent/constant clips) hash to 0
    and make every (block, 0) bucket corpus-hot; items with fewer
    than ``min_fp_bits`` set bits are dropped map-side BEFORE the
    fold's three consumers — no stored statistics (the df-cap,
    operators/dedup.py:simhash_block_df + max_block_freq, stays the
    batch/ingest form). The filter wraps ``fp_fn`` itself, so the
    degenerate rows never reach ANY of the fold's three consumers —
    the stored index stays free of them (smaller state), same
    discipline as the offset folds."""
    block_bits = fp_bits // n_blocks

    if min_fp_bits is not None:
        inner_fp_fn = fp_fn

        def fp_fn(df: DataFrame) -> DataFrame:  # noqa: F811
            return inner_fp_fn(df).filter(
                F.bit_count(F.col(fp_col)) >= min_fp_bits
            )

    def as_sh(fps: DataFrame) -> DataFrame:
        return fps.select(F.col(key).alias("doc_id"), F.col(fp_col).alias("simhash"))

    def within(batch_fps: DataFrame) -> DataFrame:
        return simhash_blocked_pairs(
            as_sh(batch_fps), key="doc_id", n_blocks=n_blocks,
            block_bits=block_bits, max_hamming=max_hamming,
        ).select(F.col("id_b").alias(key))

    def cross(prior: DataFrame, batch_fps: DataFrame) -> DataFrame:
        return simhash_blocked_probe(
            as_sh(prior), as_sh(batch_fps), key="doc_id",
            n_blocks=n_blocks, block_bits=block_bits, max_hamming=max_hamming,
        ).select(F.col("batch_id").alias(key))

    _run_indexed_ingest(
        stream, index_store, out_dir, checkpoint_dir,
        fp_fn, within, cross, key, out_count_col, maintenance,
    )


def run_phash_ingest(
    stream: DataFrame,
    index_store: ParquetAppendLog,
    out_dir: str,
    checkpoint_dir: str,
    max_hamming: int = 3,
    n_blocks: int = 4,
    maintenance=None,
) -> None:
    """Image binding: (image_id, format, content) stream → dHash index
    + per-batch (image_id, n_earlier_pdups) results."""
    run_fingerprint_ingest(
        stream,
        dhash_frame,
        index_store,
        out_dir,
        checkpoint_dir,
        key="image_id",
        fp_col="dhash",
        out_count_col="n_earlier_pdups",
        fp_bits=DHASH_BITS,
        max_hamming=max_hamming,
        n_blocks=n_blocks,
        maintenance=maintenance,
    )


def read_phash_ingest_results(spark: SparkSession, out_dir: str) -> DataFrame:
    """All drained (image_id, n_earlier_pdups) rows across batches."""
    return _read_results(spark, out_dir, ["image_id", "n_earlier_pdups"])


def run_audio_fp_ingest(
    stream: DataFrame,
    index_store: ParquetAppendLog,
    out_dir: str,
    checkpoint_dir: str,
    max_hamming: int = 3,
    n_blocks: int = 4,
    maintenance=None,
) -> None:
    """Audio binding: (audio_id, content) WAV stream → energy-hash
    index + per-batch (audio_id, n_earlier_adups) results."""
    run_fingerprint_ingest(
        stream,
        audio_fp_frame,
        index_store,
        out_dir,
        checkpoint_dir,
        key="audio_id",
        fp_col="afp",
        out_count_col="n_earlier_adups",
        fp_bits=AUDIO_FP_BITS,
        max_hamming=max_hamming,
        n_blocks=n_blocks,
        maintenance=maintenance,
    )


def read_audio_fp_ingest_results(spark: SparkSession, out_dir: str) -> DataFrame:
    """All drained (audio_id, n_earlier_adups) rows across batches."""
    return _read_results(spark, out_dir, ["audio_id", "n_earlier_adups"])


def run_video_phash_ingest(
    stream: DataFrame,
    index_store: ParquetAppendLog,
    out_dir: str,
    checkpoint_dir: str,
    max_hamming: int = 3,
    n_blocks: int = 4,
    min_frames: int = 3,
    maintenance=None,
) -> None:
    """Video binding with temporally-ALIGNED per-frame VOTING (a video
    pairs when >= ``min_frames`` same-index frames match): the index
    store accumulates (video_id, frame_ix, dhash) rows — 16 bytes per
    frame; each batch decodes only itself (one Arrow pass, blobs never
    exploded), votes within-batch via the pairs-form aligned self-join
    (earlier < later inside the join), probes the stored per-frame
    index with its blocks broadcast
    (multimodal/perceptual.py:video_frame_vote_probe). Output per
    batch: (video_id, n_earlier_vdups)."""
    from dwh_spark.multimodal.perceptual import (
        _blocked_frame_matches,
        video_dhash_frames,
        video_frame_vote_probe,
    )

    def within(batch_frames: DataFrame) -> DataFrame:
        return (
            _blocked_frame_matches(
                batch_frames, batch_frames, "id_a", "id_b",
                align_frames=True, broadcast_b=False, lt_filter=True,
                max_hamming=max_hamming, n_blocks=n_blocks,
            )
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") >= min_frames)
            .select(F.col("id_b").alias("video_id"))
        )

    def cross(prior: DataFrame, batch_frames: DataFrame) -> DataFrame:
        return video_frame_vote_probe(
            prior, batch_frames,
            max_hamming=max_hamming, n_blocks=n_blocks, min_frames=min_frames,
        ).select(F.col("batch_id").alias("video_id"))

    _run_indexed_ingest(
        stream, index_store, out_dir, checkpoint_dir,
        video_dhash_frames, within, cross, "video_id", "n_earlier_vdups",
        maintenance,
    )


def read_video_phash_ingest_results(spark: SparkSession, out_dir: str) -> DataFrame:
    """All drained (video_id, n_earlier_vdups) rows across batches."""
    return _read_results(spark, out_dir, ["video_id", "n_earlier_vdups"])


def run_audio_offset_ingest(
    stream: DataFrame,
    index_store: ParquetAppendLog,
    out_dir: str,
    checkpoint_dir: str,
    min_matches: int = 5,
    min_word_transitions: int | None = None,
    maintenance=None,
) -> None:
    """OFFSET-TOLERANT audio binding: the stored state is the
    Haitsma-Kalker subfingerprint LOOKUP TABLE ((audio_id, pos, sub32)
    — ~12 bytes/position, the audio analog of the per-frame video
    index), so the stream catches TRIMMED/time-shifted earlier copies
    the whole-clip hash misses by construction. Within-batch partners
    come from the pairs-form offset vote (earlier < later inside the
    join); the cross probe broadcasts the batch's words into the
    stored table (multimodal/audio_fp.py:audio_offset_vote_probe).
    Output per batch: (audio_id, n_earlier_odups) — distinct earlier
    partners with >= ``min_matches`` word matches at one consistent
    offset. ``min_word_transitions`` enables the STREAMING form of
    the hot-word guard (VERDICT r12 #2): the batch/ingest df-cap
    needs a stored, compacted df column that an append-only stream
    state cannot keep fresh without per-batch corpus aggregates, so
    the stream drops structurally degenerate words instead —
    H-K's low-entropy skip as a stateless map-side filter applied
    BEFORE the fold's three consumers, so silence-born ``sub32 = 0``
    rows never enter the stored table, the within-batch self-join,
    or the probe (multimodal/audio_fp.py:drop_low_entropy_words)."""
    from dwh_spark.multimodal.audio_fp import (
        audio_offset_pairs_from_subfps,
        audio_offset_vote_probe,
        audio_subfingerprint_frame,
        drop_low_entropy_words,
    )

    if min_word_transitions is None:
        fp_fn = audio_subfingerprint_frame
    else:
        def fp_fn(df: DataFrame) -> DataFrame:
            return drop_low_entropy_words(
                audio_subfingerprint_frame(df), min_word_transitions
            )

    def within(batch_subfps: DataFrame) -> DataFrame:
        # a pair can qualify at more than one offset — count PARTNERS
        return (
            audio_offset_pairs_from_subfps(batch_subfps, min_matches=min_matches)
            .select("id_a", "id_b")
            .distinct()
            .select(F.col("id_b").alias("audio_id"))
        )

    def cross(prior: DataFrame, batch_subfps: DataFrame) -> DataFrame:
        return (
            audio_offset_vote_probe(prior, batch_subfps, min_matches=min_matches)
            .select("batch_id", "index_id")
            .distinct()
            .select(F.col("batch_id").alias("audio_id"))
        )

    _run_indexed_ingest(
        stream, index_store, out_dir, checkpoint_dir,
        fp_fn, within, cross,
        "audio_id", "n_earlier_odups", maintenance,
    )


def read_audio_offset_ingest_results(spark: SparkSession, out_dir: str) -> DataFrame:
    """All drained (audio_id, n_earlier_odups) rows across batches."""
    return _read_results(spark, out_dir, ["audio_id", "n_earlier_odups"])


def run_video_offset_ingest(
    stream: DataFrame,
    index_store: ParquetAppendLog,
    out_dir: str,
    checkpoint_dir: str,
    max_hamming: int = 3,
    n_blocks: int = 4,
    min_frames: int = 3,
    min_frame_bits: int | None = None,
    maintenance=None,
) -> None:
    """OFFSET-TOLERANT video binding — the aligned video fold with the
    relative-offset vote substituted
    (multimodal/perceptual.py:video_offset_vote_probe), so the stream
    flags earlier HEAD-DROPPED / time-shifted copies the aligned fold
    misses by construction. Same index store (per-frame 16-byte rows),
    same decode-once/broadcast-probe discipline. Output per batch:
    (video_id, n_earlier_ovdups) — distinct earlier partners with >=
    ``min_frames`` frame matches at one consistent offset.
    ``min_frame_bits`` enables the STREAMING form of the hot-block
    guard: black/flat frames (dhash popcount near 0) are dropped
    map-side before the fold's three consumers — the stored per-frame
    index never holds them and the dhash=0 bucket never forms
    (multimodal/perceptual.py:drop_low_detail_frames; the stored
    df-cap stays the batch/ingest form)."""
    from dwh_spark.multimodal.perceptual import (
        drop_low_detail_frames,
        video_dhash_frames,
        video_offset_partner_votes,
        video_offset_vote_probe,
    )

    if min_frame_bits is None:
        fp_fn = video_dhash_frames
    else:
        def fp_fn(df: DataFrame) -> DataFrame:
            return drop_low_detail_frames(video_dhash_frames(df), min_frame_bits)

    def within(batch_frames: DataFrame) -> DataFrame:
        return video_offset_partner_votes(
            batch_frames,
            max_hamming=max_hamming, n_blocks=n_blocks, min_frames=min_frames,
        ).select(F.col("id_b").alias("video_id"))

    def cross(prior: DataFrame, batch_frames: DataFrame) -> DataFrame:
        # a pair can qualify at more than one offset — count PARTNERS
        return (
            video_offset_vote_probe(
                prior, batch_frames,
                max_hamming=max_hamming, n_blocks=n_blocks,
                min_frames=min_frames,
            )
            .select("batch_id", "index_id")
            .distinct()
            .select(F.col("batch_id").alias("video_id"))
        )

    _run_indexed_ingest(
        stream, index_store, out_dir, checkpoint_dir,
        fp_fn, within, cross, "video_id", "n_earlier_ovdups",
        maintenance,
    )


def read_video_offset_ingest_results(spark: SparkSession, out_dir: str) -> DataFrame:
    """All drained (video_id, n_earlier_ovdups) rows across batches."""
    return _read_results(spark, out_dir, ["video_id", "n_earlier_ovdups"])


class WordDfCapMaintenance:
    """The STREAMING form of the df-cap, composed with the fold via
    the compaction seam (VERDICT r13 next #4): the stateless entropy
    guard cannot catch a corpus-hot but HIGH-ENTROPY word (a shared
    jingle / title card — structurally indistinguishable from
    content), and an append-only stream state cannot keep a stored df
    column fresh without per-batch corpus aggregates. This class
    keeps the per-word df as its OWN tiny append log of per-batch
    (sub32, df) partials — the ``append_with_df`` merge discipline,
    never a corpus rescan:

    - :meth:`record` (after each index append): one groupBy over the
      just-appended O(batch) segment, appended to the stats log under
      the same batch id.
    - :meth:`hot_words` (at each batch start): merge the partials
      (sum over the stats log — input is per-batch aggregates, not
      postings) and keep words with accumulated df > cap. The fold
      anti-joins this BROADCAST set off the batch's rows BEFORE its
      three consumers, so from the first batch AFTER a word crosses
      the cap it stops matching, stops indexing, and stops growing.
    - :meth:`compact` (every ``compact_every`` batches): rewrite the
      index minus the hot words (``ParquetAppendLog.compact`` with
      the anti-join transform — the history-rewrite point) and
      re-aggregate the stats log. Correctness does NOT depend on the
      cadence — the per-batch hot filter already keeps hot words out
      of every probe/append — compaction only shrinks stored state,
      so its O(state) rewrite can be amortized as slowly as wanted.

    Semantics, stated: a hot word's df FREEZES once it stops being
    indexed (over the cap is over the cap — re-admission would need a
    stats rebuild); rows the hot word contributed BEFORE it crossed
    the cap stay in the index until the next compaction but cannot
    match (the probe side is filtered); a crash between the index
    append and :meth:`record` under-counts df for that batch forever
    — the recall-safe direction (a word stays under the cap longer,
    matches more). The batch/ingest form keeps the stored in-index df
    column (multimodal/audio_fp.py:attach_subfp_df); this is the form
    an append-only stream can run."""

    def __init__(
        self,
        spark: SparkSession,
        index_store: ParquetAppendLog,
        stats_store: ParquetAppendLog,
        max_word_freq: int | str,
        compact_every: int | None = None,
        value_col: str = "sub32",
        quantile: float = 0.99,
        margin: int = 4,
    ) -> None:
        """``max_word_freq`` is an int, or the string ``"auto"`` to
        SELF-CALIBRATE: the cap is read off the merged stats log with
        operators/caps.py:calibrate_cap (margin x ceil-rank quantile
        of per-value df) at every hot-set evaluation, so the guard's
        threshold tracks the stream's own natural band instead of a
        hand-derived constant — the executable-calibration rule
        (VERDICT r13 #3) closed into the streaming form. Trade,
        stated: early batches see few postings, so the natural
        quantile is low and the auto cap conservative (more values
        capped than at steady state); the quantile/margin knobs are
        the recorded calibration rule, not new tuning surface.
        GUARDED: ``calibrate_cap`` raises ``CapCalibrationError``
        when the quantile lands inside a detected degenerate band
        (degenerate values > 1-q of distinct values — realistic in a
        small block space), so a degenerate-heavy stream fails loudly
        at the next hot-set evaluation instead of silently admitting
        its hot buckets. And
        because a hot word's df FREEZES, a rising auto cap can
        re-admit it — it then resumes accumulating and re-crosses
        within a batch of postings (bounded oscillation, never a
        permanent re-admission of a corpus-hot value)."""
        self.spark = spark
        self.index_store = index_store
        self.stats_store = stats_store
        self.max_word_freq = max_word_freq
        self.compact_every = compact_every
        self.value_col = value_col
        self.quantile = quantile
        self.margin = margin

    def _merged_stats(self) -> DataFrame | None:
        cur = self.stats_store.current(self.spark)
        if cur is None:
            return None
        return cur.groupBy(self.value_col).agg(F.sum("df").alias("df"))

    def current_cap(self, stats: DataFrame) -> int:
        if self.max_word_freq == "auto":
            from dwh_spark.operators.caps import calibrate_cap

            return calibrate_cap(stats, self.quantile, self.margin)
        return int(self.max_word_freq)

    def hot_words(self) -> DataFrame | None:
        """(value_col) rows over the cap — broadcastable by
        construction (at most total_postings / cap values)."""
        stats = self._merged_stats()
        if stats is None:
            return None
        return stats.filter(
            F.col("df") > self.current_cap(stats)
        ).select(self.value_col)

    def filter_batch(self, batch_rows: DataFrame) -> DataFrame:
        hot = self.hot_words()
        if hot is None:
            return batch_rows
        return batch_rows.join(F.broadcast(hot), self.value_col, "left_anti")

    def record(self, batch_id: int) -> None:
        lc = self.stats_store.last_committed()
        if lc is not None and batch_id <= lc:
            return  # replay guard, same discipline as the fold's
        seg = _read_store_parquet(
            self.spark, [self.index_store.segment_dir(batch_id)]
        )
        counts = seg.groupBy(self.value_col).agg(F.count("*").alias("df"))
        self.stats_store.append(counts, batch_id)

    def compact(self) -> None:
        # Measured r18: overlapping these two compactions is a NET
        # LOSS here — the index rewrite's hot-word transform lazily
        # reads the stats store the concurrent stats compaction GCs,
        # so the overlap needs an extra hot-frame checkpoint job that
        # costs more than the tiny stats compact it would hide
        # (+1.5 s/fold at sf0.1). Kept sequential: the lazy hot read
        # is safe because the stats swap happens strictly after.
        hot = self.hot_words()
        vc = self.value_col
        if hot is not None:
            self.index_store.compact(
                self.spark,
                transform=lambda df: df.join(F.broadcast(hot), vc, "left_anti"),
            )
        else:
            self.index_store.compact(self.spark)
        self.stats_store.compact(
            self.spark,
            transform=lambda df: df.groupBy(vc).agg(F.sum("df").alias("df")),
        )

    def after_batch(self, batch_id: int) -> None:
        """The fold's maintenance hook: record this batch's partials,
        then compact on the cadence."""
        self.record(batch_id)
        if self.compact_every is not None and (
            (batch_id + 1) % self.compact_every == 0
        ):
            self.compact()


def run_audio_offset_cap_ingest(
    stream: DataFrame,
    index_store: ParquetAppendLog,
    stats_store: ParquetAppendLog,
    out_dir: str,
    checkpoint_dir: str,
    min_matches: int = 5,
    min_word_transitions: int = 4,
    max_word_freq: int = 16,
    compact_every: int | None = 2,
) -> None:
    """The audio OFFSET fold with BOTH guards composed — the stateless
    entropy skip (drops silence/constant-tone words a priori) and the
    accumulated df-cap via :class:`WordDfCapMaintenance` (drops
    corpus-hot words once their streamed df crosses the cap — the
    shared-jingle class the entropy guard passes by design). The hot
    filter wraps ``fp_fn``, so from the first batch after a word goes
    hot it never reaches the within-join, the probe, or the store;
    compaction then rewrites the already-stored rows away. The guard
    trade across the family, stated once: batches BEFORE a word
    crosses the cap pair through it (df must accumulate before the
    cap can see it) — the batch/ingest form with its build-time df
    column has no such warm-up."""
    spark = stream.sparkSession
    cap, fp_fn, within, cross = _audio_offset_cap_parts(
        spark, index_store, stats_store,
        min_matches, min_word_transitions, max_word_freq, compact_every,
    )
    _run_indexed_ingest(
        stream, index_store, out_dir, checkpoint_dir,
        fp_fn, within, cross,
        "audio_id", "n_earlier_odups", cap.after_batch,
    )


def _audio_offset_cap_parts(
    spark: SparkSession,
    index_store: ParquetAppendLog,
    stats_store: ParquetAppendLog,
    min_matches: int,
    min_word_transitions: int,
    max_word_freq: int | str,
    compact_every: int | None = None,
):
    """The capped audio OFFSET fold's shared construction — the
    hot-filtered ``fp_fn`` and the within/cross offset votes, plus the
    :class:`WordDfCapMaintenance` wired over both stores. The two
    runners (:func:`run_audio_offset_cap_ingest`,
    :func:`run_audio_offset_cap_window_ingest`) differ ONLY in their
    maintenance callback; everything else is built here once so the
    fold shape cannot silently diverge between them. Returns
    ``(cap, fp_fn, within, cross)``."""
    from dwh_spark.multimodal.audio_fp import (
        audio_offset_pairs_from_subfps,
        audio_offset_vote_probe,
        audio_subfingerprint_frame,
        drop_low_entropy_words,
    )

    cap = WordDfCapMaintenance(
        spark, index_store, stats_store, max_word_freq, compact_every
    )

    def fp_fn(df: DataFrame) -> DataFrame:
        return cap.filter_batch(
            drop_low_entropy_words(
                audio_subfingerprint_frame(df), min_word_transitions
            )
        )

    def within(batch_subfps: DataFrame) -> DataFrame:
        return (
            audio_offset_pairs_from_subfps(batch_subfps, min_matches=min_matches)
            .select("id_a", "id_b")
            .distinct()
            .select(F.col("id_b").alias("audio_id"))
        )

    def cross(prior: DataFrame, batch_subfps: DataFrame) -> DataFrame:
        return (
            audio_offset_vote_probe(prior, batch_subfps, min_matches=min_matches)
            .select("batch_id", "index_id")
            .distinct()
            .select(F.col("batch_id").alias("audio_id"))
        )

    return cap, fp_fn, within, cross


def run_audio_offset_cap_window_ingest(
    stream: DataFrame,
    index_store: ParquetAppendLog,
    stats_store: ParquetAppendLog,
    out_dir: str,
    checkpoint_dir: str,
    min_matches: int = 5,
    min_word_transitions: int = 4,
    max_word_freq: int = 16,
    window_at: int = 1,
    forgotten_ids: DataFrame | None = None,
    expire_keep_from: int | None = None,
):
    """The audio OFFSET fold with the df-cap composed AND the FULL
    fingerprint MAINTENANCE WINDOW run mid-stream from the fold's
    maintenance seam (the FP twin of the IVF composition in
    plans/streaming.py:streaming_semantic_window_ingest): per-batch
    word-df partials are recorded exactly as
    :func:`run_audio_offset_cap_ingest` does, and after batch
    ``window_at`` commits, ``streaming/maintenance.py:
    run_fp_maintenance_window`` sequences forget-durability →
    recalibration-from-post-forget-stats → expire → optimize over
    BOTH stores. The composition consequence, stated: the fold's
    hot-word set is re-derived from the merged stats log at every
    batch start, so after the window the set reflects the SHRUNK
    stats (stats == rebuild-over-retained) — a word whose postings
    the window forgot or expired is re-admitted for subsequent
    batches (bounded oscillation, the documented cap semantics),
    while subsequent probes can never match a forgotten or expired
    partner (the index rewrite/horizon is durable before the next
    batch folds). Returns the window's :class:`FpWindowReport`.

    Crash semantics, stated: the maintenance hook runs AFTER the
    fold's index append, and a replayed batch short-circuits on the
    replay guard BEFORE maintenance — so a crash between the
    ``window_at`` batch's append and the window completing skips
    that cycle's window (a scheduler re-runs it next cycle; every
    window phase is an atomic manifest swap, so a mid-window crash
    leaves a consistent store and a re-run is safe). The same trade
    the cap's ``record`` documents, in the recall-safe direction —
    EXCEPT for erasure: a deployment whose forget manifest must not
    wait a cycle should re-issue the window directly on restart
    rather than waiting for the seam (the runner is idempotent over
    an already-applied manifest: the anti-join removes nothing).

    100 TB: per-batch fold cost is unchanged; the window costs what
    its phases cost (stated at the runner) and runs between
    micro-batches in the seam the fold already owns."""
    from dwh_spark.streaming.maintenance import run_fp_maintenance_window

    spark = stream.sparkSession
    cap, fp_fn, within, cross = _audio_offset_cap_parts(
        spark, index_store, stats_store,
        min_matches, min_word_transitions, max_word_freq,
    )
    report_holder: list = []

    def maintenance(batch_id: int) -> None:
        cap.record(batch_id)
        if batch_id == window_at:
            report_holder.append(
                run_fp_maintenance_window(
                    spark,
                    index_store,
                    stats_store,
                    forgotten_ids=forgotten_ids,
                    key="audio_id",
                    value_col="sub32",
                    expire_keep_from=expire_keep_from,
                )
            )

    _run_indexed_ingest(
        stream, index_store, out_dir, checkpoint_dir,
        fp_fn, within, cross,
        "audio_id", "n_earlier_odups", maintenance,
    )
    return report_holder[0] if report_holder else None


class BlockDfCapMaintenance:
    """The VIDEO form of the streaming df-cap composition — the
    bounded (i, val, df) block-stats table as its own append log of
    per-batch partials (``merge_block_df``'s union-and-resum
    discipline; every input is <= n_blocks x 2^block_bits rows). The
    asymmetry with the audio form, stated: an audio clip's degenerate
    positions each cost a STORED ROW (so the word cap also rewrites
    history at compaction), while a degenerate video frame is ONE
    16-byte row whose damage is entirely in the JOIN — so here the
    accumulated stats feed the probes' ``block_df``/``max_block_freq``
    guard per batch (the hot (i, val) set anti-joined broadcast off
    the streamed side inside the shared blocked join), and compaction
    only re-aggregates the tiny stats log; the frame rows stay.
    Unlike the audio word stats, the per-batch partials here count
    ALL indexed frames (nothing is row-filtered by the cap), so df
    never freezes — the hot set is exactly "cumulative df > cap at
    this batch's start".

    ``max_block_freq`` is an int, or ``"auto"`` to self-calibrate
    from the merged stats at every evaluation — with the
    degenerate-majority GUARD active: the 2^14 block space is exactly
    where degenerate values (black/letterbox blocks) can exceed 1-q
    of distinct values, so a mis-shaped distribution raises
    ``CapCalibrationError`` loudly instead of floating the cap above
    everything (operators/caps.py:calibrate_cap)."""

    def __init__(
        self,
        spark: SparkSession,
        index_store: ParquetAppendLog,
        stats_store: ParquetAppendLog,
        max_block_freq: int | str,
        n_blocks: int = 4,
        compact_every: int | None = None,
        quantile: float = 0.99,
        margin: int = 4,
    ) -> None:
        self.spark = spark
        self.index_store = index_store
        self.stats_store = stats_store
        self.max_block_freq = max_block_freq
        self.n_blocks = n_blocks
        self.compact_every = compact_every
        self.quantile = quantile
        self.margin = margin

    def current_cap(self, stats: DataFrame) -> int:
        if self.max_block_freq == "auto":
            from dwh_spark.operators.caps import calibrate_cap

            return calibrate_cap(stats, self.quantile, self.margin)
        return int(self.max_block_freq)

    def merged_stats(self) -> DataFrame | None:
        cur = self.stats_store.current(self.spark)
        if cur is None:
            return None
        return cur.groupBy("i", "val").agg(F.sum("df").alias("df"))

    def record(self, batch_id: int) -> None:
        from dwh_spark.multimodal.perceptual import video_block_df

        lc = self.stats_store.last_committed()
        if lc is not None and batch_id <= lc:
            return
        seg = _read_store_parquet(
            self.spark, [self.index_store.segment_dir(batch_id)]
        )
        self.stats_store.append(
            video_block_df(seg, n_blocks=self.n_blocks), batch_id
        )

    def after_batch(self, batch_id: int) -> None:
        self.record(batch_id)
        if self.compact_every is not None and (
            (batch_id + 1) % self.compact_every == 0
        ):
            # disjoint-store rewrites with no cross-store reads, so
            # they run in parallel; each manifest swap stays atomic
            run_parallel(
                self.spark,
                [
                    lambda: self.index_store.compact(self.spark),
                    lambda: self.stats_store.compact(
                        self.spark,
                        transform=lambda df: df.groupBy("i", "val").agg(
                            F.sum("df").alias("df")
                        ),
                    ),
                ],
            )


def run_video_offset_cap_ingest(
    stream: DataFrame,
    index_store: ParquetAppendLog,
    stats_store: ParquetAppendLog,
    out_dir: str,
    checkpoint_dir: str,
    max_hamming: int = 3,
    n_blocks: int = 4,
    min_frames: int = 3,
    min_frame_bits: int | None = 4,
    max_block_freq: int | str = 16,
    compact_every: int | None = 2,
) -> None:
    """The video OFFSET fold with BOTH guards composed — the
    stateless low-detail skip (black/flat frames never enter the
    fold) and the accumulated block-df cap via
    :class:`BlockDfCapMaintenance` (a corpus-hot but DETAILED frame —
    a shared title card, the visual jingle — passes the popcount
    guard by design and is only catchable by statistics). At each
    batch the merged stats feed ``block_df``/``max_block_freq`` into
    both the within-batch pairs vote and the cross probe, so from the
    first batch after a block value crosses the cap it stops pairing
    frames; the warm-up trade is the same as the audio form (batch-1
    title cards pair before the stats exist)."""
    from dwh_spark.multimodal.perceptual import (
        drop_low_detail_frames,
        video_dhash_frames,
        video_offset_pairs_from_frames,
        video_offset_vote_probe,
    )

    spark = stream.sparkSession
    cap = BlockDfCapMaintenance(
        spark, index_store, stats_store, max_block_freq, n_blocks, compact_every
    )

    if min_frame_bits is None:
        fp_fn = video_dhash_frames
    else:
        def fp_fn(df: DataFrame) -> DataFrame:
            return drop_low_detail_frames(video_dhash_frames(df), min_frame_bits)

    def _guard_kwargs() -> dict:
        stats = cap.merged_stats()
        if stats is None:
            return {}
        return {"block_df": stats, "max_block_freq": cap.current_cap(stats)}

    def within(batch_frames: DataFrame) -> DataFrame:
        return (
            video_offset_pairs_from_frames(
                batch_frames, max_hamming=max_hamming, n_blocks=n_blocks,
                **_guard_kwargs(),
            )
            .groupBy("id_a", "id_b", (F.col("f_a") - F.col("f_b")).alias("offset"))
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") >= min_frames)
            .select("id_a", "id_b")
            .distinct()  # a pair can qualify at >1 offset — count PARTNERS
            .select(F.col("id_b").alias("video_id"))
        )

    def cross(prior: DataFrame, batch_frames: DataFrame) -> DataFrame:
        return (
            video_offset_vote_probe(
                prior, batch_frames,
                max_hamming=max_hamming, n_blocks=n_blocks,
                min_frames=min_frames, **_guard_kwargs(),
            )
            .select("batch_id", "index_id")
            .distinct()
            .select(F.col("batch_id").alias("video_id"))
        )

    _run_indexed_ingest(
        stream, index_store, out_dir, checkpoint_dir,
        fp_fn, within, cross, "video_id", "n_earlier_ovdups",
        cap.after_batch,
    )
