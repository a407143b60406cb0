"""Streaming near-dup document ingest — the LSH band index as
accumulating stream state.

The production shape of `operators/dedup.py:minhash_incremental_near_
dups` on Structured Streaming: document batches arrive in key order;
each batch probes the STORED band index for cross-batch near-dups,
flags within-batch pairs off its own (persisted) band frame, then
appends its bands and texts to the two state stores under the same
high-water replay guard as the marketplace fold
(`streaming/marketplace.py`). Because batches are id-ordered, "stored
corpus ∪ smaller-id batch mates" is exactly "all earlier documents",
so the drained output equals the batch earlier-partners oracle —
stream/batch parity, the repo-wide streaming claim.

Crash semantics: per-batch results are written to a VERSIONED output
dir (``out/batch=<id>``, overwrite mode) before the state commits, so
a crash between the result write and the store commit replays the
batch into the same dir idempotently (M22 parity — the same versioned-
snapshot trick `ParquetStateStore` uses); the docs store commits LAST
as the whole-fold completion marker.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dwh_spark.operators.dedup import band_index, candidate_corpus_shingles, shingles
from dwh_spark.session import run_parallel
from dwh_spark.streaming.ingest import ParquetAppendLog


def run_minhash_ingest(
    stream: DataFrame,
    bands_store: ParquetAppendLog,
    docs_store: ParquetAppendLog,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.7,
    maintenance=None,
) -> None:
    """Drain the id-ordered document stream, flagging each doc's
    earlier near-dup partners. ``stream`` needs (doc_id, text).

    ``maintenance``: optional ``(batch_id) -> None`` callback invoked
    AFTER each batch's state commit — the scheduling seam for
    housekeeping on the two append logs (periodic ``compact()``
    OPTIMIZE, retention ``expire()``). It runs outside the replay
    guard: a crash during maintenance replays nothing (the batch is
    committed) and both operations are idempotent, so skipping one
    invocation is harmless. ``scripts/scale_smoke.py append_log``
    soaks 50 batches with compaction-under-ingest through this seam."""
    spark = stream.sparkSession

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        # high-water replay guard (docs store commits LAST = marker)
        lc = docs_store.last_committed()
        if lc is not None and batch_id <= lc:
            return
        # a one-file micro-batch arrives as one partition, which would
        # run the whole signature pipeline single-threaded — spread it
        # across cores first (ingest.py:spread_small_batch)
        from dwh_spark.streaming.ingest import spread_small_batch

        batch_df = spread_small_batch(batch_df).persist()
        # the band frame feeds three consumers (within-batch self-join
        # both sides + the corpus probe + the store append): persist so
        # the signature pipeline runs once per batch
        batch_bands = band_index(batch_df).persist()
        prior_bands = bands_store.current(spark)
        prior_docs = docs_store.current(spark)
        sh_new = batch_df.select(
            F.col("doc_id").alias("new_id"), shingles(F.col("text"), 3).alias("sh_n")
        )
        n_common = F.size(F.array_intersect("sh_n", "sh_c"))
        union_n = F.size("sh_n") + F.size("sh_c") - n_common

        def verify(cands: DataFrame, old_docs: DataFrame) -> DataFrame:
            # candidate-id pushdown: the (small) candidate set is
            # broadcast against the stored docs, so shingles are
            # computed on the matched candidate rows only — never a
            # full-corpus shingle projection per batch
            withc = candidate_corpus_shingles(
                cands.join(F.broadcast(sh_new), "new_id"), old_docs
            )
            return (
                withc.filter(
                    F.round(n_common.cast("double") / union_n.cast("double"), 6)
                    >= threshold
                )
                .select(
                    F.col("new_id").alias("doc_id"), F.col("corpus_id").alias("partner")
                )
            )

        wb_cands = (
            batch_bands.alias("n")
            .join(
                batch_bands.alias("c"),
                (F.col("n.band") == F.col("c.band"))
                & (F.col("n.band_key") == F.col("c.band_key"))
                & (F.col("c.doc_id") < F.col("n.doc_id")),
            )
            .select(
                F.col("n.doc_id").alias("new_id"), F.col("c.doc_id").alias("corpus_id")
            )
            .distinct()
        )
        flagged = verify(wb_cands, batch_df)
        if prior_bands is not None:
            cands = (
                batch_bands.alias("n")
                .join(
                    prior_bands.alias("c"),
                    (F.col("n.band") == F.col("c.band"))
                    & (F.col("n.band_key") == F.col("c.band_key")),
                )
                .select(
                    F.col("n.doc_id").alias("new_id"),
                    F.col("c.doc_id").alias("corpus_id"),
                )
                .distinct()
            )
            flagged = flagged.unionByName(verify(cands, prior_docs))
        # versioned per-batch result dir: overwrite => crash-window
        # replay rewrites the same dir instead of double-appending.
        # The result write and the two O(batch) segment writes are
        # independent jobs over persisted frames — overlap them; both
        # manifest commits land AFTER every write, in store order,
        # with the docs store's swap STRICTLY LAST (the whole-fold
        # completion marker), so crash/replay semantics are unchanged
        # (unpublished dirs are invisible and rewritten on replay)
        def _write_out() -> None:
            flagged.groupBy("doc_id").agg(
                F.count("*").alias("n_earlier_dups")
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch={batch_id}")
            )

        run_parallel(
            spark,
            [
                _write_out,
                lambda: bands_store.write_segment(batch_bands, batch_id),
                lambda: docs_store.write_segment(batch_df, batch_id),
            ],
        )
        # append-only: each batch persists O(batch) rows — history
        # is never rewritten (the snapshot store would rewrite the
        # whole union per batch, quadratic in corpus size)
        bands_store.commit_segment(batch_id)
        docs_store.commit_segment(batch_id)
        batch_bands.unpersist()
        batch_df.unpersist()
        if maintenance is not None:
            maintenance(batch_id)

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_ingest_results(spark: SparkSession, out_dir: str) -> DataFrame:
    """All drained (doc_id, n_earlier_dups) rows across batch dirs."""
    return spark.read.option("basePath", out_dir).parquet(
        os.path.join(out_dir, "batch=*")
    ).select("doc_id", "n_earlier_dups")
