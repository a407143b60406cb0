"""Streaming SEMANTIC near-dup ingest — the IVF cell index as
accumulating stream state.

The embedding-space sibling of ``streaming/docs_ingest.py``: vector
batches arrive in key order; each batch assigns itself against the
FIXED broadcast centroids (trained once, before the stream — the
day-0 training shape), probes the STORED cell index for cross-batch
semantic near-dups, flags within-batch earlier mates off its own
assignment frame, then appends its assignments to the index store
under the high-water replay guard. Because batches are id-ordered,
"stored index ∪ smaller-id batch mates" is exactly "all earlier
vectors", so the drained output equals the batch within-cell
earlier-partners oracle — stream/batch parity, the repo-wide
streaming claim.

Crash semantics match the MinHash ingest: per-batch results land in a
VERSIONED output dir (``out/batch=<id>``, overwrite mode) BEFORE the
index append commits, so a crash in the window replays the batch into
the same dir idempotently; the index append is the completion marker.

At 100 TB the index store is a table PARTITIONED BY cell (each ingest
appends O(batch) rows; the probe reads only probed cells' partitions)
and the centroids are the ``train_semantic_cells`` output refreshed
offline — the fold never retrains. The refresh itself is
:func:`retrain_cells_at_compaction`: train on survivors, rewrite the
store in one ``compact(transform=...)`` pass, hand the new centroids
to the next fold.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dwh_spark.operators.similarity import assign_cells, cell_probe
from dwh_spark.session import run_parallel
from dwh_spark.streaming.ingest import ParquetAppendLog


def run_semantic_ingest(
    stream: DataFrame,
    centroids,
    index_store: ParquetAppendLog,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.1,
    maintenance=None,
) -> None:
    """Drain the id-ordered vector stream, flagging each vector's
    earlier within-cell semantic near-dup partners. ``stream`` needs
    (vec_id, embedding); ``centroids`` is the fixed (vec_id,
    embedding) centroid frame — or a ZERO-ARG CALLABLE returning one,
    re-read at each batch start, so a mid-stream
    :func:`retrain_cells_at_compaction` (run from ``maintenance``)
    takes effect from the next fold on. ``maintenance`` is the same
    housekeeping seam as the MinHash ingest (compact/expire on the
    index store after each batch commit)."""
    spark = stream.sparkSession

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        # high-water replay guard (index append commits LAST = marker)
        lc = index_store.last_committed()
        if lc is not None and batch_id <= lc:
            return
        cents = centroids() if callable(centroids) else centroids
        # assignment feeds three consumers (within-batch probe both
        # sides + the index probe + the store append): persist so the
        # centroid cross-score runs once per batch. (Deliberately NOT
        # spread_small_batch-ed like the decode folds: the map-side
        # work here is a JVM broadcast cross-score over a dimension-
        # scale vector batch — the repartition's extra shuffle costs
        # more than the single-task score; measured r18.)
        batch_cells = assign_cells(
            batch_df.select("vec_id", "embedding"), cents
        ).persist()
        # ONE job materializes the cache AND collects the batch's
        # distinct cell ids: the r18 commit-overlap attempt lost
        # 0.6-0.7 s/query because two concurrent consumers of an
        # UNMATERIALIZED single-partition cache serialize on the
        # block's compute lock (one computes, the other's task squats
        # a core waiting) — scanning the frame here runs the centroid
        # cross-score exactly once and every later consumer reads
        # cached rows (guide §2.6 + the r18 revert's diagnosis; these
        # folds are driver-sequencing-bound, so job COUNT is the
        # budget — no separate count() job)
        probed = [
            r["cell"] for r in batch_cells.select("cell").distinct().collect()
        ]
        prior = index_store.current(spark)
        flagged = cell_probe(batch_cells, batch_cells, threshold).filter(
            F.col("corpus_id") < F.col("new_id")
        )
        if prior is not None:
            # cell-pruned probe: the batch's distinct cell ids (a
            # bounded literal IN list) filter the stored-index SCAN —
            # with a cell-partitioned/sorted index table this is
            # partition pruning, so the fold reads only probed cells
            pruned = prior.filter(F.col("cell").isin(probed))
            flagged = flagged.unionByName(cell_probe(pruned, batch_cells, threshold))

        # the per-batch result write and the O(batch) segment write
        # are independent jobs over the (now materialized) cached
        # assignment frame — overlap them; the manifest commit, the
        # fold's completion marker, still lands STRICTLY LAST so the
        # crash/replay contract is unchanged
        def _write_out() -> None:
            flagged.groupBy(F.col("new_id").alias("vec_id")).agg(
                F.count("*").alias("n_earlier_sem_dups")
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch={batch_id}")
            )

        run_parallel(
            spark,
            [_write_out, lambda: index_store.write_segment(batch_cells, batch_id)],
        )
        # append-only: O(batch) index rows per ingest, history never
        # rewritten; the manifest swap is the completion marker
        index_store.commit_segment(batch_id)
        batch_cells.unpersist()
        if maintenance is not None:
            maintenance(batch_id)

    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def retrain_cells_at_compaction(
    spark: SparkSession,
    index_store: ParquetAppendLog,
    forgotten_ids: DataFrame | None = None,
    rows_per_cell: int = 4096,
    n_iter: int = 1,
    train_fraction: float | None = None,
    **train_kwargs,
) -> tuple[DataFrame, int]:
    """CENTROID RETRAIN AT THE COMPACTION SEAM (VERDICT r14 What's-
    missing #4, made executable): the forget story for the IVF family
    states that centroids keep reflecting forgotten data until the
    next retrain — this is that retrain. Runs ``train_semantic_cells``
    over the SURVIVORS (current index minus ``forgotten_ids``), then
    rewrites the stored index in one ``compact(transform=...)`` pass:
    the forgotten rows are anti-joined away (the forget becomes
    durable) and every surviving row is RE-ASSIGNED against the
    retrained centroids, so cell boundaries stop reflecting forgotten
    data. Post-retrain state is pinned equal to a fresh
    train+assign build over corpus-minus-forgotten
    (tests/test_retrain_compaction.py) — the same
    equals-rebuild discipline as ``append_with_df``/``forget_with_df``.

    Returns ``(centroids, n_cells)`` — the caller feeds the new
    centroids to subsequent ``run_semantic_ingest`` folds (the stream
    resumes against the retrained index).

    Semantics, stated: a retrain moves cell BOUNDARIES only — a
    vector present before and after lands wherever its nearest
    retrained centroid is; nothing forgotten can resurface (survivors
    are selected by anti-join BEFORE training and inside the rewrite).
    Probes issued between the forget and this compaction must keep
    going through ``forget_rows``'s anti-join (the read-path guard).

    Cost/scale: training runs on the survivor frame (or a
    ``train_fraction`` hash-sample of it — the 100 TB path); the
    rewrite is the compaction the store was due anyway, plus one
    broadcast re-assignment per row. The retrained centroids are
    ``localCheckpoint``-ed before the rewrite: the transform must not
    lazily re-read segments the compaction is about to GC."""
    from dwh_spark.operators.forget import forget_rows
    from dwh_spark.operators.similarity import (
        assign_cells,
        train_semantic_cells,
    )

    cur = index_store.current(spark)
    if cur is None:
        raise ValueError("retrain on an empty index store")
    survivors = (
        forget_rows(cur, forgotten_ids, key="vec_id")
        if forgotten_ids is not None
        else cur
    )
    centroids, n_cells = train_semantic_cells(
        survivors.select("vec_id", "embedding"),
        rows_per_cell=rows_per_cell,
        n_iter=n_iter,
        train_fraction=train_fraction,
        **train_kwargs,
    )
    centroids = centroids.localCheckpoint()

    def rewrite(state: DataFrame) -> DataFrame:
        kept = (
            forget_rows(state, forgotten_ids, key="vec_id")
            if forgotten_ids is not None
            else state
        )
        return assign_cells(kept.select("vec_id", "embedding"), centroids)

    index_store.compact(spark, transform=rewrite)
    return centroids, n_cells


def pq_recode_at_compaction(
    spark: SparkSession,
    codes_store: ParquetAppendLog,
    survivor_vectors: DataFrame,
    n_codes: int = 8,
    vec: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """The PQ twin of :func:`retrain_cells_at_compaction` — and the
    sharper forget case: a PQ codebook is not a blended aggregate
    like an IVF centroid, it carries its seed vectors' subvector
    slices VERBATIM, so a forgotten vector that seeded the codebook
    survives in the trained artifact byte-for-byte until the codebook
    is rebuilt (tests/test_retrain_compaction.py pins the leak and
    its removal). Re-derives the codebook from the SURVIVORS
    (md5-smallest ``n_codes``, the same deterministic seed rule as
    the IVF family) and rewrites the stored (key, sub, code) table in
    one ``compact(transform=...)`` pass — the codes table is fully
    derivable from (survivors, codebook), so the rewrite is a
    re-encode, and the anti-join forget of the codes rows rides the
    same swap. ``survivor_vectors`` is the post-forget corpus frame
    (PQ codes don't carry the raw vectors, so the re-encode reads the
    corpus table — one broadcast codebook join, single shuffle on
    ``key``). Returns the new codebook for subsequent ADC probes."""
    from dwh_spark.operators.similarity import pq_codebook, pq_encode

    seeds = (
        survivor_vectors.select(key, vec)
        .orderBy(F.md5(F.col(key).cast("string")), F.col(key))
        .limit(n_codes)
    )
    codebook = pq_codebook(seeds, vec=vec, key=key).localCheckpoint()
    codes_store.compact(
        spark,
        transform=lambda _state: pq_encode(
            survivor_vectors, codebook, vec=vec, key=key
        ),
    )
    return codebook


def read_semantic_ingest_results(spark: SparkSession, out_dir: str) -> DataFrame:
    """All drained (vec_id, n_earlier_sem_dups) rows across batches."""
    return spark.read.option("basePath", out_dir).parquet(
        os.path.join(out_dir, "batch=*")
    ).select("vec_id", "n_earlier_sem_dups")
