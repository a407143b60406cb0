"""Driver-facing Structured-Streaming queries (SURVEY.md §7 Phase 4).

Each callable runs a REAL streaming query — file source, micro-batches,
checkpoint, AvailableNow drain — inside the driver contract, then
returns the materialized result. The oracles are the same SQL as the
batch forms: stream/batch parity IS the correctness claim (the
reference's indexer must produce the same state whether it replays
history or tails the chain live).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dwh_spark.plans.registry import query
from dwh_spark.session import run_parallel, scoped_conf, scratch_dir, session_memo
from dwh_spark.sources.catalog import load_table
from dwh_spark.sources.media_fixtures import doc_ids
from dwh_spark.streaming.ingest import (
    ParquetStateStore,
    append_batches,
    run_incremental_compaction,
    run_windowed_rollup,
    stage_stream_input,
    stream_events,
)

_N_FILES = 4  # staged event files → micro-batches per stream run


def _staged_events(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> tuple[DataFrame, str]:
    """Stage the events table as a multi-file dir and open it as an
    ordered file-stream. One staged copy serves every streaming query
    of the application (the stage write is the most expensive fixed
    cost); each query still gets its own checkpoint/state dirs under a
    fresh root. The stream takes the staged frame's schema, which
    ``load_table`` memoizes, so opening it runs no inference job."""
    events = load_table(spark, sf_dir, "events")
    stage = session_memo(
        spark,
        ("staged_events", sf_dir),
        lambda: stage_stream_input(
            spark, events, f"{scratch_dir('dwh_stream_stage_')}/input", _N_FILES
        ),
    )
    return (
        stream_events(
            spark, stage, events.schema, max_files_per_trigger=max_files_per_trigger
        ),
        scratch_dir("dwh_stream_"),
    )


# INPUT-staging memo (disclosed, like the session_memo stages):
# the staged micro-batch files are a pure function of the DETERMINISTIC
# input frame (all callers stage md5/arithmetic-synthesized fixtures or
# raw table projections — no rand()), every consumer only READS them
# (stores/checkpoints stay per-query under each query's own root), and
# hits are matched by Catalyst's sameSemantics on the analyzed plan —
# never by name — so a frame that differs in ANY expression stages
# fresh. Never caches results: each fold still computes from these
# parquet inputs every invocation.
_NTILE_STAGE_CACHE: list[tuple[DataFrame, int, str, str]] = []


def _stage_ntile_slices(df: DataFrame, root: str, n: int, order_col: str) -> str:
    """Stage ``df`` as ``n`` ORDERED micro-batch files — one ntile
    slice over ``order_col`` per file, mtimes making the file source
    deliver them in slice order. For the gates whose oracles re-derive
    exact batch boundaries via the same ntile (the `_staged_events`
    cache can't serve those: its split is partition-hash, not
    key-ordered). Returns the input dir — memoized per semantically
    identical input frame (see _NTILE_STAGE_CACHE), so the dir may
    outlive ``root``."""
    import os
    import shutil

    from pyspark.sql.window import Window

    for c_df, c_n, c_col, c_dir in _NTILE_STAGE_CACHE:
        if c_n == n and c_col == order_col and df.sameSemantics(c_df):
            return c_dir

    stage_root = scratch_dir("dwh_ntile_stage_")
    input_dir = os.path.join(stage_root, "input")
    os.makedirs(input_dir)
    sliced = df.withColumn(
        "__slice", F.ntile(n).over(Window.orderBy(order_col))
    )
    tmp = os.path.join(stage_root, "staged")
    sliced.repartition(1).write.partitionBy("__slice").parquet(tmp)
    for i in range(1, n + 1):
        sdir = os.path.join(tmp, f"__slice={i}")
        part = next(f for f in os.listdir(sdir) if f.endswith(".parquet"))
        dst = os.path.join(input_dir, f"batch{i}.parquet")
        shutil.move(os.path.join(sdir, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    _NTILE_STAGE_CACHE.append((df, n, order_col, input_dir))
    return input_dir


@query(
    "streaming_latest_state",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           event_type AS last_type, value AS last_value
    FROM ranked WHERE rn = 1
    """,
)
def streaming_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S5+M22+M1-M16 streaming form: ingest the event log as
    micro-batches, foreachBatch-MERGE each into a versioned parquet
    state store, return the final compacted state — identical to the
    batch events_latest_state replay. Two files per trigger: the MERGE
    still crosses batch boundaries (multi-batch restart/idempotency is
    pinned in tests/test_streaming.py) at half the snapshot-write cost."""
    stream, root = _staged_events(spark, sf_dir, max_files_per_trigger=2)
    # fact-scale state ⇒ range-partitioned manifest-tracked snapshots
    # (at most 8 key-range files per version, sized to the snapshot's
    # bytes; lookup() prunes through the manifest) — the MERGE body
    # below is unchanged by the layout
    store = ParquetStateStore(f"{root}/state", range_key="user_id", n_files=8)
    run_incremental_compaction(
        stream, store, f"{root}/checkpoint",
        keys=["user_id"], seq=F.struct("ts", "event_id"),
    )
    final = store.current(spark)
    return final.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


@query(
    "streaming_daily_rollup",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def streaming_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked event-time tumbling window over the micro-batched
    stream; drained result equals the batch daily rollup. Two files per
    trigger: still multi-batch (watermark advances between batches —
    late-arrival handling is pinned in tests/test_streaming.py), half
    the trigger-scheduling overhead."""
    stream, root = _staged_events(spark, sf_dir, max_files_per_trigger=2)
    import uuid

    name = f"rollup_{uuid.uuid4().hex[:8]}"
    return run_windowed_rollup(stream, f"{root}/checkpoint", name)


@query(
    "streaming_user_accumulator",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           max(ts) AS last_ts
    FROM events GROUP BY 1
    """,
)
def streaming_user_accumulator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``) under the
    oracle gate: per-user running totals accumulated across
    micro-batches in the streaming state store; the LAST emission per
    user must equal the batch aggregate. Money accumulates as integer
    cents so batch-split order can't drift a float sum."""
    import uuid

    from pyspark.sql.window import Window

    from dwh_spark.streaming.stateful import running_user_state

    stream, root = _staged_events(spark, sf_dir, max_files_per_trigger=2)
    name = f"acc_{uuid.uuid4().hex[:8]}"
    # Stateful shuffle partitions = state-store instances = Python
    # workers per batch. 32 is right for a cluster; single-node the
    # per-partition store-commit + Arrow round-trip overhead dominates,
    # so pin a smaller state layout for this query only (the setting is
    # frozen into the checkpoint at first batch, so the scope closes
    # right after start).
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "8"):
        q = (
            running_user_state(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", f"{root}/checkpoint")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    emitted = spark.table(name)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        emitted.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "n_events", "sum_cents", "last_ts")
    )


@query(
    "streaming_daily_rollup_incremental",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def streaming_daily_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONTINUOUS-AGGREGATE form of the daily rollup: each
    micro-batch contributes per-(day, type) deltas that MERGE
    additively into a versioned store (streaming/ingest.py:
    run_incremental_rollup). Unlike the complete-mode windowed rollup
    — which re-emits every group every trigger — this is O(touched
    groups) per batch, the only shape that survives a rollup with
    millions of groups. Must equal the batch aggregate exactly
    (decimal sums, count merges)."""
    from dwh_spark.streaming.ingest import run_incremental_rollup

    stream, root = _staged_events(spark, sf_dir, max_files_per_trigger=2)
    prepared = stream.select(
        F.to_date("ts").alias("day"),
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    store = ParquetStateStore(f"{root}/rollup_state")
    run_incremental_rollup(
        prepared, store, f"{root}/checkpoint",
        keys=["day", "event_type"],
        measures={"n": F.count("*"), "sum_dec": F.sum("v")},
    )
    final = store.current(spark)
    return final.select(
        "day", "event_type", "n", F.col("sum_dec").cast("double").alias("sum_value")
    )


@query(
    "streaming_rollup_asof_snapshot",
    oracle="""
    WITH st AS (
      SELECT *, ntile(3) OVER (ORDER BY event_id) AS b FROM events
    )
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM st WHERE b <= 2 GROUP BY 1, 2
    """,
)
def streaming_rollup_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE-STORE time travel made driver-gated — the
    ``ParquetStateStore`` twin of ``docs_minhash_asof_snapshot`` (the
    append log's as-of gate): the continuous daily rollup drains
    THREE event-id-ordered micro-batches into the versioned store,
    then — after batch 3's snapshot has committed —
    ``current(as_of_batch=1)`` serves the rollup EXACTLY as it stood
    at the batch-2 boundary (each snapshot is a complete state, so
    "state as of batch N" is the last snapshot committed by then;
    dirs stay readable until ``expire_versions`` advances the
    retention horizon). The
    reproducible-reporting contract: "what did the dashboard say
    after Tuesday's load?" re-reads the same frame months later
    while the store keeps folding.

    LOAD-BEARING, not decorative: if the as-of read leaked the final
    state, every batch-3 event would inflate the counts past the
    oracle (which aggregates ntile slices 1-2 only); if it served an
    uncommitted or earlier snapshot, groups would go missing. The
    crash-window guard (a written-but-unflipped snapshot is never
    served) and the malformed-pointer loud path are exception-pinned
    in tests/test_streaming.py.

    100 TB: the read costs one pointer resolve + one snapshot scan —
    no filtering, no reconstruction; on a partitioned (range_key)
    store the same read prunes through the snapshot manifest."""
    from dwh_spark.streaming.ingest import run_incremental_rollup

    events = load_table(spark, sf_dir, "events")
    root = scratch_dir("dwh_rollup_asof_")
    input_dir = _stage_ntile_slices(events, root, 3, "event_id")

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    prepared = stream.select(
        F.to_date("ts").alias("day"),
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    store = ParquetStateStore(f"{root}/rollup_state", write_partitions=1)
    run_incremental_rollup(
        prepared, store, f"{root}/checkpoint",
        keys=["day", "event_type"],
        measures={"n": F.count("*"), "sum_dec": F.sum("v")},
    )
    # the time-travel read: the batch-2 boundary state, post-batch-3
    asof = store.current(spark, as_of_batch=1)
    return asof.select(
        "day", "event_type", "n",
        F.col("sum_dec").cast("double").alias("sum_value"),
    )


@query(
    "streaming_rollup_version_gc",
    oracle="""
    WITH st AS (
      SELECT *, ntile(3) OVER (ORDER BY event_id) AS b FROM events
    )
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           CAST(2 AS BIGINT) AS n_versions_retained,
           CAST(1 AS BIGINT) AS asof0_unreadable,
           CAST(0 AS BIGINT) AS expired_through
    FROM st WHERE b <= 2 GROUP BY 1, 2
    """,
)
def streaming_rollup_version_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT-STORE RETENTION made driver-gated (VERDICT r17 next
    #2): the continuous rollup drains three micro-batches into the
    versioned store (v0, v1, v2), then ``expire_versions(keep_from=1)``
    GC's v0 — the append log's retention discipline applied to the
    last grow-forever artifact (every rollup commit writes a full
    snapshot dir; at a continuous cadence that is unbounded storage).
    The gate pins all three observable consequences at once:

    - **the surviving as-of read**: ``current(as_of_batch=1)`` still
      serves the batch-2 boundary state exactly (the oracle aggregates
      ntile slices 1-2) — retention must not touch retained history;
    - **the loud path**: ``current(as_of_batch=0)`` raises
      :class:`SnapshotUnreadableError` (``asof0_unreadable`` is
      computed from the caught exception, not asserted blind);
    - **the ledger facts**: exactly 2 version dirs remain on disk and
      ``_RETENTION.json`` records ``expired_through=0`` (the same
      high-water discipline as the append log's ``expired_through``).

    ``last_committed`` stays 2 throughout — the replay guard keeps
    rejecting already-folded batches after their history ages out.

    100 TB: the GC is O(dropped dirs) filesystem work (record first,
    remove after — crash-safe, lingering dirs are never served); no
    Spark job runs at all. The reference has no retention concept
    (state is rebuilt by replaying the chain,
    `x/indexer/indexer.go:173-197`); this is the operations layer a
    continuously-folding store needs."""
    import os

    from dwh_spark.streaming.ingest import (
        SnapshotUnreadableError,
        run_incremental_rollup,
    )

    events = load_table(spark, sf_dir, "events")
    root = scratch_dir("dwh_rollup_gc_")
    input_dir = _stage_ntile_slices(events, root, 3, "event_id")

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    prepared = stream.select(
        F.to_date("ts").alias("day"),
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    store = ParquetStateStore(f"{root}/rollup_state", write_partitions=1)
    run_incremental_rollup(
        prepared, store, f"{root}/checkpoint",
        keys=["day", "event_type"],
        measures={"n": F.count("*"), "sum_dec": F.sum("v")},
    )
    store.expire_versions(keep_from=1)  # v0 ages out; v1, v2 retained
    try:
        store.current(spark, as_of_batch=0)
        asof0_unreadable = 0
    except SnapshotUnreadableError:
        asof0_unreadable = 1
    n_versions = len(
        [d for d in os.listdir(store.root) if d.startswith("v") and d[1:].isdigit()]
    )
    asof = store.current(spark, as_of_batch=1)  # retained history
    return asof.select(
        "day", "event_type", "n",
        F.col("sum_dec").cast("double").alias("sum_value"),
        F.lit(n_versions).cast("long").alias("n_versions_retained"),
        F.lit(asof0_unreadable).cast("long").alias("asof0_unreadable"),
        F.lit(store.expired_through()).cast("long").alias("expired_through"),
    )


@query(
    "streaming_rollup_version_delta",
    oracle="""
    WITH st AS (
      SELECT *, ntile(3) OVER (ORDER BY event_id) AS b FROM events
    ),
    new_state AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             count(*) AS n, sum(CAST(value AS DECIMAL(18,2))) AS sum_dec
      FROM st GROUP BY 1, 2
    ),
    old_state AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             count(*) AS n, sum(CAST(value AS DECIMAL(18,2))) AS sum_dec
      FROM st WHERE b <= 1 GROUP BY 1, 2
    )
    SELECT day, event_type, n, CAST(sum_dec AS DOUBLE) AS sum_value
    FROM (SELECT * FROM new_state EXCEPT SELECT * FROM old_state)
    """,
)
def streaming_rollup_version_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VERSION-TO-VERSION ROLLUP DELTA read (VERDICT r17 next #6)
    — the CDC twin of the append log's incremental read
    (``docs_minhash_delta_snapshot``), completing the symmetry:
    ``current(as_of_batch=2, since_batch=0)`` returns exactly the
    rollup groups that are NEW or CHANGED between the batch-1
    boundary snapshot and the batch-3 boundary snapshot — "what did
    the last two loads touch?" without re-aggregating either era from
    events. Implemented as row-level ``exceptAll`` of the two complete
    snapshots (a changed group appears with its NEW measures; a group
    untouched by batches 2-3 is absent — the oracle's EXCEPT re-derives
    both states from the ntile slices, so a delta that leaked
    untouched groups or served stale measures mismatches).

    LOAD-BEARING both ways at sf0.01: slices are event-id-ordered and
    event ids correlate with time, so early-day groups live entirely
    in slice 1 and MUST be suppressed, while groups spanning slices
    gain events and MUST surface with updated measures.

    100 TB: one scan of each snapshot + a hash repartition on the row
    — the honest cost of a full-state diff on a store whose
    ``repartitionByRange`` re-draws file boundaries per commit (a
    table format with aligned boundaries could prune unchanged files
    through per-file stats; stated in ``current``'s docstring).
    Deletes are structurally absent from additive-rollup state; the
    reverse ``exceptAll`` serves callers that need them."""
    from dwh_spark.streaming.ingest import run_incremental_rollup

    events = load_table(spark, sf_dir, "events")
    root = scratch_dir("dwh_rollup_delta_")
    input_dir = _stage_ntile_slices(events, root, 3, "event_id")

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    prepared = stream.select(
        F.to_date("ts").alias("day"),
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    store = ParquetStateStore(f"{root}/rollup_state", write_partitions=1)
    run_incremental_rollup(
        prepared, store, f"{root}/checkpoint",
        keys=["day", "event_type"],
        measures={"n": F.count("*"), "sum_dec": F.sum("v")},
    )
    delta = store.current(spark, as_of_batch=2, since_batch=0)
    return delta.select(
        "day", "event_type", "n",
        F.col("sum_dec").cast("double").alias("sum_value"),
    )


@query(
    "streaming_state_point_lookup",
    oracle="""
    WITH probes AS (
      SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
      ORDER BY user_id LIMIT 5
    )
    SELECT e.user_id, count(*) AS n,
           CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN probes p USING (user_id)
    GROUP BY 1
    """,
)
def streaming_state_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MANIFEST-PRUNED state point read made driver-gated (S10 at
    state scale): a per-user rollup folds three micro-batches into a
    RANGE-PARTITIONED ``ParquetStateStore`` (``range_key='user_id'``,
    at most 8 manifest-tracked files per snapshot, sized to its bytes
    — the Iceberg file-statistics shape one level deep), then five
    users are read back through ``lookup()``, which consults the
    snapshot manifest's per-file [min_key, max_key] ranges, reads ONLY
    the covering file's matching rows on the driver (pyarrow, key
    filter pushed down) and returns them as a local frame — at a
    billion state rows the read touches one file, not the snapshot,
    and launches no Spark job (the manifest file-touch discipline and
    the job count are pinned in tests/test_streaming.py and
    tests/test_store_jobs.py; this gate pins the end-to-end semantics:
    merged-across-batches counts and exact decimal sums per probed
    key). The oracle aggregates the probed users straight from the
    events table, so a lookup that read the wrong file, the wrong
    snapshot version, or dropped a batch's contribution mismatches.

    100 TB: each probe is O(1 file); the fold's per-batch cost is the
    rollup MERGE (O(touched groups)); the five probes share one
    session and never scan the snapshot."""
    from functools import reduce

    from dwh_spark.streaming.ingest import run_incremental_rollup

    events = load_table(spark, sf_dir, "events")
    root = scratch_dir("dwh_state_lookup_")
    input_dir = _stage_ntile_slices(events, root, 3, "event_id")

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    prepared = stream.select(
        "user_id", F.col("value").cast("decimal(18,2)").alias("v")
    )
    store = ParquetStateStore(
        f"{root}/user_state", range_key="user_id", n_files=8
    )
    run_incremental_rollup(
        prepared, store, f"{root}/checkpoint",
        keys=["user_id"],
        measures={"n": F.count("*"), "sum_dec": F.sum("v")},
    )
    # NULL-safe + oracle-aligned probe choice: Spark sorts NULLS FIRST
    # and DuckDB NULLS LAST, so an unguarded distinct-order-limit would
    # pick different probe sets (and int(None) would crash) on a
    # fixture that ever ships NULL user_ids
    probes = (
        events.filter(F.col("user_id").isNotNull())
        .select("user_id").distinct().orderBy("user_id").limit(5)
        .collect()
    )
    frames = [store.lookup(spark, int(r["user_id"])) for r in probes]
    out = reduce(lambda a, b: a.unionByName(b), frames)
    return out.select(
        "user_id", "n", F.col("sum_dec").cast("double").alias("sum_value")
    )


@query(
    "streaming_dedup_exactly_once",
    oracle="""
    SELECT count(*) AS n_unique,
           count(DISTINCT user_id) AS n_users
    FROM events
    """,
)
def streaming_dedup_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup (``dropDuplicates`` + watermark): the input is
    staged DUPLICATED — every event appears twice, in different
    micro-batches — and the dedup state must suppress the second
    delivery even across batch boundaries. The watermark bounds the
    dedup state store (keys older than the horizon are evicted — the
    production requirement; unbounded dedup state is a slow OOM).
    Output must equal the batch distinct count of the un-duplicated
    table."""
    events = load_table(spark, sf_dir, "events")
    root = scratch_dir("dwh_dedup_")
    # two staged copies → the same event_id arrives in two batches
    doubled = events.unionByName(events)
    stage_stream_input(spark, doubled.repartition(4), f"{root}/input", 4)
    stream = stream_events(spark, f"{root}/input", events.schema, max_files_per_trigger=2)
    deduped = stream.withWatermark("ts", "365 days").dropDuplicates(["event_id"])
    q = (
        deduped.writeStream.format("parquet")
        .option("path", f"{root}/out")
        .option("checkpointLocation", f"{root}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(f"{root}/out").agg(
        F.count("*").alias("n_unique"),
        F.count_distinct("user_id").alias("n_users"),
    )


@query(
    "streaming_session_windows",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             CAST(sum(is_new) OVER (PARTITION BY user_id
                                    ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      FROM gaps
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (``F.session_window``, gap
    30 min): Spark's state store merges overlapping per-user session
    fragments across micro-batches — the streaming twin of the batch
    lag+running-sum sessionization (plans/events.py), and the oracle
    is that batch form. Semantics note pinned by the oracle: a gap of
    EXACTLY 30 min starts a new session (session windows are
    half-open: [start, last+gap)), hence ``>=`` where the batch
    sessionization query uses ``>``; session_end is last event + gap.
    Complete output mode, so the drained result is every session
    regardless of watermark progress; at production scale the same
    query runs in append mode with a watermark so closed sessions
    emit once and state stays bounded."""
    import uuid

    stream, root = _staged_events(spark, sf_dir, max_files_per_trigger=2)
    name = f"sessions_{uuid.uuid4().hex[:8]}"
    agg = stream.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("sw")
    ).agg(F.count("*").alias("n_events"))
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", f"{root}/checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "user_id",
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "n_events",
    )


@query(
    "streaming_click_purchase_join",
    oracle="""
    SELECT c.user_id AS user_id,
           count(*) AS n_pairs,
           CAST(count(DISTINCT c.event_id) AS BIGINT) AS n_clicks_matched,
           CAST(count(DISTINCT p.event_id) AS BIGINT) AS n_purchases_matched
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    GROUP BY 1
    """,
)
def streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: clicks joined to purchases by the
    same user within the following 30 minutes, both sides micro-batched
    streams of the same event log. Inner stream-stream joins emit each
    match as soon as both rows have arrived; the watermark's only job
    is state eviction, so with a watermark wider than the staged
    replay's disorder the drained output is exactly the batch join.
    The staged files are round-robin splits (full time range per
    micro-batch), so the test watermark must span the whole 30-day
    fixture; production input is time-ordered file arrivals, where the
    same query holds click state for only ~(delay + 30 min) and a
    purchase row is droppable the moment it emits."""
    import uuid

    stream, root = _staged_events(spark, sf_dir, max_files_per_trigger=2)
    # A stream-stream join runs FOUR state stores per shuffle partition
    # (keyToNumValues + keyWithIndexToValue on each side); 32 partitions
    # × 4 stores × n batches of commit overhead dwarfs the data at test
    # scale. Same single-node pin (and restore) as the accumulator;
    # 4 (was 8, r9) per the left-join drain sweep — identical output,
    # half the store commits.
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "4"):
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .select("user_id", F.col("ts").alias("click_ts"),
                    F.col("event_id").alias("click_id"))
            .withWatermark("click_ts", "40 days")
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts"),
                    F.col("event_id").alias("purchase_id"))
            .withWatermark("purchase_ts", "40 days")
        )
        joined = clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTE")),
            "inner",
        )
        name = f"ssjoin_{uuid.uuid4().hex[:8]}"
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{root}/checkpoint")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    pairs = spark.table(name)
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("click_id").alias("n_clicks_matched"),
        F.countDistinct("purchase_id").alias("n_purchases_matched"),
    )


@query(
    "streaming_dim_enrichment",
    oracle="""
    SELECT n.n_name AS nation, count(*) AS n_events,
           CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY 1
    """,
)
def streaming_dim_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension join — the lookup-enrichment pattern the
    reference performs per transaction (S2: pre-joined columns): each
    micro-batch broadcast-joins the static customer→nation dimension
    (no state, no stream-side shuffle), then a complete-mode rollup per
    nation. The oracle is the equivalent batch join — stream/batch
    parity is the claim, as for every streaming query here."""
    import uuid

    stream, root = _staged_events(spark, sf_dir, max_files_per_trigger=2)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = F.broadcast(
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey).select(
            "c_custkey", F.col("n_name").alias("nation")
        )
    )
    enriched = stream.join(dim, stream.user_id == dim.c_custkey)
    agg = enriched.groupBy("nation").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    name = f"dim_enrich_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", f"{root}/checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select("nation", "n_events", "sum_value")


@query(
    "streaming_click_purchase_left_join",
    oracle="""
    SELECT c.user_id AS user_id,
           count(*) AS n_rows,
           CAST(count(p.event_id) AS BIGINT) AS n_matched,
           CAST(sum(CASE WHEN p.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unmatched
    FROM events c
    LEFT JOIN events p
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click'
    GROUP BY 1
    """,
)
def streaming_click_purchase_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join — the half of the join surface
    the inner-join query can't exercise: a click with no purchase in
    its 30-minute window must STILL emit (with nulls), which only
    happens once the watermark passes the click's join window. Outer
    rows near stream end would therefore never emit on a drained
    stream — the standard fix (used here) is a flush sentinel: a
    final staged file carries two far-future events that advance
    event time past every real window, and AvailableNow's no-data
    batch then expires and emits all remaining unmatched state.
    The sentinels must SURVIVE the event-type filters (one 'click',
    one 'purchase', negative user_ids dropped after the join) —
    Catalyst pushes the filters below the watermark operator into
    the scan, so a row of any other type never touches the clock.

    The drained result is exactly the batch LEFT JOIN, which is the
    oracle. The sentinel file is written after the data files so the
    file source (mtime order) replays it last — arrival order of the
    data files themselves is free because the 40-day delay exceeds
    the fixture's span (nothing is ever late-dropped)."""
    import sys
    import time as _time
    import uuid

    from dwh_spark.streaming.ingest import stream_events

    t_start = _time.perf_counter()
    events = load_table(spark, sf_dir, "events")

    def stage_input() -> str:
        stage = scratch_dir("dwh_stream_lj_") + "/input"
        # stage only the 4 columns the join reads — the staged dir is
        # harness scaffolding for an ordered file log, and dropping
        # value/props halves the write and every micro-batch scan
        events.select("event_id", "ts", "user_id", "event_type").repartition(
            6
        ).write.mode("overwrite").parquet(stage)
        _time.sleep(0.05)  # strictly newer mtime => sentinel replays last
        # SQL VALUES, not createDataFrame: a python-list local relation
        # parallelizes into defaultParallelism python-RDD partitions,
        # and writing it costs ~6 s of serial python-worker round
        # trips under coalesce(1); the VALUES relation is a pure JVM
        # LocalTableScan (~0.3 s write)
        flush = spark.sql(
            """SELECT CAST(event_id AS BIGINT) AS event_id,
                      CAST(ts AS TIMESTAMP) AS ts,
                      CAST(user_id AS BIGINT) AS user_id, event_type
               FROM VALUES (1000000000, '2024-12-31 00:00:00', -1, 'click'),
                           (1000000001, '2024-12-30 00:00:00', -2, 'purchase')
                 AS t(event_id, ts, user_id, event_type)"""
        )
        flush.coalesce(1).write.mode("append").parquet(stage)
        print(
            f"# click/purchase lj staging: {_time.perf_counter() - t_start:.2f}s",
            file=sys.stderr,
        )
        return stage

    stage = session_memo(
        spark, ("click_purchase_stage", sf_dir), stage_input
    )
    root = scratch_dir("dwh_stream_")
    t_drain = _time.perf_counter()
    # trigger=4 over the 7 staged files → two DATA micro-batches (4
    # files, then 2 + the sentinel) + the no-data flush batch — still
    # a genuinely batched replay, at half the per-batch incremental-
    # planning/state-commit overhead of the old (3,3,1) split.
    stream = stream_events(spark, stage, max_files_per_trigger=4)
    # 4 partitions × 4 state stores per batch: measured drain at sf0.1
    # 4.4 s (8 parts, 3 triggers) → 3.0 s (4 parts, 2 triggers),
    # identical output. Production note: a real cluster sizes this to
    # the state volume, not the commit overhead.
    with scoped_conf(spark, "spark.sql.shuffle.partitions", "4"):
        clicks = (
            stream.withWatermark("ts", "40 days")
            .filter(F.col("event_type") == "click")
            .select("user_id", F.col("ts").alias("click_ts"),
                    F.col("event_id").alias("click_id"))
        )
        purchases = (
            stream.withWatermark("ts", "40 days")
            .filter(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("p_user_id"),
                    F.col("ts").alias("purchase_ts"),
                    F.col("event_id").alias("purchase_id"))
        )
        joined = clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTE")),
            "leftOuter",
        )
        name = f"ssljoin_{uuid.uuid4().hex[:8]}"
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{root}/checkpoint")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # per-stage attribution (VERDICT r7 ask #4, same discipline as the
    # marketplace fold prints): drain = micro-batched stream-stream
    # join + state-store commits + the no-data watermark-flush batch
    print(
        f"# click/purchase lj drain: {_time.perf_counter() - t_drain:.2f}s",
        file=sys.stderr,
    )
    rows = spark.table(name).filter(F.col("user_id") >= 0)  # drop sentinels
    return rows.groupBy("user_id").agg(
        F.count("*").alias("n_rows"),
        F.count("purchase_id").alias("n_matched"),
        F.sum(
            F.when(F.col("purchase_id").isNull(), 1).otherwise(0)
        ).alias("n_unmatched"),
    )


# the _SHINGLES_CTE/banding chain lives in plans/documents.py; the
# streaming ingest shares its oracle arithmetic verbatim
_MINHASH_INGEST_ORACLE = """
    WITH docs AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
                                   for i in range(1, len(s) - 1)])) AS shingle
      FROM docs WHERE len(s) >= 3
    ),
    hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h1,
             ('0x' || substr(md5(shingle), 17, 15))::BIGINT % 288230376151711744 AS h2
      FROM sh
    ),
    mh AS (
      SELECT doc_id, seeds.seed,
             min((h1 + seeds.seed * h2) & 1152921504606846975) AS minhash
      FROM hashed, (SELECT unnest(range(0, 16)) AS seed) seeds
      GROUP BY 1, 2
    ),
    banded AS (
      SELECT doc_id, seed // 4 AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY seed)) AS band_key
      FROM mh GROUP BY 1, 2
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    verified AS (
      SELECT c.id_a, c.id_b
      FROM cands c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      GROUP BY c.id_a, c.id_b, sa.n_sh, sb.n_sh
      HAVING CAST(count(*) AS DOUBLE)
             / (sa.n_sh + sb.n_sh - count(*)) >= 0.7
    )
    SELECT id_b AS doc_id, count(*) AS n_earlier_dups
    FROM verified GROUP BY 1
    """


@query("streaming_minhash_ingest", oracle=_MINHASH_INGEST_ORACLE)
def streaming_minhash_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dup ingest — the LSH band index as accumulating
    stream state: documents arrive in doc_id order across 3
    micro-batches; each batch (a) flags its docs that near-dup the
    STORED corpus by probing the band-index state (candidates =
    batch-bands ⋈ stored-bands, verification = exact Jaccard against
    the stored doc texts — never a corpus self-join), (b) flags
    within-batch dups with the ordinary banded self-join over the
    batch only, then (c) appends its bands and texts to the two state
    stores under the same high-water replay guard as the marketplace
    fold. Because batches are id-ordered, 'stored corpus ∪
    smaller-id batch mates' is EXACTLY 'all earlier docs', so the
    drained output equals the batch oracle: for every flagged doc,
    the count of earlier near-dup partners (band collision AND
    jaccard >= 0.7). At 100 TB the band store is a table keyed
    (band, band_key) — each ingest appends O(batch) rows and probes
    by equi-join; the doc store lookups touch only candidate ids."""
    import os

    from dwh_spark.streaming.docs_ingest import read_ingest_results, run_minhash_ingest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = scratch_dir("dwh_mh_ingest_")
    # 3 id-ordered slices, mtime-sequenced (the marketplace staging
    # pattern) so the file-source cursor delivers ascending doc_ids
    input_dir = _stage_ntile_slices(docs, root, 3, "doc_id")

    from dwh_spark.streaming.ingest import ParquetAppendLog

    bands_store = ParquetAppendLog(os.path.join(root, "bands"), write_partitions=1)
    docs_store = ParquetAppendLog(os.path.join(root, "docs"), write_partitions=1)
    out_dir = os.path.join(root, "out")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    run_minhash_ingest(
        stream, bands_store, docs_store, out_dir, os.path.join(root, "ckpt")
    )
    return read_ingest_results(spark, out_dir)


_MINHASH_FORGET_INGEST_ORACLE = """
    WITH ids AS (
      SELECT doc_id, doc_id AS src FROM documents
      UNION ALL
      SELECT doc_id + 1000000, doc_id FROM documents WHERE doc_id % 20 = 3
      UNION ALL
      SELECT doc_id + 2000000, doc_id FROM documents WHERE doc_id % 20 = 7
    ),
    bt AS (
      SELECT doc_id, ntile(3) OVER (ORDER BY doc_id) AS b FROM ids
    ),
    docs AS (
      SELECT i.doc_id, string_split(d.text, ' ') AS s
      FROM ids i JOIN documents d ON d.doc_id = i.src
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
                                   for i in range(1, len(s) - 1)])) AS shingle
      FROM docs WHERE len(s) >= 3
    ),
    hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h1,
             ('0x' || substr(md5(shingle), 17, 15))::BIGINT % 288230376151711744 AS h2
      FROM sh
    ),
    mh AS (
      SELECT doc_id, seeds.seed,
             min((h1 + seeds.seed * h2) & 1152921504606846975) AS minhash
      FROM hashed, (SELECT unnest(range(0, 16)) AS seed) seeds
      GROUP BY 1, 2
    ),
    banded AS (
      SELECT doc_id, seed // 4 AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY seed)) AS band_key
      FROM mh GROUP BY 1, 2
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a
      JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      JOIN bt ba ON ba.doc_id = a.doc_id
      JOIN bt bb ON bb.doc_id = b.doc_id
      WHERE NOT (a.doc_id % 20 = 3 AND a.doc_id < 1000000
                 AND ba.b <= 2 AND bb.b = 3)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    verified AS (
      SELECT c.id_a, c.id_b
      FROM cands c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      GROUP BY c.id_a, c.id_b, sa.n_sh, sb.n_sh
      HAVING CAST(count(*) AS DOUBLE)
             / (sa.n_sh + sb.n_sh - count(*)) >= 0.7
    )
    SELECT id_b AS doc_id, count(*) AS n_earlier_dups
    FROM verified GROUP BY 1
    """


@query(
    "streaming_minhash_forget_ingest",
    oracle=_MINHASH_FORGET_INGEST_ORACLE,
)
def streaming_minhash_forget_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MID-STREAM right-to-be-forgotten, DOCS binding — the TWO-STORE
    case the audio/video twins don't exercise: the minhash fold keeps
    band rows AND the raw doc texts (for Jaccard verification) as
    separate append logs, so a GDPR erasure must rewrite BOTH.
    Between batches 2 and 3 the maintenance hook runs ONE
    ``run_two_store_window`` (streaming/maintenance.py — r18, VERDICT
    r17 What's-missing #5): the runner rewrites the band store minus
    the %20==3 docs FIRST and then the doc store — the leak-safe
    order is now a structural contract of the runner, not a
    convention this callback remembers. The two rewrites are not
    jointly atomic; a CONCURRENT reader between them sees
    bands-gone-texts-present, where no candidate can form and no
    forgotten text can surface; the reverse order would leave live
    bands (fingerprints of the erased text) pointing at erased
    texts. (Stated scope: in this driver both rewrites run
    sequentially with no reader between them, so the gate verifies
    the END state; the crash-between-stores direction is
    exception-pinned in tests/test_maintenance_window.py and the full
    two-store lifecycle ledger is driver-gated by
    ``docs_minhash_two_store_window_ledger``.) The documents fixture plants no organic cross-batch
    near-dups of the %20==3 cohort, so the stream carries VERBATIM
    RE-ARRIVALS ordered last (+1,000,000 copies of the forgotten
    %20==3 docs, +2,000,000 copies of kept %20==7 docs — the
    reprobe-fixture discipline of docs_posting_forget_reprobe): the
    forgotten originals' copies find NOTHING, kept originals' copies
    flag them at Jaccard 1.0, and a %20==3 doc first arriving in
    batch 3 indexes normally and IS found by its copy (point-in-time
    rewrite, not a standing exclusion — semantics stated at the
    audio twin). The oracle reruns the full minhash/banding/Jaccard
    chain over the union and excludes exactly the
    (forgotten-seen-before-batch-3, batch-3-partner) candidate
    pairs."""
    import os

    from dwh_spark.operators.forget import forget_band_index
    from dwh_spark.streaming.docs_ingest import read_ingest_results, run_minhash_ingest
    from dwh_spark.streaming.ingest import ParquetAppendLog
    from dwh_spark.streaming.maintenance import run_two_store_window

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fids = base.filter(F.col("doc_id") % 20 == 3).select("doc_id")
    docs = base.unionByName(
        base.filter(F.col("doc_id") % 20 == 3).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    ).unionByName(
        base.filter(F.col("doc_id") % 20 == 7).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        )
    )
    root = scratch_dir("dwh_mh_forget_ingest_")
    input_dir = _stage_ntile_slices(docs, root, 3, "doc_id")

    bands_store = ParquetAppendLog(os.path.join(root, "bands"), write_partitions=1)
    docs_store = ParquetAppendLog(os.path.join(root, "docs"), write_partitions=1)
    out_dir = os.path.join(root, "out")

    def maint(batch_id: int) -> None:
        # the GDPR request lands after the second batch commits; the
        # two-store runner owns the bands-first leak-safe order
        # structurally (streaming/maintenance.py:run_two_store_window
        # — r18; previously sequenced ad hoc here). No retention this
        # gate; the audit join AND the report's counting jobs are
        # skipped mid-stream (cost discipline — the ledger gate runs
        # them; the previous ad-hoc form never counted either).
        if batch_id == 1:
            run_two_store_window(
                spark,
                bands_store,
                docs_store,
                forgotten_ids=fids,
                key="doc_id",
                index_forget_fn=forget_band_index,
                optimize=False,
                audit_consistency=False,
                report_counts=False,
            )

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    run_minhash_ingest(
        stream,
        bands_store,
        docs_store,
        out_dir,
        os.path.join(root, "ckpt"),
        maintenance=maint,
    )
    return read_ingest_results(spark, out_dir)


_MINHASH_TTL_INGEST_ORACLE = """
    WITH ids AS (
      SELECT doc_id, doc_id AS src FROM documents
      UNION ALL
      SELECT doc_id + 1000000, doc_id FROM documents WHERE doc_id % 20 = 5
      UNION ALL
      SELECT doc_id + 2000000, doc_id FROM documents WHERE doc_id % 20 = 9
    ),
    bt AS (
      SELECT doc_id, ntile(3) OVER (ORDER BY doc_id) AS b FROM ids
    ),
    docs AS (
      SELECT i.doc_id, string_split(d.text, ' ') AS s
      FROM ids i JOIN documents d ON d.doc_id = i.src
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
                                   for i in range(1, len(s) - 1)])) AS shingle
      FROM docs WHERE len(s) >= 3
    ),
    hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h1,
             ('0x' || substr(md5(shingle), 17, 15))::BIGINT % 288230376151711744 AS h2
      FROM sh
    ),
    mh AS (
      SELECT doc_id, seeds.seed,
             min((h1 + seeds.seed * h2) & 1152921504606846975) AS minhash
      FROM hashed, (SELECT unnest(range(0, 16)) AS seed) seeds
      GROUP BY 1, 2
    ),
    banded AS (
      SELECT doc_id, seed // 4 AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY seed)) AS band_key
      FROM mh GROUP BY 1, 2
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a
      JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      JOIN bt ba ON ba.doc_id = a.doc_id
      JOIN bt bb ON bb.doc_id = b.doc_id
      WHERE NOT (ba.b = 1 AND bb.b = 3)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    verified AS (
      SELECT c.id_a, c.id_b
      FROM cands c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      GROUP BY c.id_a, c.id_b, sa.n_sh, sb.n_sh
      HAVING CAST(count(*) AS DOUBLE)
             / (sa.n_sh + sb.n_sh - count(*)) >= 0.7
    )
    SELECT id_b AS doc_id, count(*) AS n_earlier_dups
    FROM verified GROUP BY 1
    """


@query(
    "streaming_minhash_ttl_ingest",
    oracle=_MINHASH_TTL_INGEST_ORACLE,
)
def streaming_minhash_ttl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETENTION/TTL on a live fold — the time-based twin of the
    mid-stream forget family, promoting ``ParquetAppendLog.expire``
    (the sliding-horizon retention bound for grow-forever state,
    previously only unit-tested) to a driver-gated query: after
    batch 2 commits, BOTH minhash stores age out their batch-1
    segments (``expire(keep_from=1)`` on the band index and the doc
    texts — manifest-atomic segment drops, no data rewrite, and
    ``last_committed`` stays put so the replay guard keeps rejecting
    already-folded batches even after their data ages). Batch 3 then
    probes only the surviving horizon: verbatim re-arrivals ordered
    last (+1,000,000 copies of %20==5 docs, +2,000,000 of %20==9)
    make the trade concrete — a copy whose original sits in the aged
    batch 1 finds NOTHING (the sliding-horizon under-detection a
    deployment accepts by choosing retention: "near-dup only against
    the last N ingest days"), while a copy of a batch-2/3 original
    still flags it at Jaccard 1.0. Unlike the forget family the
    horizon drops EVERY batch-1 doc, so the oracle's exclusion
    carries no id cohort: exactly the (batch-1-earlier,
    batch-3-later) candidate pairs disappear; probes emitted in
    batches 1-2 keep their full earlier corpus (emitted before
    expiry). Expiry cost is O(manifest) — segment dirs drop out of
    the manifest and are GC'd; at 100 TB this is the partition-drop
    retention every table format ships, composed here with a live
    fold under the replay guard."""
    import os

    from dwh_spark.streaming.docs_ingest import read_ingest_results, run_minhash_ingest
    from dwh_spark.streaming.ingest import ParquetAppendLog

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = base.unionByName(
        base.filter(F.col("doc_id") % 20 == 5).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    ).unionByName(
        base.filter(F.col("doc_id") % 20 == 9).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        )
    )
    root = scratch_dir("dwh_mh_ttl_ingest_")
    input_dir = _stage_ntile_slices(docs, root, 3, "doc_id")

    bands_store = ParquetAppendLog(os.path.join(root, "bands"), write_partitions=1)
    docs_store = ParquetAppendLog(os.path.join(root, "docs"), write_partitions=1)
    out_dir = os.path.join(root, "out")

    def maint(batch_id: int) -> None:
        # the retention horizon advances after the second batch commits
        if batch_id == 1:
            bands_store.expire(keep_from=1)
            docs_store.expire(keep_from=1)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    run_minhash_ingest(
        stream,
        bands_store,
        docs_store,
        out_dir,
        os.path.join(root, "ckpt"),
        maintenance=maint,
    )
    return read_ingest_results(spark, out_dir)


# The compact+expire STRADDLE: merging batches 0-1 before the horizon
# advances leaves one segment covering [0,1]; expire(keep_from=1)
# keeps it WHOLE (its max is inside the horizon), so batch-0 data
# remains visible — the documented bounded over-approximation
# (streaming/ingest.py:ParquetAppendLog.expire). The oracle is
# therefore EXACTLY the TTL chain with its exclusion removed — the
# derivation below makes that relationship executable, and the
# module-level assert keeps the two oracles from drifting apart.
_TTL_EXCLUSION = "WHERE NOT (ba.b = 1 AND bb.b = 3)"
# Explicit raise, not a bare assert: the derivation pin must survive
# `python -O` (ADVICE r15) — if the exclusion text drifts, replace()
# would silently no-op and the straddle oracle would collapse into an
# exact copy of the TTL oracle.
if _TTL_EXCLUSION not in _MINHASH_TTL_INGEST_ORACLE:
    raise AssertionError(
        "_TTL_EXCLUSION drifted out of _MINHASH_TTL_INGEST_ORACLE — the "
        "straddle oracle below is DERIVED by removing it; re-align the "
        "exclusion text before the two oracles silently converge"
    )
_MINHASH_TTL_COMPACT_INGEST_ORACLE = _MINHASH_TTL_INGEST_ORACLE.replace(
    _TTL_EXCLUSION, ""
)


@query(
    "streaming_minhash_ttl_compact_ingest",
    oracle=_MINHASH_TTL_COMPACT_INGEST_ORACLE,
)
def streaming_minhash_ttl_compact_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The compact+expire STRADDLE made driver-gated — the one stated
    retention trade ``expire``'s docstring leaves as prose: under
    "compact, then advance the horizon", a merged segment covering
    [0, 1] straddles ``keep_from=1`` and is kept WHOLE, so batch-0
    data stays visible to batch 3 — retention becomes a bounded
    over-approximation until the merged range ages out entirely.
    Identical fixture and maintenance window as
    ``streaming_minhash_ttl_ingest``, with one change: both stores
    COMPACT before the horizon advances. The oracle is the TTL chain
    with its exclusion removed (derived by construction in source, a
    module assert pinning the relationship): every batch-1 partner
    the plain TTL query dropped comes back — tests/
    test_midstream_forget.py pins the two queries' oracles apart, so
    the straddle is provably behavioral, not a copy of either
    neighbor. The bound is the point: under "expire every batch,
    compact every K" each merged range spans <= K+horizon batches, so
    the over-approximation is K batches of extra visibility, never
    grow-forever (stated at ingest.py:expire)."""
    import os

    from dwh_spark.streaming.docs_ingest import read_ingest_results, run_minhash_ingest
    from dwh_spark.streaming.ingest import ParquetAppendLog

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = base.unionByName(
        base.filter(F.col("doc_id") % 20 == 5).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    ).unionByName(
        base.filter(F.col("doc_id") % 20 == 9).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        )
    )
    root = scratch_dir("dwh_mh_ttl_cmp_ingest_")
    input_dir = _stage_ntile_slices(docs, root, 3, "doc_id")

    bands_store = ParquetAppendLog(os.path.join(root, "bands"), write_partitions=1)
    docs_store = ParquetAppendLog(os.path.join(root, "docs"), write_partitions=1)
    out_dir = os.path.join(root, "out")

    def maint(batch_id: int) -> None:
        # OPTIMIZE runs first, then the horizon advances: the merged
        # [0,1] segment straddles keep_from=1 and survives whole.
        # The two content-preserving compactions rewrite disjoint
        # stores with no cross-store reads, so they run in parallel;
        # the O(manifest) expires stay sequential after both.
        if batch_id == 1:
            run_parallel(
                spark,
                [lambda: bands_store.compact(spark), lambda: docs_store.compact(spark)],
            )
            bands_store.expire(keep_from=1)
            docs_store.expire(keep_from=1)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    run_minhash_ingest(
        stream,
        bands_store,
        docs_store,
        out_dir,
        os.path.join(root, "ckpt"),
        maintenance=maint,
    )
    return read_ingest_results(spark, out_dir)


_MINHASH_ASOF_SNAPSHOT_ORACLE = """
    WITH ids AS (
      SELECT doc_id, doc_id AS src FROM documents
      UNION ALL
      SELECT doc_id + 1000000, doc_id FROM documents WHERE doc_id % 20 = 11
      UNION ALL
      SELECT doc_id + 2000000, doc_id FROM documents WHERE doc_id % 20 = 13
    ),
    bt AS (
      SELECT doc_id, ntile(3) OVER (ORDER BY doc_id) AS b FROM ids
    ),
    docs AS (
      SELECT i.doc_id, string_split(d.text, ' ') AS s
      FROM ids i JOIN documents d ON d.doc_id = i.src
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
                                   for i in range(1, len(s) - 1)])) AS shingle
      FROM docs WHERE len(s) >= 3
    ),
    hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h1,
             ('0x' || substr(md5(shingle), 17, 15))::BIGINT % 288230376151711744 AS h2
      FROM sh
    ),
    mh AS (
      SELECT doc_id, seeds.seed,
             min((h1 + seeds.seed * h2) & 1152921504606846975) AS minhash
      FROM hashed, (SELECT unnest(range(0, 16)) AS seed) seeds
      GROUP BY 1, 2
    ),
    banded AS (
      SELECT doc_id, seed // 4 AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY seed)) AS band_key
      FROM mh GROUP BY 1, 2
    ),
    cands AS (
      SELECT DISTINCT b.doc_id AS id_b, a.doc_id AS id_a
      FROM banded a
      JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key
      JOIN bt ba ON ba.doc_id = a.doc_id
      JOIN bt bb ON bb.doc_id = b.doc_id
      WHERE ba.b <= 2 AND bb.b = 3
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    verified AS (
      SELECT c.id_a, c.id_b
      FROM cands c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      GROUP BY c.id_a, c.id_b, sa.n_sh, sb.n_sh
      HAVING CAST(count(*) AS DOUBLE)
             / (sa.n_sh + sb.n_sh - count(*)) >= 0.7
    )
    SELECT id_b AS doc_id, count(*) AS n_snapshot_dups
    FROM verified GROUP BY 1
    """


@query("docs_minhash_asof_snapshot", oracle=_MINHASH_ASOF_SNAPSHOT_ORACLE)
def docs_minhash_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF (time-travel) read of ``ParquetAppendLog`` made
    driver-gated (VERDICT r15 What's-missing #5): three id-ordered
    document batches append their LSH bands and texts to the two
    minhash stores, then — AFTER the batch-3 appends have landed —
    ``current(as_of_batch=1)`` reproduces the exact batch-2 boundary
    state of BOTH stores from the manifest's per-segment batch
    ranges (zero data movement: segment selection, not filtering),
    and the batch-3 docs are probed against that SNAPSHOT. The
    result is per-probe verified near-dup counts against "the corpus
    as of batch 2" — what a live fold's batch 3 saw, now reproducible
    months later while the log keeps growing: the reproducible
    training-snapshot contract an LLM pipeline needs ("which corpus
    was this model trained on?").

    The snapshot read is LOAD-BEARING, not decorative: the probe
    join carries no id-inequality guard, so if the as-of frame
    leaked the batch-3 segment, every probe would collide with its
    own stored bands at Jaccard 1.0 and the counts would explode
    past the oracle (which re-derives the full
    shingle→minhash→band→Jaccard chain over slices 1-2 vs 3 in
    SQL). Verbatim re-arrivals ordered last (+1,000,000 copies of
    %20==11 docs, +2,000,000 of %20==13 — the reprobe-fixture
    discipline) guarantee cross-boundary matches exist. The lossy
    interactions are pinned in tests/test_streaming.py: a compaction
    straddling the boundary and any retention ``expire`` raise
    ``SnapshotUnreadableError`` loudly instead of approximating."""
    import os

    from pyspark.sql.window import Window

    from dwh_spark.operators.dedup import (
        band_index,
        candidate_corpus_shingles,
        shingles,
    )
    from dwh_spark.streaming.ingest import ParquetAppendLog

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = base.unionByName(
        base.filter(F.col("doc_id") % 20 == 11).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    ).unionByName(
        base.filter(F.col("doc_id") % 20 == 13).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        )
    )
    root = scratch_dir("dwh_mh_asof_")
    sliced = docs.withColumn("__slice", F.ntile(3).over(Window.orderBy("doc_id")))
    staged = os.path.join(root, "staged")
    sliced.repartition(1).write.partitionBy("__slice").parquet(staged)

    bands_store = ParquetAppendLog(os.path.join(root, "bands"), write_partitions=1)
    docs_store = ParquetAppendLog(os.path.join(root, "docs"), write_partitions=1)
    # pooled staging (ingest.py:append_batches): the three per-slice
    # MinHash band passes are independent jobs over disjoint staged
    # files; commits land afterwards in the sequential order
    _stage = []
    for i in range(1, 4):
        slice_df = spark.read.parquet(os.path.join(staged, f"__slice={i}")).select(
            "doc_id", "text"
        )
        _stage.append((bands_store, band_index(slice_df), i - 1))
        _stage.append((docs_store, slice_df, i - 1))
    append_batches(_stage)

    # the time-travel read: batch-2 boundary state, post-batch-3 appends
    snap_bands = bands_store.current(spark, as_of_batch=1)
    snap_docs = docs_store.current(spark, as_of_batch=1)
    probes = spark.read.parquet(os.path.join(staged, "__slice=3")).select(
        "doc_id", "text"
    )

    probe_bands = band_index(probes)
    cands = (
        probe_bands.alias("n")
        .join(
            snap_bands.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.band_key") == F.col("c.band_key")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("c.doc_id").alias("corpus_id"),
        )
        .distinct()
    )
    sh_new = probes.select(
        F.col("doc_id").alias("new_id"), shingles(F.col("text"), 3).alias("sh_n")
    )
    n_common = F.size(F.array_intersect("sh_n", "sh_c"))
    union_n = F.size("sh_n") + F.size("sh_c") - n_common
    verified = candidate_corpus_shingles(
        cands.join(F.broadcast(sh_new), "new_id"), snap_docs
    ).filter(
        F.round(n_common.cast("double") / union_n.cast("double"), 6) >= 0.7
    )
    return (
        verified.groupBy(F.col("new_id").alias("doc_id"))
        .agg(F.count("*").alias("n_snapshot_dups"))
    )


_MINHASH_DELTA_SNAPSHOT_ORACLE = """
    WITH ids AS (
      SELECT doc_id, doc_id AS src FROM documents
      UNION ALL
      SELECT doc_id + 1000000, doc_id FROM documents WHERE doc_id % 20 = 15
      UNION ALL
      SELECT doc_id + 2000000, doc_id FROM documents WHERE doc_id % 20 = 17
    ),
    bt AS (
      SELECT doc_id, ntile(3) OVER (ORDER BY doc_id) AS b FROM ids
    ),
    docs AS (
      SELECT i.doc_id, string_split(d.text, ' ') AS s
      FROM ids i JOIN documents d ON d.doc_id = i.src
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
                                   for i in range(1, len(s) - 1)])) AS shingle
      FROM docs WHERE len(s) >= 3
    ),
    hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h1,
             ('0x' || substr(md5(shingle), 17, 15))::BIGINT % 288230376151711744 AS h2
      FROM sh
    ),
    mh AS (
      SELECT doc_id, seeds.seed,
             min((h1 + seeds.seed * h2) & 1152921504606846975) AS minhash
      FROM hashed, (SELECT unnest(range(0, 16)) AS seed) seeds
      GROUP BY 1, 2
    ),
    banded AS (
      SELECT doc_id, seed // 4 AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY seed)) AS band_key
      FROM mh GROUP BY 1, 2
    ),
    cands AS (
      SELECT DISTINCT b.doc_id AS id_b, a.doc_id AS id_a
      FROM banded a
      JOIN banded b
        ON a.band = b.band AND a.band_key = b.band_key
      JOIN bt ba ON ba.doc_id = a.doc_id
      JOIN bt bb ON bb.doc_id = b.doc_id
      WHERE ba.b = 1 AND bb.b >= 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    verified AS (
      SELECT c.id_a, c.id_b
      FROM cands c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b
      GROUP BY c.id_a, c.id_b, sa.n_sh, sb.n_sh
      HAVING CAST(count(*) AS DOUBLE)
             / (sa.n_sh + sb.n_sh - count(*)) >= 0.7
    )
    SELECT id_b AS doc_id, count(*) AS n_checkpoint_dups
    FROM verified GROUP BY 1
    """


@query("docs_minhash_delta_snapshot", oracle=_MINHASH_DELTA_SNAPSHOT_ORACLE)
def docs_minhash_delta_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL snapshot read (``since_batch``) made driver-gated
    (VERDICT r16 What's-missing #4) — the as-of twin's delta form:
    three id-ordered document batches append to the two minhash
    stores, then ``current(as_of_batch=2, since_batch=0)`` serves
    EXACTLY the rows batches (0, 2] appended — "what arrived since
    the last training checkpoint" — and each delta doc is
    decontaminated against the checkpoint-era index read with
    ``current(as_of_batch=0)``. The result is per-delta-doc verified
    near-dup counts against the batch-0 corpus: the incremental
    continued-pretraining contract (train on the delta, decontaminate
    against what the checkpoint already saw).

    BOTH boundaries are load-bearing, not decorative: if the delta
    leaked batch 0 (lower bound broken), every checkpoint doc would
    collide with its own stored bands at Jaccard 1.0 and the counts
    would explode past the oracle; if it dropped batch 2 (upper bound
    broken), the +2,000,000 re-arrivals' rows would vanish from the
    result. The oracle re-derives the full shingle→minhash→band→
    Jaccard chain over ntile slice 1 (corpus) vs slices 2-3 (delta)
    in SQL. Verbatim re-arrivals ordered last (+1,000,000 copies of
    %20==15 docs, +2,000,000 of %20==17) guarantee cross-boundary
    matches whenever a source doc falls in slice 1. The read itself
    is segment SELECTION off the manifest's batch ranges — zero data
    movement, no filter column needed on the rows. The lossy
    interactions stay exception-pinned in tests/test_streaming.py::
    test_append_log_incremental_snapshot_reads: a compaction
    straddling either boundary raises ``SnapshotUnreadableError``,
    and a delta strictly above the expired horizon stays readable.

    Reference parity: the reference re-reads history by re-polling
    the chain from a cursor (`x/indexer/indexer.go:173-197`,
    `x/indexer/cursor.go:5-18`); the manifest-ranged delta read is
    the storage-native form of the same "resume from checkpoint"
    contract."""
    import os

    from pyspark.sql.window import Window

    from dwh_spark.operators.dedup import (
        band_index,
        candidate_corpus_shingles,
        shingles,
    )
    from dwh_spark.streaming.ingest import ParquetAppendLog

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = base.unionByName(
        base.filter(F.col("doc_id") % 20 == 15).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    ).unionByName(
        base.filter(F.col("doc_id") % 20 == 17).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        )
    )
    root = scratch_dir("dwh_mh_delta_")
    sliced = docs.withColumn("__slice", F.ntile(3).over(Window.orderBy("doc_id")))
    staged = os.path.join(root, "staged")
    sliced.repartition(1).write.partitionBy("__slice").parquet(staged)

    bands_store = ParquetAppendLog(os.path.join(root, "bands"), write_partitions=1)
    docs_store = ParquetAppendLog(os.path.join(root, "docs"), write_partitions=1)
    # pooled staging (ingest.py:append_batches): the three per-slice
    # MinHash band passes are independent jobs over disjoint staged
    # files; commits land afterwards in the sequential order
    _stage = []
    for i in range(1, 4):
        slice_df = spark.read.parquet(os.path.join(staged, f"__slice={i}")).select(
            "doc_id", "text"
        )
        _stage.append((bands_store, band_index(slice_df), i - 1))
        _stage.append((docs_store, slice_df, i - 1))
    append_batches(_stage)

    # the incremental reads: rows batches (0, 2] appended — the delta
    # since the batch-0 training checkpoint, pinned reproducible by
    # its as_of upper bound while the log keeps growing. BOTH stores
    # serve it: the texts for shingle verification AND the stored
    # bands (banding is row-wise per doc, so the stored batch-1/2
    # band segments ARE band_index(delta) — re-banding the delta
    # would re-shingle + re-minhash 2/3 of the corpus per run)
    delta_docs = docs_store.current(spark, as_of_batch=2, since_batch=0)
    probe_bands = bands_store.current(spark, as_of_batch=2, since_batch=0)
    # the checkpoint-era index: what the batch-0 training already saw
    snap_bands = bands_store.current(spark, as_of_batch=0)
    snap_docs = docs_store.current(spark, as_of_batch=0)

    cands = (
        probe_bands.alias("n")
        .join(
            snap_bands.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.band_key") == F.col("c.band_key")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("c.doc_id").alias("corpus_id"),
        )
        .distinct()
    )
    sh_new = delta_docs.select(
        F.col("doc_id").alias("new_id"), shingles(F.col("text"), 3).alias("sh_n")
    )
    n_common = F.size(F.array_intersect("sh_n", "sh_c"))
    union_n = F.size("sh_n") + F.size("sh_c") - n_common
    verified = candidate_corpus_shingles(
        cands.join(F.broadcast(sh_new), "new_id"), snap_docs
    ).filter(
        F.round(n_common.cast("double") / union_n.cast("double"), 6) >= 0.7
    )
    return (
        verified.groupBy(F.col("new_id").alias("doc_id"))
        .agg(F.count("*").alias("n_checkpoint_dups"))
    )


def _semantic_ingest_oracle() -> str:
    from dwh_spark.plans.embeddings import _DOT, _NORM2

    dot = _DOT.format(a="a.embedding", b="b.embedding")
    sdot = _DOT.format(a="v.embedding", b="s.c_emb")
    return f"""
    WITH base AS (
      SELECT vec_id, embedding, {_NORM2.format(v='embedding')} AS norm2
      FROM embeddings
    ),
    b1 AS (
      SELECT vec_id, embedding, norm2 FROM base
      QUALIFY ntile(3) OVER (ORDER BY vec_id) = 1
    ),
    seeds AS (
      SELECT vec_id AS centroid_id, embedding AS c_emb, norm2 AS c_norm2
      FROM b1
      QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8
    ),
    cells AS (
      SELECT v.vec_id, v.embedding, v.norm2, s.centroid_id AS cell
      FROM base v CROSS JOIN seeds s
      QUALIFY row_number() OVER (PARTITION BY v.vec_id
          ORDER BY round({sdot} / (sqrt(v.norm2) * sqrt(s.c_norm2)), 6) DESC,
                   s.centroid_id) = 1
    )
    SELECT b.vec_id, count(*) AS n_earlier_sem_dups
    FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE round({dot} / (sqrt(a.norm2) * sqrt(b.norm2)), 6) >= 0.1
    GROUP BY 1
    """


@query("streaming_semantic_ingest", oracle=_semantic_ingest_oracle())
def streaming_semantic_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING semantic near-dup ingest — the IVF cell index as
    accumulating stream state (streaming/emb_ingest.py), closing the
    semantic family's batch → incremental → streaming ladder the way
    streaming_minhash_ingest closes MinHash's: vectors arrive in
    vec_id order across 3 micro-batches; centroids are trained ONCE
    from the first slice (md5-smallest-8 seed rule — day-0 training,
    the fold never retrains); each batch assigns itself against the
    broadcast centroids, probes the stored index with a within-cell
    equi-join (batch side broadcast — never an index self-join),
    flags within-batch earlier mates, then appends its O(batch)
    assignment rows to the index store under the high-water replay
    guard. Id-ordered batches make 'stored index ∪ smaller-id batch
    mates' exactly 'all earlier vectors', so the drained output
    equals the batch within-cell earlier-partners oracle. At 100 TB
    the index store is a table PARTITIONED BY cell: appends are
    O(batch), probes read only the probed cells' partitions."""
    import os

    from dwh_spark.streaming.emb_ingest import (
        read_semantic_ingest_results,
        run_semantic_ingest,
    )
    from dwh_spark.streaming.ingest import ParquetAppendLog

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    root = scratch_dir("dwh_sem_ingest_")
    input_dir = _stage_ntile_slices(emb, root, 3, "vec_id")

    # day-0 centroids: md5-smallest-8 of the FIRST slice (the only
    # data that exists when the stream starts)
    seeds = (
        spark.read.parquet(os.path.join(input_dir, "batch1.parquet"))
        .select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(8)
    )
    index_store = ParquetAppendLog(os.path.join(root, "index"), write_partitions=1)
    out_dir = os.path.join(root, "out")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    run_semantic_ingest(
        stream, seeds, index_store, out_dir, os.path.join(root, "ckpt")
    )
    return read_semantic_ingest_results(spark, out_dir)


_PHASH_INGEST_ORACLE = """
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
    SELECT h1.image_id, count(*) AS n_earlier_pdups
    FROM hashes h1 JOIN hashes h2 ON h2.image_id < h1.image_id
    WHERE bit_count(xor(h1.h, h2.h)) <= 3
    GROUP BY 1
    """


@query("streaming_phash_ingest", oracle=_PHASH_INGEST_ORACLE)
def streaming_phash_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING perceptual near-dup ingest — the dHash fingerprint
    index as accumulating stream state (streaming/phash_ingest.py),
    closing the perceptual family's batch → incremental → streaming
    ladder the way the MinHash and semantic ingests close theirs:
    images (the perceptual fixture of imgs_phash_near_dups: base PNGs
    plus 2x BMP re-encodes plus 3x one-cell-edit GIFs) arrive in
    image_id order, split by ntile(3) into 3 equal-count micro-batches
    — id ORDER is the property parity needs (earlier mates are already
    indexed when a later copy arrives); fixture groups may straddle a
    batch boundary, which only moves mates between the within-batch
    and index-probe arms; each batch
    is DECODED ONCE, flags within-batch earlier mates via the
    pigeonhole blocked self-join, probes the stored fingerprint index
    with its blocks broadcast (never an index self-join, never a
    corpus re-decode), then appends its O(batch) 16-byte fingerprints
    under the high-water replay guard. Id-ordered batches make the
    drained output equal the brute-force earlier-partners oracle.
    At 100 TB the index is ~16 GB/billion images, scanned once per
    ingest; decode cost rides only on the new batch."""
    import os

    from dwh_spark.plans.images import _phash_fixture_images
    from dwh_spark.streaming.ingest import ParquetAppendLog
    from dwh_spark.streaming.phash_ingest import (
        read_phash_ingest_results,
        run_phash_ingest,
    )

    docs = doc_ids(spark, sf_dir)
    images = _phash_fixture_images(docs, base=True, variants=True)

    root = scratch_dir("dwh_phash_ingest_")
    input_dir = _stage_ntile_slices(images, root, 3, "image_id")

    index_store = ParquetAppendLog(os.path.join(root, "index"), write_partitions=1)
    out_dir = os.path.join(root, "out")
    stream = (
        spark.readStream.schema(images.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    run_phash_ingest(stream, index_store, out_dir, os.path.join(root, "ckpt"))
    return read_phash_ingest_results(spark, out_dir)


_PHASH_FORGET_INGEST_ORACLE = """
    WITH ids AS (
      SELECT doc_id AS image_id, doc_id AS base, 0 AS edit FROM documents
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 0 FROM documents WHERE doc_id % 10 = 4
      UNION ALL
      SELECT doc_id + 2000000, doc_id, 1 FROM documents WHERE doc_id % 10 = 6
    ),
    bt AS (
      SELECT image_id, ntile(3) OVER (ORDER BY image_id) AS b FROM ids
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
    SELECT h1.image_id, count(*) AS n_earlier_pdups
    FROM hashes h1
    JOIN hashes h2 ON h2.image_id < h1.image_id
    JOIN bt t1 ON t1.image_id = h1.image_id
    JOIN bt t2 ON t2.image_id = h2.image_id
    WHERE bit_count(xor(h1.h, h2.h)) <= 3
      AND NOT (h2.image_id % 20 = 4 AND h2.image_id < 1000000
               AND t2.b <= 2 AND t1.b = 3)
    GROUP BY 1
    """


@query(
    "streaming_phash_forget_ingest",
    oracle=_PHASH_FORGET_INGEST_ORACLE,
)
def streaming_phash_forget_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MID-STREAM right-to-be-forgotten, IMAGE binding — with the
    docs, audio, and video twins this closes the mid-stream forget
    matrix: every streaming fold family (minhash band index, dHash
    fingerprint index, H-K lookup table, per-frame offset index,
    semantic IVF cells) now composes with the compaction-seam
    history rewrite. The perceptual fixture already plants the
    cross-batch structure the proof needs — the +1,000,000 BMP
    re-encodes of %10==4 bases and +2,000,000 one-cell-edit GIFs of
    %10==6 bases all arrive in batch 3 behind their originals — so
    forgetting the %20==4 bases between batches 2 and 3
    (``ParquetAppendLog.compact(transform=forget_rows)``) means:
    their batch-3 re-encodes find NOTHING; the kept %10==4 cohort's
    re-encodes and every %10==6 edit copy still flag their
    originals; and a %20==4 base first arriving in batch 3 indexes
    post-forget and IS found (point-in-time rewrite, not a standing
    exclusion — semantics stated at the audio twin). The oracle
    re-derives every dHash, reproduces the ntile split, and excludes
    exactly the (forgotten-base-seen-before-batch-3, batch-3-partner)
    pairs."""
    import os

    from dwh_spark.operators.forget import forget_rows
    from dwh_spark.plans.images import _phash_fixture_images
    from dwh_spark.streaming.ingest import ParquetAppendLog
    from dwh_spark.streaming.phash_ingest import (
        read_phash_ingest_results,
        run_phash_ingest,
    )

    docs = doc_ids(spark, sf_dir)
    images = _phash_fixture_images(docs, base=True, variants=True)
    fids = docs.filter(F.col("doc_id") % 20 == 4).select(
        F.col("doc_id").alias("image_id")
    )

    root = scratch_dir("dwh_phash_forget_ingest_")
    input_dir = _stage_ntile_slices(images, root, 3, "image_id")

    index_store = ParquetAppendLog(os.path.join(root, "index"), write_partitions=1)
    out_dir = os.path.join(root, "out")

    def maint(batch_id: int) -> None:
        # the GDPR request lands after the second batch commits
        if batch_id == 1:
            index_store.compact(
                spark,
                transform=lambda df: forget_rows(df, fids, "image_id"),
            )

    stream = (
        spark.readStream.schema(images.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    run_phash_ingest(
        stream,
        index_store,
        out_dir,
        os.path.join(root, "ckpt"),
        maintenance=maint,
    )
    return read_phash_ingest_results(spark, out_dir)


_AUDIO_FP_INGEST_ORACLE = """
    WITH ids AS (
      SELECT doc_id AS audio_id, doc_id AS base, 1 AS gain, -1 AS edit_w
      FROM documents
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 2, -1 FROM documents WHERE doc_id % 10 = 4
      UNION ALL
      SELECT doc_id + 2000000, doc_id, 1, 3 FROM documents WHERE doc_id % 10 = 6
    ),
    seeds AS (
      SELECT i.audio_id, i.gain, i.edit_w, w.w,
             ('0x' || substr(md5(CAST(i.base AS VARCHAR) || ':'
                                 || CAST(w.w AS VARCHAR)), 1, 4))::BIGINT
               % 2048 AS a
      FROM ids i, (SELECT unnest(range(0, 57)) AS w) w
    ),
    sq AS (
      SELECT s.audio_id, s.w,
             sum(CASE WHEN s.w = s.edit_w THEN 500 * 500
                  ELSE (((s.a + t.j * 13) % 2048 - 1024) * s.gain)
                       * (((s.a + t.j * 13) % 2048 - 1024) * s.gain)
                 END) AS e
      FROM seeds s, (SELECT unnest(range(0, 64)) AS j) t
      GROUP BY 1, 2
    ),
    fp AS (
      SELECT a.audio_id,
             CAST(sum(CASE WHEN b.e > a.e THEN (1::BIGINT << a.w)
                           ELSE 0 END) AS BIGINT) AS h
      FROM sq a JOIN sq b ON b.audio_id = a.audio_id AND b.w = a.w + 1
      GROUP BY 1
    )
    SELECT f1.audio_id, count(*) AS n_earlier_adups
    FROM fp f1 JOIN fp f2 ON f2.audio_id < f1.audio_id
    WHERE bit_count(xor(f1.h, f2.h)) <= 3
    GROUP BY 1
    """


@query("streaming_audio_fp_ingest", oracle=_AUDIO_FP_INGEST_ORACLE)
def streaming_audio_fp_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING perceptual AUDIO ingest — the energy-hash fingerprint
    index as accumulating stream state, via the SAME generic fold as
    the image ingest (streaming/phash_ingest.py:run_fingerprint_ingest
    — crash semantics, replay guard, and index discipline written
    once, bound per modality): clips (the perceptual audio fixture of
    av_audio_fp_near_dups: bases plus doubled-gain copies plus
    one-window edits) arrive in audio_id order, split by ntile(3) into
    3 equal-count micro-batches — id ORDER is what parity needs;
    fixture groups may straddle a batch boundary, which only moves
    mates between the within-batch and index-probe arms; each batch
    is DECODED ONCE, flags
    within-batch earlier mates via the pigeonhole blocked self-join,
    probes the stored fingerprint index with its blocks broadcast,
    then appends its O(batch) 16-byte fingerprints under the
    high-water replay guard. Id-ordered batches make the drained
    output equal the brute-force earlier-partners oracle."""
    import os

    from dwh_spark.plans.av import _audio_fp_fixture
    from dwh_spark.streaming.ingest import ParquetAppendLog
    from dwh_spark.streaming.phash_ingest import (
        read_audio_fp_ingest_results,
        run_audio_fp_ingest,
    )

    docs = doc_ids(spark, sf_dir)
    audio = _audio_fp_fixture(docs, base=True, variants=True)

    root = scratch_dir("dwh_audio_fp_ingest_")
    input_dir = _stage_ntile_slices(audio, root, 3, "audio_id")

    index_store = ParquetAppendLog(os.path.join(root, "index"), write_partitions=1)
    out_dir = os.path.join(root, "out")
    stream = (
        spark.readStream.schema(audio.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    run_audio_fp_ingest(stream, index_store, out_dir, os.path.join(root, "ckpt"))
    return read_audio_fp_ingest_results(spark, out_dir)


_VIDEO_PHASH_INGEST_ORACLE = """
    WITH ids AS (
      SELECT doc_id AS video_id, doc_id AS base, 0 AS edit FROM documents
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 0 FROM documents WHERE doc_id % 10 = 4
      UNION ALL
      SELECT doc_id + 2000000, doc_id, 1 FROM documents WHERE doc_id % 10 = 6
    ),
    cells AS (
      SELECT i.video_id, f.f, g.r, g.c,
             ((('0x' || substr(md5(CAST(i.base AS VARCHAR) || ':'
                                  || CAST(f.f AS VARCHAR) || ':' || g.r
                                  || ':' || g.c), 1, 1))::INT
               + CASE WHEN i.edit = 1 AND f.f = 2 AND g.r = i.base % 8
                       AND g.c = (i.base // 8) % 8 THEN 1 ELSE 0 END)
              % 2) AS b
      FROM ids i,
           (SELECT unnest(range(0, 4)) AS f) f,
           (SELECT r.r, c.c
            FROM (SELECT unnest(range(0, 8)) AS r) r,
                 (SELECT unnest(range(0, 8)) AS c) c) g
    ),
    hashes AS (
      SELECT b1.video_id, b1.f,
             CAST(sum(CASE WHEN b2.b = 1 AND b1.b = 0
                           THEN (1::BIGINT << (b1.r * 7 + b1.c))
                           ELSE 0 END) AS BIGINT) AS h
      FROM cells b1
      JOIN cells b2 ON b2.video_id = b1.video_id AND b2.f = b1.f
                   AND b2.r = b1.r AND b2.c = b1.c + 1
      GROUP BY 1, 2
    ),
    votes AS (
      SELECT h1.video_id AS later_id, h2.video_id AS earlier_id, count(*) AS n
      FROM hashes h1
      JOIN hashes h2 ON h2.f = h1.f AND h2.video_id < h1.video_id
      WHERE bit_count(xor(h1.h, h2.h)) <= 3
      GROUP BY 1, 2 HAVING count(*) >= 3
    )
    SELECT later_id AS video_id, count(*) AS n_earlier_vdups
    FROM votes GROUP BY 1
    """


@query("streaming_video_phash_ingest", oracle=_VIDEO_PHASH_INGEST_ORACLE)
def streaming_video_phash_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING perceptual VIDEO ingest — the per-frame dHash index as
    accumulating stream state with the VOTE probe
    (streaming/phash_ingest.py:run_video_phash_ingest), completing the
    last rung of the modality matrix: every dedup family (MinHash,
    semantic, image, audio, video) now runs batch + incremental +
    streaming. Videos (the perceptual video fixture: bases plus 2x
    re-encodes plus frame-2 edits) arrive in video_id order, split by
    ntile(3) into 3 equal-count micro-batches — id ORDER is what
    parity needs; fixture groups may straddle a batch boundary, which
    only moves mates between the within-batch and index-probe arms;
    each batch decodes only itself (one Arrow pass per
    fold), votes within-batch, probes the stored (video_id, frame_ix,
    dhash) index per (frame_ix, block) with its blocks broadcast, then
    appends O(batch frames) 16-byte rows under the high-water replay
    guard. Drained output equals the brute-force earlier-partners
    vote oracle."""
    import os

    from dwh_spark.plans.av import _video_phash_fixture
    from dwh_spark.streaming.ingest import ParquetAppendLog
    from dwh_spark.streaming.phash_ingest import (
        read_video_phash_ingest_results,
        run_video_phash_ingest,
    )

    docs = doc_ids(spark, sf_dir)
    vids = _video_phash_fixture(docs, base=True, variants=True)

    root = scratch_dir("dwh_video_phash_ingest_")
    input_dir = _stage_ntile_slices(vids, root, 3, "video_id")

    index_store = ParquetAppendLog(os.path.join(root, "index"), write_partitions=1)
    out_dir = os.path.join(root, "out")
    stream = (
        spark.readStream.schema(vids.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    run_video_phash_ingest(stream, index_store, out_dir, os.path.join(root, "ckpt"))
    return read_video_phash_ingest_results(spark, out_dir)


_AUDIO_OFFSET_INGEST_ORACLE = """
    WITH ids AS (
      SELECT doc_id AS audio_id, doc_id AS base, 0 AS skip_head, 57 AS n_win
      FROM documents
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 8, 49 FROM documents
      WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 0, 49 FROM documents
      WHERE doc_id % 10 = 7
    ),
    seeds AS (
      SELECT i.audio_id, w.w,
             ('0x' || substr(md5('off:' || CAST(i.base AS VARCHAR) || ':'
                              || CAST(i.skip_head + w.w AS VARCHAR)), 1, 4))::BIGINT
               % 2048 AS a
      FROM ids i, (SELECT unnest(range(0, 57)) AS w) w
      WHERE w.w < i.n_win
    ),
    sq AS (
      SELECT s.audio_id, s.w,
             sum((((s.a + t.j * 13) % 2048 - 1024)
                  * ((s.a + t.j * 13) % 2048 - 1024))) AS e
      FROM seeds s, (SELECT unnest(range(0, 64)) AS j) t
      GROUP BY 1, 2
    ),
    bits AS (
      SELECT a.audio_id, a.w, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS b
      FROM sq a JOIN sq b ON b.audio_id = a.audio_id AND b.w = a.w + 1
    ),
    sub AS (
      SELECT b.audio_id, p.p,
             CAST(sum(CASE WHEN b.b = 1
                           THEN (1::BIGINT << (b.w - p.p)) ELSE 0 END)
                  AS BIGINT) AS word
      FROM bits b
      JOIN (SELECT unnest(range(0, 25)) AS p) p
        ON b.w >= p.p AND b.w < p.p + 32
      GROUP BY 1, 2
      HAVING count(*) = 32
    ),
    offset_pairs AS (
      SELECT a.audio_id AS id_a, b.audio_id AS id_b
      FROM sub a JOIN sub b
        ON b.word = a.word AND a.audio_id < b.audio_id
      GROUP BY a.audio_id, b.audio_id, (a.p - b.p)
      HAVING count(*) >= 5
    ),
    partners AS (SELECT DISTINCT id_a, id_b FROM offset_pairs)
    SELECT id_b AS audio_id, count(*) AS n_earlier_odups
    FROM partners GROUP BY 1
    """


@query("streaming_audio_offset_ingest", oracle=_AUDIO_OFFSET_INGEST_ORACLE)
def streaming_audio_offset_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING OFFSET-TOLERANT audio ingest — the Haitsma-Kalker
    subfingerprint LOOKUP TABLE as accumulating stream state
    (streaming/phash_ingest.py:run_audio_offset_ingest), so the stream
    flags earlier TRIMMED/time-shifted copies that the whole-clip-hash
    stream (streaming_audio_fp_ingest) misses by construction: clips
    (the offset fixture of av_audio_fp_offset_near_dups: bases plus
    head-trim and tail-trim+gain copies) arrive in audio_id order,
    split by ntile(3) into 3 equal-count micro-batches — id ORDER is
    what parity needs; fixture groups may straddle a batch boundary,
    which only moves partners between the within-batch and index-probe
    arms. Each batch is DECODED ONCE into its subfingerprints, votes
    within-batch by self-probing its own words, probes the stored
    table with its words BROADCAST, then appends O(batch positions)
    ~12-byte rows under the high-water replay guard. Drained output
    equals the brute-force earlier-partners offset-vote oracle."""
    import os

    from dwh_spark.plans.av import _audio_offset_fixture
    from dwh_spark.streaming.ingest import ParquetAppendLog
    from dwh_spark.streaming.phash_ingest import (
        read_audio_offset_ingest_results,
        run_audio_offset_ingest,
    )

    docs = doc_ids(spark, sf_dir)
    audio = _audio_offset_fixture(docs, base=True, variants=True)

    root = scratch_dir("dwh_audio_offset_ingest_")
    input_dir = _stage_ntile_slices(audio, root, 3, "audio_id")

    index_store = ParquetAppendLog(os.path.join(root, "index"), write_partitions=1)
    out_dir = os.path.join(root, "out")
    stream = (
        spark.readStream.schema(audio.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    run_audio_offset_ingest(stream, index_store, out_dir, os.path.join(root, "ckpt"))
    return read_audio_offset_ingest_results(spark, out_dir)


_VIDEO_OFFSET_INGEST_ORACLE = """
    WITH ids AS (
      SELECT doc_id AS video_id, doc_id AS base, 0 AS drop_head, 0 AS edit
      FROM documents
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 1, 0 FROM documents WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 1, 1 FROM documents WHERE doc_id % 10 = 7
    ),
    cells AS (
      SELECT i.video_id, f.f - i.drop_head AS f, g.r, g.c,
             ((('0x' || substr(md5('voff:' || CAST(i.base AS VARCHAR) || ':'
                                  || CAST(f.f AS VARCHAR) || ':' || g.r
                                  || ':' || g.c), 1, 1))::INT
               + CASE WHEN i.edit = 1 AND f.f = 2 AND g.r = i.base % 8
                       AND g.c = (i.base // 8) % 8 THEN 1 ELSE 0 END)
              % 2) AS b
      FROM ids i,
           (SELECT unnest(range(0, 5)) AS f) f,
           (SELECT r.r, c.c
            FROM (SELECT unnest(range(0, 8)) AS r) r,
                 (SELECT unnest(range(0, 8)) AS c) c) g
      WHERE f.f >= i.drop_head
    ),
    hashes AS (
      SELECT b1.video_id, b1.f,
             CAST(sum(CASE WHEN b2.b = 1 AND b1.b = 0
                           THEN (1::BIGINT << (b1.r * 7 + b1.c))
                           ELSE 0 END) AS BIGINT) AS h
      FROM cells b1
      JOIN cells b2 ON b2.video_id = b1.video_id AND b2.f = b1.f
                   AND b2.r = b1.r AND b2.c = b1.c + 1
      GROUP BY 1, 2
    ),
    offset_pairs AS (
      SELECT a.video_id AS id_a, b.video_id AS id_b
      FROM hashes a JOIN hashes b ON a.video_id < b.video_id
      WHERE bit_count(xor(a.h, b.h)) <= 3
      GROUP BY a.video_id, b.video_id, (b.f - a.f)
      HAVING count(*) >= 3
    ),
    partners AS (SELECT DISTINCT id_a, id_b FROM offset_pairs)
    SELECT id_b AS video_id, count(*) AS n_earlier_ovdups
    FROM partners GROUP BY 1
    """


@query("streaming_video_offset_ingest", oracle=_VIDEO_OFFSET_INGEST_ORACLE)
def streaming_video_offset_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING OFFSET-TOLERANT video ingest — completes the offset
    family's modality matrix (audio batch/incremental/streaming, video
    batch/incremental/STREAMING): the per-frame fingerprint index as
    stream state with the RELATIVE-OFFSET vote probe
    (streaming/phash_ingest.py:run_video_offset_ingest), so the stream
    flags earlier head-dropped copies the aligned video fold misses by
    construction. Videos (the offset fixture: 5-frame bases plus
    head-dropped and head-dropped+edited copies) arrive in video_id
    order, split by ntile(3) into 3 equal-count micro-batches — id
    ORDER is what parity needs; fixture groups may straddle a batch
    boundary, which only moves partners between the within-batch and
    index-probe arms. Each batch decodes only itself (one Arrow pass),
    self-probes for within-batch partners, probes the stored index
    with its frames BROADCAST, then appends O(batch frames) 16-byte
    rows under the high-water replay guard. Drained output equals the
    brute-force earlier-partners offset-vote oracle."""
    import os

    from dwh_spark.plans.av import _video_offset_fixture
    from dwh_spark.streaming.ingest import ParquetAppendLog
    from dwh_spark.streaming.phash_ingest import (
        read_video_offset_ingest_results,
        run_video_offset_ingest,
    )

    docs = doc_ids(spark, sf_dir)
    vids = _video_offset_fixture(docs, base=True, variants=True)

    root = scratch_dir("dwh_video_offset_ingest_")
    input_dir = _stage_ntile_slices(vids, root, 3, "video_id")

    index_store = ParquetAppendLog(os.path.join(root, "index"), write_partitions=1)
    out_dir = os.path.join(root, "out")
    stream = (
        spark.readStream.schema(vids.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    run_video_offset_ingest(stream, index_store, out_dir, os.path.join(root, "ckpt"))
    return read_video_offset_ingest_results(spark, out_dir)


_AUDIO_OFFSET_ENTROPY_INGEST_ORACLE = """
    WITH ids AS (
      SELECT doc_id AS audio_id, doc_id AS base, 48 AS n_sil, 57 AS n_con
      FROM documents
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 40, 57 FROM documents
      WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 48, 49 FROM documents
      WHERE doc_id % 10 = 7
    ),
    con AS (
      SELECT i.audio_id, i.n_sil + w.w AS w,
             sum((((('0x' || substr(md5('offc:' || CAST(i.base AS VARCHAR)
                                     || ':' || CAST(w.w AS VARCHAR)), 1, 4))::BIGINT
                     % 2048 + t.j * 13) % 2048 - 1024)
                  * ((('0x' || substr(md5('offc:' || CAST(i.base AS VARCHAR)
                                     || ':' || CAST(w.w AS VARCHAR)), 1, 4))::BIGINT
                     % 2048 + t.j * 13) % 2048 - 1024))) AS e
      FROM ids i,
           (SELECT unnest(range(0, 57)) AS w) w,
           (SELECT unnest(range(0, 64)) AS j) t
      WHERE w.w < i.n_con
      GROUP BY 1, 2
    ),
    energies AS (
      SELECT audio_id, w, e FROM con
      UNION ALL
      SELECT i.audio_id, w.w, 0 AS e
      FROM ids i, (SELECT unnest(range(0, 48)) AS w) w
      WHERE w.w < i.n_sil
    ),
    bits AS (
      SELECT a.audio_id, a.w, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS b
      FROM energies a
      JOIN energies b ON b.audio_id = a.audio_id AND b.w = a.w + 1
    ),
    sub AS (
      SELECT b.audio_id, p.p,
             CAST(sum(CASE WHEN b.b = 1
                           THEN (1::BIGINT << (b.w - p.p)) ELSE 0 END)
                  AS BIGINT) AS word
      FROM bits b
      JOIN (SELECT unnest(range(0, 73)) AS p) p
        ON b.w >= p.p AND b.w < p.p + 32
      GROUP BY 1, 2
      HAVING count(*) = 32
    ),
    lively AS (
      SELECT audio_id, p, word FROM sub
      WHERE bit_count(xor(word, word >> 1) & 2147483647) >= 4
    ),
    offset_pairs AS (
      SELECT a.audio_id AS id_a, b.audio_id AS id_b
      FROM lively a JOIN lively b
        ON b.word = a.word AND a.audio_id < b.audio_id
      GROUP BY a.audio_id, b.audio_id, (a.p - b.p)
      HAVING count(*) >= 5
    ),
    partners AS (SELECT DISTINCT id_a, id_b FROM offset_pairs)
    SELECT id_b AS audio_id, count(*) AS n_earlier_odups
    FROM partners GROUP BY 1
    """


@query(
    "streaming_audio_offset_entropy_ingest",
    oracle=_AUDIO_OFFSET_ENTROPY_INGEST_ORACLE,
)
def streaming_audio_offset_entropy_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The STREAMING hot-word guard end-to-end: the offset fold of
    streaming_audio_offset_ingest run over the SILENCE-PADDED corpus
    (every clip leads with 48 silent windows — without a guard the
    sub32=0 bucket pairs every clip with every earlier clip) with
    ``min_word_transitions=4``, the stateless low-entropy skip
    (multimodal/audio_fp.py:drop_low_entropy_words) applied inside
    the fold BEFORE its three consumers — the stored lookup table
    never holds a degenerate word, the within-batch self-join never
    forms the silent bucket, and the probe side is filtered map-side
    with NO stored statistics (the form an append-only stream state
    can apply; the df-cap stays the batch/ingest form,
    av_audio_fp_offset_capped_ingest). The planted head-trim and
    tail-trim+gain copies still flag their earlier base through the
    high-transition content words. The oracle re-derives every word,
    applies the SAME transition filter to both join sides, and
    brute-forces the earlier-partners offset vote."""
    import os

    from dwh_spark.plans.av import _audio_silence_offset_fixture
    from dwh_spark.streaming.ingest import ParquetAppendLog
    from dwh_spark.streaming.phash_ingest import (
        read_audio_offset_ingest_results,
        run_audio_offset_ingest,
    )

    docs = doc_ids(spark, sf_dir)
    audio = _audio_silence_offset_fixture(docs, base=True, variants=True)

    root = scratch_dir("dwh_audio_offset_entropy_ingest_")
    input_dir = _stage_ntile_slices(audio, root, 3, "audio_id")

    index_store = ParquetAppendLog(os.path.join(root, "index"), write_partitions=1)
    out_dir = os.path.join(root, "out")
    stream = (
        spark.readStream.schema(audio.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    run_audio_offset_ingest(
        stream,
        index_store,
        out_dir,
        os.path.join(root, "ckpt"),
        min_word_transitions=4,
    )
    return read_audio_offset_ingest_results(spark, out_dir)


_AUDIO_OFFSET_CAP_COMPACTION_ORACLE = """
    WITH ids AS (
      SELECT doc_id AS audio_id, doc_id AS base,
             CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS jing,
             0 AS skip_head, 57 AS n_con
      FROM documents
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 0, 8, 49 FROM documents
      WHERE doc_id % 10 = 3
    ),
    bt AS (
      SELECT audio_id, ntile(3) OVER (ORDER BY audio_id) AS b FROM ids
    ),
    jwin AS (
      SELECT w.w,
             sum((((('0x' || substr(md5('jgl:' || CAST(w.w AS VARCHAR)),
                                    1, 4))::BIGINT
                     % 2048 + t.j * 13) % 2048 - 1024)
                  * ((('0x' || substr(md5('jgl:' || CAST(w.w AS VARCHAR)),
                                    1, 4))::BIGINT
                     % 2048 + t.j * 13) % 2048 - 1024))) AS e
      FROM (SELECT unnest(range(0, 40)) AS w) w,
           (SELECT unnest(range(0, 64)) AS j) t
      GROUP BY 1
    ),
    con AS (
      SELECT i.audio_id, i.jing * 40 + w.w AS w,
             sum((((('0x' || substr(md5('cap2:' || CAST(i.base AS VARCHAR)
                                     || ':' || CAST(i.skip_head + w.w AS VARCHAR)),
                                    1, 4))::BIGINT
                     % 2048 + t.j * 13) % 2048 - 1024)
                  * ((('0x' || substr(md5('cap2:' || CAST(i.base AS VARCHAR)
                                     || ':' || CAST(i.skip_head + w.w AS VARCHAR)),
                                    1, 4))::BIGINT
                     % 2048 + t.j * 13) % 2048 - 1024))) AS e
      FROM ids i,
           (SELECT unnest(range(0, 57)) AS w) w,
           (SELECT unnest(range(0, 64)) AS j) t
      WHERE w.w < i.n_con
      GROUP BY 1, 2
    ),
    energies AS (
      SELECT audio_id, w, e FROM con
      UNION ALL
      SELECT i.audio_id, j.w, j.e FROM ids i JOIN jwin j ON i.jing = 1
    ),
    bits AS (
      SELECT a.audio_id, a.w, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS b
      FROM energies a
      JOIN energies b ON b.audio_id = a.audio_id AND b.w = a.w + 1
    ),
    sub AS (
      SELECT b.audio_id, p.p,
             CAST(sum(CASE WHEN b.b = 1
                           THEN (1::BIGINT << (b.w - p.p)) ELSE 0 END)
                  AS BIGINT) AS word
      FROM bits b
      JOIN (SELECT unnest(range(0, 65)) AS p) p
        ON b.w >= p.p AND b.w < p.p + 32
      GROUP BY 1, 2
      HAVING count(*) = 32
    ),
    wb AS (
      SELECT s.audio_id, s.p, s.word, bt.b
      FROM sub s JOIN bt ON bt.audio_id = s.audio_id
      WHERE bit_count(xor(s.word, s.word >> 1) & 2147483647) >= 4
    ),
    hot1 AS (
      SELECT word FROM (
        SELECT word, count(*) AS df FROM wb WHERE b = 1 GROUP BY 1
      ) WHERE df > 16
    ),
    idx2 AS (
      SELECT word, count(*) AS df FROM wb
      WHERE b = 2 AND word NOT IN (SELECT word FROM hot1)
      GROUP BY 1
    ),
    hot2 AS (
      SELECT word FROM (
        SELECT word, sum(df) AS df FROM (
          SELECT word, count(*) AS df FROM wb WHERE b = 1 GROUP BY 1
          UNION ALL
          SELECT word, df FROM idx2
        ) GROUP BY 1
      ) WHERE df > 16
    ),
    offset_pairs AS (
      SELECT x.audio_id AS id_a, n.audio_id AS id_b
      FROM wb x JOIN wb n
        ON n.word = x.word AND x.audio_id < n.audio_id
      WHERE n.b = 1
         OR (n.b = 2 AND n.word NOT IN (SELECT word FROM hot1))
         OR (n.b = 3 AND n.word NOT IN (SELECT word FROM hot2))
      GROUP BY x.audio_id, n.audio_id, (x.p - n.p)
      HAVING count(*) >= 5
    ),
    partners AS (SELECT DISTINCT id_a, id_b FROM offset_pairs)
    SELECT id_b AS audio_id, count(*) AS n_earlier_odups
    FROM partners GROUP BY 1
    """


@query(
    "streaming_audio_offset_cap_compaction",
    oracle=_AUDIO_OFFSET_CAP_COMPACTION_ORACLE,
)
def streaming_audio_offset_cap_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The STREAMING df-cap, composed with the fold via the compaction
    seam (VERDICT r13 next #4, closing the documented guard
    composition): a shared 40-window JINGLE leads every %5==0 clip —
    HIGH-ENTROPY, so the stateless transition guard passes it by
    design, and corpus-hot, so only accumulated statistics can catch
    it. streaming/phash_ingest.py:run_audio_offset_cap_ingest keeps
    per-word df as its own append log of per-batch partials
    (WordDfCapMaintenance — the append_with_df merge discipline,
    never a corpus rescan): the jingle words accumulate df across the
    FIRST batch, cross the cap (df > 16; ~37 jingled clips land in
    batch 1 at every sf), and from batch 2 on are anti-joined
    BROADCAST off every probe/append — batch-1 clips pair with each
    other through the jingle (the stated warm-up: df must accumulate
    before the cap can see it), later batches DON'T, while the
    planted head-trim copies keep flagging their earlier base through
    content words. Mid-run, ``ParquetAppendLog.compact(transform=
    anti-join hot)`` rewrites the stored rows away (compact_every=2 —
    output-invariant by design, pinned by
    tests/test_cap_compaction.py; the per-batch hot filter does the
    correctness work, compaction shrinks state). The cap is
    CUMULATIVE and the fixture exercises exactly that: the
    jingle-to-content boundary words form nested families (a shared
    31-bit prefix plus k per-doc bits — df ~ jingled/2^k), so the
    k=1 family crosses the cap with the jingle after batch 1 while
    the k=2 family only crosses after batch 2 — a second wave of hot
    values the batch-1-only rule would miss. The oracle re-derives
    every word, reproduces the 3-way ntile batch split, recomputes
    hot-after-batch-1 AND hot-after-batch-2 with the SAME
    accumulate-then-freeze discipline (batch-2 postings of an
    already-hot word never count — filtered rows are never indexed),
    and allows a word match per the later side's batch: always in
    batch 1, not-hot1 in batch 2, not-hot2 in batch 3."""
    import os

    from dwh_spark.plans.av import _audio_jingle_offset_fixture
    from dwh_spark.streaming.ingest import ParquetAppendLog
    from dwh_spark.streaming.phash_ingest import (
        read_audio_offset_ingest_results,
        run_audio_offset_cap_ingest,
    )

    docs = doc_ids(spark, sf_dir)
    audio = _audio_jingle_offset_fixture(docs, base=True, variants=True)

    root = scratch_dir("dwh_audio_offset_cap_compaction_")
    input_dir = _stage_ntile_slices(audio, root, 3, "audio_id")

    index_store = ParquetAppendLog(os.path.join(root, "index"), write_partitions=1)
    stats_store = ParquetAppendLog(os.path.join(root, "stats"), write_partitions=1)
    out_dir = os.path.join(root, "out")
    stream = (
        spark.readStream.schema(audio.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    run_audio_offset_cap_ingest(
        stream,
        index_store,
        stats_store,
        out_dir,
        os.path.join(root, "ckpt"),
        min_matches=5,
        min_word_transitions=4,
        max_word_freq=16,
        compact_every=2,
    )
    return read_audio_offset_ingest_results(spark, out_dir)


_AUDIO_OFFSET_WINDOW_INGEST_ORACLE = """
    WITH ids AS (
      SELECT doc_id AS audio_id, doc_id AS base,
             CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS jing,
             0 AS skip_head, 57 AS n_con
      FROM documents
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 0, 8, 49 FROM documents
      WHERE doc_id % 10 = 3
    ),
    bt AS (
      SELECT audio_id, ntile(3) OVER (ORDER BY audio_id) AS b FROM ids
    ),
    jwin AS (
      SELECT w.w,
             sum((((('0x' || substr(md5('jgl:' || CAST(w.w AS VARCHAR)),
                                    1, 4))::BIGINT
                     % 2048 + t.j * 13) % 2048 - 1024)
                  * ((('0x' || substr(md5('jgl:' || CAST(w.w AS VARCHAR)),
                                    1, 4))::BIGINT
                     % 2048 + t.j * 13) % 2048 - 1024))) AS e
      FROM (SELECT unnest(range(0, 40)) AS w) w,
           (SELECT unnest(range(0, 64)) AS j) t
      GROUP BY 1
    ),
    con AS (
      SELECT i.audio_id, i.jing * 40 + w.w AS w,
             sum((((('0x' || substr(md5('cap2:' || CAST(i.base AS VARCHAR)
                                     || ':' || CAST(i.skip_head + w.w AS VARCHAR)),
                                    1, 4))::BIGINT
                     % 2048 + t.j * 13) % 2048 - 1024)
                  * ((('0x' || substr(md5('cap2:' || CAST(i.base AS VARCHAR)
                                     || ':' || CAST(i.skip_head + w.w AS VARCHAR)),
                                    1, 4))::BIGINT
                     % 2048 + t.j * 13) % 2048 - 1024))) AS e
      FROM ids i,
           (SELECT unnest(range(0, 57)) AS w) w,
           (SELECT unnest(range(0, 64)) AS j) t
      WHERE w.w < i.n_con
      GROUP BY 1, 2
    ),
    energies AS (
      SELECT audio_id, w, e FROM con
      UNION ALL
      SELECT i.audio_id, j.w, j.e FROM ids i JOIN jwin j ON i.jing = 1
    ),
    bits AS (
      SELECT a.audio_id, a.w, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS b
      FROM energies a
      JOIN energies b ON b.audio_id = a.audio_id AND b.w = a.w + 1
    ),
    sub AS (
      SELECT b.audio_id, p.p,
             CAST(sum(CASE WHEN b.b = 1
                           THEN (1::BIGINT << (b.w - p.p)) ELSE 0 END)
                  AS BIGINT) AS word
      FROM bits b
      JOIN (SELECT unnest(range(0, 65)) AS p) p
        ON b.w >= p.p AND b.w < p.p + 32
      GROUP BY 1, 2
      HAVING count(*) = 32
    ),
    wb AS (
      SELECT s.audio_id, s.p, s.word, bt.b
      FROM sub s JOIN bt ON bt.audio_id = s.audio_id
      WHERE bit_count(xor(s.word, s.word >> 1) & 2147483647) >= 4
    ),
    hot1 AS (
      SELECT word FROM (
        SELECT word, count(*) AS df FROM wb WHERE b = 1 GROUP BY 1
      ) WHERE df > 16
    ),
    post_index AS (
      SELECT audio_id, p, word FROM wb
      WHERE b = 2 AND word NOT IN (SELECT word FROM hot1)
        AND audio_id % 20 != 3
    ),
    hot3 AS (
      SELECT word FROM (
        SELECT word, count(*) AS df FROM post_index GROUP BY 1
      ) WHERE df > 16
    ),
    offset_pairs AS (
      SELECT x.audio_id AS id_a, n.audio_id AS id_b
      FROM wb x JOIN wb n
        ON n.word = x.word AND x.audio_id < n.audio_id
      WHERE n.b = 1
         OR (n.b = 2 AND n.word NOT IN (SELECT word FROM hot1))
         OR (n.b = 3 AND n.word NOT IN (SELECT word FROM hot3)
             AND (x.b = 3
                  OR (x.b = 2
                      AND x.word NOT IN (SELECT word FROM hot1)
                      AND x.audio_id % 20 != 3)))
      GROUP BY x.audio_id, n.audio_id, (x.p - n.p)
      HAVING count(*) >= 5
    ),
    partners AS (SELECT DISTINCT id_a, id_b FROM offset_pairs)
    SELECT id_b AS audio_id, count(*) AS n_earlier_odups
    FROM partners GROUP BY 1
    """


@query(
    "streaming_audio_offset_window_ingest",
    oracle=_AUDIO_OFFSET_WINDOW_INGEST_ORACLE,
)
def streaming_audio_offset_window_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE FINGERPRINT MAINTENANCE WINDOW RUN MID-STREAM (VERDICT r16
    What's-missing #5, second half) — the FP twin of
    streaming_semantic_window_ingest: the audio OFFSET fold with the
    streaming df-cap (the streaming_audio_offset_cap_compaction
    composition) drains three id-ordered micro-batches of the jingle
    fixture, and after batch 2's commit the FULL
    ``run_fp_maintenance_window`` runs from the fold's maintenance
    seam — forget the %20==3 clips (per-segment index rewrite + exact
    stats shrink by the forgotten rows' own partials), recalibrate,
    EXPIRE batch 1's index segment with the stats shrunk by the
    expired partials, optimize. Batch 3 then folds against the
    windowed stores.

    THREE window effects are observable in batch 3's output, each
    oracle-pinned: (a) a trim copy whose base was FORGOTTEN (%20==3,
    base in batch 2) loses its earlier partner — erasure durable
    mid-stream; (b) a trim copy whose base sat in batch 1 loses its
    partner to the HORIZON (the expired segment is gone before batch
    3 probes); (c) the fold's hot-word set is re-derived from the
    post-window stats log, and the window's shrink (stats ==
    rebuild-over-retained) has RE-ADMITTED the jingle words — their
    surviving postings were hot1-filtered out of batch 2's index and
    their batch-1 partials expired — so batch-3 jingled clips pair
    with each other within-batch through the jingle again (the
    documented bounded-oscillation semantics of a shrinking stats
    log, observable instead of asserted). The oracle re-derives every
    H-K word, the hot1 freeze, the post-window index and its hot set,
    and allows each pair per the later side's batch and the earlier
    side's survival.

    100 TB: per-batch fold cost unchanged; the window runs in the
    seam the fold already owns and costs what its phases cost."""
    import os

    from dwh_spark.plans.av import _audio_jingle_offset_fixture
    from dwh_spark.streaming.ingest import ParquetAppendLog
    from dwh_spark.streaming.phash_ingest import (
        read_audio_offset_ingest_results,
        run_audio_offset_cap_window_ingest,
    )

    docs = doc_ids(spark, sf_dir)
    audio = _audio_jingle_offset_fixture(docs, base=True, variants=True)

    root = scratch_dir("dwh_audio_offset_window_ingest_")
    input_dir = _stage_ntile_slices(audio, root, 3, "audio_id")

    index_store = ParquetAppendLog(os.path.join(root, "index"), write_partitions=1)
    stats_store = ParquetAppendLog(os.path.join(root, "stats"), write_partitions=1)
    out_dir = os.path.join(root, "out")
    fids = docs.filter(F.col("doc_id") % 20 == 3).select(
        F.col("doc_id").alias("audio_id")
    )
    stream = (
        spark.readStream.schema(audio.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    run_audio_offset_cap_window_ingest(
        stream,
        index_store,
        stats_store,
        out_dir,
        os.path.join(root, "ckpt"),
        min_matches=5,
        min_word_transitions=4,
        max_word_freq=16,
        window_at=1,
        forgotten_ids=fids,
        expire_keep_from=1,
    )
    return read_audio_offset_ingest_results(spark, out_dir)


_AUDIO_OFFSET_FORGET_INGEST_ORACLE = """
    WITH ids AS (
      SELECT doc_id AS audio_id, doc_id AS base, 0 AS skip_head, 57 AS n_win
      FROM documents
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 8, 49 FROM documents
      WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 0, 49 FROM documents
      WHERE doc_id % 10 = 7
    ),
    bt AS (
      SELECT audio_id, ntile(3) OVER (ORDER BY audio_id) AS b FROM ids
    ),
    seeds AS (
      SELECT i.audio_id, w.w,
             ('0x' || substr(md5('off:' || CAST(i.base AS VARCHAR) || ':'
                              || CAST(i.skip_head + w.w AS VARCHAR)), 1, 4))::BIGINT
               % 2048 AS a
      FROM ids i, (SELECT unnest(range(0, 57)) AS w) w
      WHERE w.w < i.n_win
    ),
    sq AS (
      SELECT s.audio_id, s.w,
             sum((((s.a + t.j * 13) % 2048 - 1024)
                  * ((s.a + t.j * 13) % 2048 - 1024))) AS e
      FROM seeds s, (SELECT unnest(range(0, 64)) AS j) t
      GROUP BY 1, 2
    ),
    bits AS (
      SELECT a.audio_id, a.w, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS b
      FROM sq a JOIN sq b ON b.audio_id = a.audio_id AND b.w = a.w + 1
    ),
    sub AS (
      SELECT b.audio_id, p.p,
             CAST(sum(CASE WHEN b.b = 1
                           THEN (1::BIGINT << (b.w - p.p)) ELSE 0 END)
                  AS BIGINT) AS word
      FROM bits b
      JOIN (SELECT unnest(range(0, 25)) AS p) p
        ON b.w >= p.p AND b.w < p.p + 32
      GROUP BY 1, 2
      HAVING count(*) = 32
    ),
    wb AS (
      SELECT s.audio_id, s.p, s.word, bt.b
      FROM sub s JOIN bt ON bt.audio_id = s.audio_id
    ),
    offset_pairs AS (
      SELECT x.audio_id AS id_a, n.audio_id AS id_b
      FROM wb x JOIN wb n
        ON n.word = x.word AND x.audio_id < n.audio_id
      WHERE NOT (x.audio_id % 20 = 3 AND x.audio_id < 1000000
                 AND x.b <= 2 AND n.b = 3)
      GROUP BY x.audio_id, n.audio_id, (x.p - n.p)
      HAVING count(*) >= 5
    ),
    partners AS (SELECT DISTINCT id_a, id_b FROM offset_pairs)
    SELECT id_b AS audio_id, count(*) AS n_earlier_odups
    FROM partners GROUP BY 1
    """


@query(
    "streaming_audio_offset_forget_ingest",
    oracle=_AUDIO_OFFSET_FORGET_INGEST_ORACLE,
)
def streaming_audio_offset_forget_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MID-STREAM right-to-be-forgotten (the forget path composed with
    a LIVE fold): the offset-tolerant audio ingest runs over the
    trim-copy corpus, and BETWEEN batches 2 and 3 the maintenance
    hook rewrites the stored lookup table minus the %20==3 base clips
    (``ParquetAppendLog.compact(transform=forget_rows)`` — the atomic
    history-rewrite point; readers see pre- or post-forget state,
    never a mix, and the replay guard is untouched). Batch 3 carries
    every planted copy: copies of FORGOTTEN bases that arrived before
    the forget find nothing; copies of kept bases still flag them;
    and a %20==3 base that only ARRIVES in batch 3 indexes normally
    and is found by its copy — the forget is a point-in-time history
    rewrite, not a standing exclusion (a deployment wanting a
    standing ban keeps the forget set as an ingest filter; both
    semantics stated). The oracle re-derives every word, reproduces
    the ntile batch split, and excludes exactly the
    (forgotten-base-seen-before-batch-3, batch-3-partner) pairs."""
    import os

    from dwh_spark.operators.forget import forget_rows
    from dwh_spark.plans.av import _audio_offset_fixture
    from dwh_spark.streaming.ingest import ParquetAppendLog
    from dwh_spark.streaming.phash_ingest import (
        read_audio_offset_ingest_results,
        run_audio_offset_ingest,
    )

    docs = doc_ids(spark, sf_dir)
    audio = _audio_offset_fixture(docs, base=True, variants=True)
    fids = docs.filter(F.col("doc_id") % 20 == 3).select(
        F.col("doc_id").alias("audio_id")
    )

    root = scratch_dir("dwh_audio_offset_forget_ingest_")
    input_dir = _stage_ntile_slices(audio, root, 3, "audio_id")

    index_store = ParquetAppendLog(os.path.join(root, "index"), write_partitions=1)
    out_dir = os.path.join(root, "out")

    def maint(batch_id: int) -> None:
        # the GDPR request lands after the second batch commits
        if batch_id == 1:
            index_store.compact(
                spark,
                transform=lambda df: forget_rows(df, fids, "audio_id"),
            )

    stream = (
        spark.readStream.schema(audio.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    run_audio_offset_ingest(
        stream,
        index_store,
        out_dir,
        os.path.join(root, "ckpt"),
        min_matches=5,
        maintenance=maint,
    )
    return read_audio_offset_ingest_results(spark, out_dir)


_VIDEO_OFFSET_FORGET_INGEST_ORACLE = """
    WITH ids AS (
      SELECT doc_id AS video_id, doc_id AS base, 0 AS drop_head, 0 AS edit
      FROM documents
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 1, 0 FROM documents WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 1, 1 FROM documents WHERE doc_id % 10 = 7
    ),
    bt AS (
      SELECT video_id, ntile(3) OVER (ORDER BY video_id) AS b FROM ids
    ),
    cells AS (
      SELECT i.video_id, f.f - i.drop_head AS f, g.r, g.c,
             ((('0x' || substr(md5('voff:' || CAST(i.base AS VARCHAR) || ':'
                                  || CAST(f.f AS VARCHAR) || ':' || g.r
                                  || ':' || g.c), 1, 1))::INT
               + CASE WHEN i.edit = 1 AND f.f = 2 AND g.r = i.base % 8
                       AND g.c = (i.base // 8) % 8 THEN 1 ELSE 0 END)
              % 2) AS b
      FROM ids i,
           (SELECT unnest(range(0, 5)) AS f) f,
           (SELECT r.r, c.c
            FROM (SELECT unnest(range(0, 8)) AS r) r,
                 (SELECT unnest(range(0, 8)) AS c) c) g
      WHERE f.f >= i.drop_head
    ),
    hashes AS (
      SELECT b1.video_id, b1.f,
             CAST(sum(CASE WHEN b2.b = 1 AND b1.b = 0
                           THEN (1::BIGINT << (b1.r * 7 + b1.c))
                           ELSE 0 END) AS BIGINT) AS h
      FROM cells b1
      JOIN cells b2 ON b2.video_id = b1.video_id AND b2.f = b1.f
                   AND b2.r = b1.r AND b2.c = b1.c + 1
      GROUP BY 1, 2
    ),
    hb AS (
      SELECT h.video_id, h.f, h.h, bt.b
      FROM hashes h JOIN bt ON bt.video_id = h.video_id
    ),
    offset_pairs AS (
      SELECT a.video_id AS id_a, b.video_id AS id_b
      FROM hb a JOIN hb b ON a.video_id < b.video_id
      WHERE bit_count(xor(a.h, b.h)) <= 3
        AND NOT (a.video_id % 20 = 3 AND a.video_id < 1000000
                 AND a.b <= 2 AND b.b = 3)
      GROUP BY a.video_id, b.video_id, (b.f - a.f)
      HAVING count(*) >= 3
    ),
    partners AS (SELECT DISTINCT id_a, id_b FROM offset_pairs)
    SELECT id_b AS video_id, count(*) AS n_earlier_ovdups
    FROM partners GROUP BY 1
    """


@query(
    "streaming_video_offset_forget_ingest",
    oracle=_VIDEO_OFFSET_FORGET_INGEST_ORACLE,
)
def streaming_video_offset_forget_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MID-STREAM right-to-be-forgotten, VIDEO binding — completes the
    mid-stream forget matrix for the offset family (audio =
    streaming_audio_offset_forget_ingest, embeddings =
    streaming_semantic_retrain_ingest): the offset-tolerant video
    fold runs over the head-drop/edit corpus, and BETWEEN batches 2
    and 3 the maintenance hook rewrites the stored per-frame index
    minus the %20==3 base videos
    (``ParquetAppendLog.compact(transform=forget_frame_index)`` — the
    same atomic history-rewrite point; readers see pre- or post-forget
    state, never a mix, and the high-water replay guard is untouched).
    Batch 3 carries every planted copy: head-dropped copies of
    FORGOTTEN bases that arrived before the forget find nothing;
    copies of kept bases still flag them; and a %20==3 base that only
    ARRIVES in batch 3 indexes normally and is found by its copy —
    point-in-time history rewrite, not a standing exclusion (both
    semantics stated at the audio twin). The oracle re-derives every
    dHash from doc_id arithmetic, reproduces the ntile batch split,
    and excludes exactly the (forgotten-base-seen-before-batch-3,
    batch-3-partner) pairs."""
    import os

    from dwh_spark.operators.forget import forget_frame_index
    from dwh_spark.plans.av import _video_offset_fixture
    from dwh_spark.streaming.ingest import ParquetAppendLog
    from dwh_spark.streaming.phash_ingest import (
        read_video_offset_ingest_results,
        run_video_offset_ingest,
    )

    docs = doc_ids(spark, sf_dir)
    vids = _video_offset_fixture(docs, base=True, variants=True)
    fids = docs.filter(F.col("doc_id") % 20 == 3).select(
        F.col("doc_id").alias("video_id")
    )

    root = scratch_dir("dwh_video_offset_forget_ingest_")
    input_dir = _stage_ntile_slices(vids, root, 3, "video_id")

    index_store = ParquetAppendLog(os.path.join(root, "index"), write_partitions=1)
    out_dir = os.path.join(root, "out")

    def maint(batch_id: int) -> None:
        # the GDPR request lands after the second batch commits
        if batch_id == 1:
            index_store.compact(
                spark,
                transform=lambda df: forget_frame_index(df, fids),
            )

    stream = (
        spark.readStream.schema(vids.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    run_video_offset_ingest(
        stream,
        index_store,
        out_dir,
        os.path.join(root, "ckpt"),
        min_frames=3,
        maintenance=maint,
    )
    return read_video_offset_ingest_results(spark, out_dir)


_VIDEO_OFFSET_CAP_COMPACTION_ORACLE = """
    WITH ids AS (
      SELECT doc_id AS video_id, doc_id AS base,
             CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS titled,
             0 AS drop_head
      FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 0, 1 FROM documents
      WHERE doc_id % 10 = 3 AND doc_id % 2 = 1
    ),
    bt AS (
      SELECT video_id, ntile(3) OVER (ORDER BY video_id) AS b FROM ids
    ),
    grid AS (
      SELECT r.r, c.c
      FROM (SELECT unnest(range(0, 8)) AS r) r,
           (SELECT unnest(range(0, 8)) AS c) c
    ),
    cells AS (
      SELECT i.video_id, i.titled * 3 + f.f - i.drop_head AS f, g.r, g.c,
             (('0x' || substr(md5('vcnt:' || CAST(i.base AS VARCHAR) || ':'
                                  || CAST(f.f AS VARCHAR) || ':' || g.r
                                  || ':' || g.c), 1, 1))::INT % 2) AS b
      FROM ids i, (SELECT unnest(range(0, 5)) AS f) f, grid g
      WHERE f.f >= i.drop_head
      UNION ALL
      SELECT i.video_id, f.f, g.r, g.c,
             (('0x' || substr(md5('vttl:' || CAST(f.f AS VARCHAR) || ':'
                                  || g.r || ':' || g.c), 1, 1))::INT % 2) AS b
      FROM ids i, (SELECT unnest(range(0, 3)) AS f) f, grid g
      WHERE i.titled = 1
    ),
    hashes AS (
      SELECT b1.video_id, b1.f,
             CAST(sum(CASE WHEN b2.b = 1 AND b1.b = 0
                           THEN (1::BIGINT << (b1.r * 7 + b1.c))
                           ELSE 0 END) AS BIGINT) AS h
      FROM cells b1
      JOIN cells b2 ON b2.video_id = b1.video_id AND b2.f = b1.f
                   AND b2.r = b1.r AND b2.c = b1.c + 1
      GROUP BY 1, 2
    ),
    wb AS (
      SELECT h.video_id, bt.b, h.f, h.h, k.i,
             CAST((h.h >> (k.i * 14)) & 16383 AS BIGINT) AS val
      FROM hashes h
      JOIN bt ON bt.video_id = h.video_id,
           (SELECT unnest(range(0, 4)) AS i) k
      WHERE bit_count(h.h) >= 4
    ),
    hot2 AS (
      SELECT i, val FROM (
        SELECT i, val, count(*) AS df
        FROM wb WHERE b = 1 GROUP BY 1, 2
      ) WHERE df > 12
    ),
    hot3 AS (
      SELECT i, val FROM (
        SELECT i, val, count(*) AS df
        FROM wb WHERE b <= 2 GROUP BY 1, 2
      ) WHERE df > 12
    ),
    cand AS (
      SELECT DISTINCT x.video_id AS id_x, n.video_id AS id_n,
                      x.f AS f_x, n.f AS f_n, x.h AS h_x, n.h AS h_n
      FROM wb x JOIN wb n
        ON n.i = x.i AND n.val = x.val AND x.video_id < n.video_id
      WHERE (n.b = 1
             OR (n.b = 2 AND NOT EXISTS (SELECT 1 FROM hot2
                  WHERE hot2.i = x.i AND hot2.val = x.val))
             OR (n.b = 3 AND NOT EXISTS (SELECT 1 FROM hot3
                  WHERE hot3.i = x.i AND hot3.val = x.val)))
        AND bit_count(xor(x.h, n.h)) <= 3
    ),
    votes AS (
      SELECT id_x, id_n
      FROM cand
      GROUP BY id_x, id_n, (f_x - f_n)
      HAVING count(*) >= 3
    ),
    partners AS (SELECT DISTINCT id_x, id_n FROM votes)
    SELECT id_n AS video_id, count(*) AS n_earlier_ovdups
    FROM partners GROUP BY 1
    """


@query(
    "streaming_video_offset_cap_compaction",
    oracle=_VIDEO_OFFSET_CAP_COMPACTION_ORACLE,
)
def streaming_video_offset_cap_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The VIDEO form of the streaming df-cap composition (completes
    the matrix: both offset folds now carry entropy guard + df-cap;
    audio = streaming_audio_offset_cap_compaction): every %5==0 video
    leads with a shared 3-frame TITLE CARD — high-detail, so the
    stateless popcount guard passes it by design, and corpus-hot, so
    only accumulated block statistics can catch it.
    streaming/phash_ingest.py:run_video_offset_cap_ingest keeps the
    bounded (i, val, df) stats table as its own append log of
    per-batch partials (merge_block_df's union-and-resum — every
    input <= n_blocks x 2^14 rows); at each batch the merged stats
    feed block_df/max_block_freq into BOTH the within-batch vote and
    the cross probe, so the title-card block values (df ~ 37 titled
    clips after batch 1, cap 16) stop pairing from batch 2 on —
    batch-1 titled videos pair with each other (the stated warm-up),
    later ones don't, while head-dropped content copies keep flagging
    their earlier base at offset 1. The video/audio asymmetry is
    stated on the class: degenerate video frames are single 16-byte
    rows (damage lives in the JOIN, not storage), so compaction here
    only re-aggregates the tiny stats log — no history rewrite
    needed. The oracle re-derives every dHash, reproduces the ntile
    split, applies the SAME popcount filter, recomputes
    hot-after-batch-1 and hot-after-batch-2 (df never freezes — all
    indexed frames count), and admits a frame pair per the later
    side's batch."""
    import os

    from dwh_spark.plans.av import _video_title_offset_fixture
    from dwh_spark.streaming.ingest import ParquetAppendLog
    from dwh_spark.streaming.phash_ingest import (
        read_video_offset_ingest_results,
        run_video_offset_cap_ingest,
    )

    # half corpus (odd: keeps %10==3 copies and %5==0 i.e. %10==5 titled)
    docs = doc_ids(spark, sf_dir, F.col("doc_id") % 2 == 1)
    vids = _video_title_offset_fixture(docs, base=True, variants=True)

    root = scratch_dir("dwh_video_offset_cap_compaction_")
    input_dir = _stage_ntile_slices(vids, root, 3, "video_id")

    index_store = ParquetAppendLog(os.path.join(root, "index"), write_partitions=1)
    stats_store = ParquetAppendLog(os.path.join(root, "stats"), write_partitions=1)
    out_dir = os.path.join(root, "out")
    stream = (
        spark.readStream.schema(vids.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    run_video_offset_cap_ingest(
        stream,
        index_store,
        stats_store,
        out_dir,
        os.path.join(root, "ckpt"),
        max_hamming=3,
        min_frames=3,
        min_frame_bits=4,
        max_block_freq=12,
        compact_every=2,
    )
    return read_video_offset_ingest_results(spark, out_dir)


def _semantic_retrain_ingest_oracle() -> str:
    from dwh_spark.plans.embeddings import _DOT, _NORM2, trained_prune_ctes

    dot_ab = _DOT.format(a="a.embedding", b="p.embedding")
    dot_seed = _DOT.format(a="v.embedding", b="s.c_emb")
    dot_new = _DOT.format(a="v.embedding", b="t.c_emb")
    return f"""
    WITH base AS (
      SELECT vec_id, embedding, {_NORM2.format(v='embedding')} AS norm2
      FROM embeddings
    ),
    sliced AS (
      SELECT vec_id, embedding, norm2,
             ntile(3) OVER (ORDER BY vec_id) AS b
      FROM base
    ),
    seeds AS (
      SELECT vec_id AS centroid_id, embedding AS c_emb, norm2 AS c_norm2
      FROM sliced WHERE b = 1
      QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8
    ),
    cells12 AS (
      SELECT v.vec_id, v.embedding, v.norm2, s.centroid_id AS cell
      FROM (SELECT * FROM sliced WHERE b <= 2) v CROSS JOIN seeds s
      QUALIFY row_number() OVER (PARTITION BY v.vec_id
          ORDER BY round({dot_seed} / (sqrt(v.norm2) * sqrt(s.c_norm2)), 6) DESC,
                   s.centroid_id) = 1
    ),
    p12 AS (
      SELECT p.vec_id, count(*) AS n
      FROM cells12 a JOIN cells12 p ON a.cell = p.cell AND a.vec_id < p.vec_id
      WHERE round({dot_ab} / (sqrt(a.norm2) * sqrt(p.norm2)), 6) >= 0.1
      GROUP BY 1
    ),
    surv AS (
      SELECT vec_id, embedding, norm2 FROM sliced
      WHERE b <= 2 AND vec_id % 10 != 3
    ),
    {trained_prune_ctes('surv', rows_per_cell=64, threshold=0.3, prefix='new')},
    b3a AS (
      SELECT v.vec_id, v.embedding, v.norm2, t.centroid_id AS cell
      FROM (SELECT * FROM sliced WHERE b = 3) v CROSS JOIN new_t_norm t
      QUALIFY row_number() OVER (PARTITION BY v.vec_id
          ORDER BY round({dot_new} / (sqrt(v.norm2) * sqrt(t.c_norm2)), 6) DESC,
                   t.centroid_id) = 1
    ),
    all3 AS (
      SELECT vec_id, embedding, norm2, cell FROM new_cells
      UNION ALL
      SELECT vec_id, embedding, norm2, cell FROM b3a
    ),
    p3 AS (
      SELECT p.vec_id, count(*) AS n
      FROM all3 a JOIN b3a p ON a.cell = p.cell AND a.vec_id < p.vec_id
      WHERE round({dot_ab} / (sqrt(a.norm2) * sqrt(p.norm2)), 6) >= 0.1
      GROUP BY 1
    )
    SELECT vec_id, n AS n_earlier_sem_dups
    FROM (SELECT * FROM p12 UNION ALL SELECT * FROM p3)
    """


@query(
    "streaming_semantic_retrain_ingest",
    oracle=_semantic_retrain_ingest_oracle(),
)
def streaming_semantic_retrain_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MID-STREAM CENTROID RETRAIN during a live semantic fold — the
    streaming binding of retrain_cells_at_compaction, composing the
    round-14 mid-stream forget with the round-15 executable retrain
    the way streaming_audio_offset_forget_ingest composed forget with
    the H-K fold: vectors arrive in vec_id order across 3
    micro-batches; batches 1-2 fold against the day-0 centroids
    (md5-smallest-8 seeds of the first slice); then — WHILE THE
    STREAM IS LIVE, in the maintenance window after batch 2's commit
    — the %10==3 vectors are forgotten AND the centroids are
    RETRAINED on the survivors (train_semantic_cells, one exact-mean
    Lloyd step, rows_per_cell=64), the store rewritten in one
    compact(transform=...) pass; batch 3 folds against the RETRAINED
    index with the NEW centroids (run_semantic_ingest re-reads its
    centroid provider at each batch start). Batch 3's near-dup counts
    therefore (a) never see a forgotten vector and (b) pair within
    retrained boundaries — both modeled exactly by the oracle, which
    re-derives the day-0 assignment for batches 1-2 and the full
    retrained training for batch 3 in SQL.

    100 TB: the retrain trains on the survivor frame inside the
    compaction the store was due anyway; the fold's per-batch cost is
    unchanged (assign against broadcast centroids, probe stored cells,
    append O(batch))."""
    import os

    from dwh_spark.streaming.emb_ingest import (
        read_semantic_ingest_results,
        retrain_cells_at_compaction,
        run_semantic_ingest,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    root = scratch_dir("dwh_sem_retrain_")
    input_dir = _stage_ntile_slices(emb, root, 3, "vec_id")

    from dwh_spark.streaming.ingest import ParquetAppendLog

    seeds = (
        spark.read.parquet(os.path.join(input_dir, "batch1.parquet"))
        .select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(8)
    )
    index_store = ParquetAppendLog(os.path.join(root, "index"), write_partitions=1)
    out_dir = os.path.join(root, "out")
    holder = {"cents": seeds}
    fids = emb.filter(F.col("vec_id") % 10 == 3).select("vec_id")

    def maintenance(batch_id: int) -> None:
        # after the SECOND batch commits (file-source ids 0,1,2):
        # forget + retrain + rewrite, mid-stream
        if batch_id == 1:
            holder["cents"], _ = retrain_cells_at_compaction(
                spark, index_store, fids, rows_per_cell=64
            )

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    run_semantic_ingest(
        stream,
        lambda: holder["cents"],
        index_store,
        out_dir,
        os.path.join(root, "ckpt"),
        maintenance=maintenance,
    )
    return read_semantic_ingest_results(spark, out_dir)


def _semantic_window_ingest_oracle() -> str:
    from dwh_spark.plans.embeddings import (
        _DOT,
        _NORM2,
        _inertia_sql,
        trained_prune_ctes,
    )

    dot_ab = _DOT.format(a="a.embedding", b="p.embedding")
    dot_seed = _DOT.format(a="v.embedding", b="s.c_emb")
    dot_new = _DOT.format(a="v.embedding", b="t.c_emb")
    return f"""
    WITH base AS (
      SELECT vec_id, embedding, {_NORM2.format(v='embedding')} AS norm2
      FROM embeddings
    ),
    sliced AS (
      SELECT vec_id, embedding, norm2,
             ntile(3) OVER (ORDER BY vec_id) AS b
      FROM base
    ),
    seeds AS (
      SELECT vec_id AS centroid_id, embedding AS c_emb, norm2 AS c_norm2
      FROM sliced WHERE b = 1
      QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 8
    ),
    cells12 AS (
      SELECT v.vec_id, v.embedding, v.norm2, v.b, s.centroid_id AS cell
      FROM (SELECT * FROM sliced WHERE b <= 2) v CROSS JOIN seeds s
      QUALIFY row_number() OVER (PARTITION BY v.vec_id
          ORDER BY round({dot_seed} / (sqrt(v.norm2) * sqrt(s.c_norm2)), 6) DESC,
                   s.centroid_id) = 1
    ),
    p12 AS (
      SELECT p.vec_id, count(*) AS n
      FROM cells12 a JOIN cells12 p ON a.cell = p.cell AND a.vec_id < p.vec_id
      WHERE round({dot_ab} / (sqrt(a.norm2) * sqrt(p.norm2)), 6) >= 0.1
      GROUP BY 1
    ),
    surv AS (
      SELECT vec_id, embedding, norm2 FROM sliced
      WHERE b <= 2 AND vec_id % 10 != 3
    ),
    {trained_prune_ctes('surv', rows_per_cell=64, threshold=0.3, prefix='new')},
    stale_cells AS (
      SELECT vec_id, embedding, norm2, cell FROM cells12 WHERE vec_id % 10 != 3
    ),
    si AS ({_inertia_sql('stale_cells', 'seeds')}),
    ri AS ({_inertia_sql('new_cells', 'new_t_norm')}),
    dec AS (
      SELECT CASE WHEN (SELECT mean_cos FROM ri) > (SELECT mean_cos FROM si)
                  THEN 1 ELSE 0 END AS due
    ),
    retained AS (
      SELECT n.vec_id, n.embedding, n.norm2, n.cell
      FROM new_cells n JOIN sliced s USING (vec_id)
      WHERE s.b = 2 AND (SELECT due FROM dec) = 1
      UNION ALL
      SELECT c.vec_id, c.embedding, c.norm2, c.cell
      FROM cells12 c
      WHERE c.b = 2 AND c.vec_id % 10 != 3 AND (SELECT due FROM dec) = 0
    ),
    b3a AS (
      SELECT v.vec_id, v.embedding, v.norm2, t.centroid_id AS cell
      FROM (SELECT * FROM sliced WHERE b = 3) v CROSS JOIN new_t_norm t
      WHERE (SELECT due FROM dec) = 1
      QUALIFY row_number() OVER (PARTITION BY v.vec_id
          ORDER BY round({dot_new} / (sqrt(v.norm2) * sqrt(t.c_norm2)), 6) DESC,
                   t.centroid_id) = 1
      UNION ALL
      SELECT v.vec_id, v.embedding, v.norm2, s.centroid_id AS cell
      FROM (SELECT * FROM sliced WHERE b = 3) v CROSS JOIN seeds s
      WHERE (SELECT due FROM dec) = 0
      QUALIFY row_number() OVER (PARTITION BY v.vec_id
          ORDER BY round({dot_seed} / (sqrt(v.norm2) * sqrt(s.c_norm2)), 6) DESC,
                   s.centroid_id) = 1
    ),
    all3 AS (
      SELECT vec_id, embedding, norm2, cell FROM retained
      UNION ALL
      SELECT vec_id, embedding, norm2, cell FROM b3a
    ),
    p3 AS (
      SELECT p.vec_id, count(*) AS n
      FROM all3 a JOIN b3a p ON a.cell = p.cell AND a.vec_id < p.vec_id
      WHERE round({dot_ab} / (sqrt(a.norm2) * sqrt(p.norm2)), 6) >= 0.1
      GROUP BY 1
    )
    SELECT vec_id, n AS n_earlier_sem_dups
    FROM (SELECT * FROM p12 UNION ALL SELECT * FROM p3)
    """


@query(
    "streaming_semantic_window_ingest",
    oracle=_semantic_window_ingest_oracle(),
)
def streaming_semantic_window_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE MAINTENANCE WINDOW RUN MID-STREAM — the production
    deployment shape of streaming/maintenance.py:run_maintenance_window
    (the batch capstone is emb_maintenance_window_ledger; this is the
    same runner invoked from a LIVE fold's maintenance seam, the way a
    deployment actually schedules it between micro-batches): vectors
    arrive in vec_id order across 3 micro-batches; batches 1-2 fold
    against the day-0 seed centroids; after batch 2's commit the FULL
    window runs — forget the %10==3 cohort (per-segment rewrite,
    ranges preserved), recalibrate the occupancy cap from post-forget
    stats, evaluate the measured-benefit trigger, retrain-or-skip,
    EXPIRE batch 1's index segment (keep_from=1 — the horizon the
    range-preserving rewrite makes possible mid-stream), optimize —
    and batch 3 folds against the windowed index with the
    POST-WINDOW centroids (the fold re-reads its centroid provider).

    Batch 3's near-dup counts therefore (a) never see a forgotten
    vector, (b) never see an EXPIRED batch-1 partner (the sliding
    horizon composed with erasure, erasure first), and (c) pair
    within whichever boundaries the trigger chose — the oracle
    re-derives the whole decision in SQL (both inertias off the
    exact-decimal chain, the due CASE) and composes the final state
    through the SAME verdict via UNION arms gated on the due flag,
    so a fold that retrained when the trigger said skip (or ignored
    the horizon, or resurrected a forgotten row) hash-mismatches.

    100 TB: the window costs what its phases cost (stated at the
    runner) and runs in the maintenance seam the fold already owns;
    per-batch fold cost is unchanged."""
    import os

    from dwh_spark.streaming.emb_ingest import (
        read_semantic_ingest_results,
        run_semantic_ingest,
    )
    from dwh_spark.streaming.ingest import ParquetAppendLog
    from dwh_spark.streaming.maintenance import run_maintenance_window

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    root = scratch_dir("dwh_sem_window_")
    input_dir = _stage_ntile_slices(emb, root, 3, "vec_id")

    seeds = (
        spark.read.parquet(os.path.join(input_dir, "batch1.parquet"))
        .select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(8)
        .localCheckpoint()
    )
    index_store = ParquetAppendLog(os.path.join(root, "index"), write_partitions=1)
    out_dir = os.path.join(root, "out")
    holder = {"cents": seeds}
    fids = emb.filter(F.col("vec_id") % 10 == 3).select("vec_id")

    def maintenance(batch_id: int) -> None:
        # after the SECOND batch commits (file-source ids 0,1,2): the
        # full window, mid-stream — erasure durable, cap recalibrated,
        # trigger decides, horizon advances past batch 1's segment
        if batch_id == 1:
            rep = run_maintenance_window(
                spark,
                index_store,
                seeds,
                forgotten_ids=fids,
                rows_per_cell=64,
                expire_keep_from=1,
            )
            holder["cents"] = rep.centroids

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    run_semantic_ingest(
        stream,
        lambda: holder["cents"],
        index_store,
        out_dir,
        os.path.join(root, "ckpt"),
        maintenance=maintenance,
    )
    return read_semantic_ingest_results(spark, out_dir)
