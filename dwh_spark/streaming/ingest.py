"""Structured-Streaming ingest — the reference's continuous pipeline
(SURVEY.md §7 Phase 4).

Reference semantics being reproduced:
- S1 block-stream scan: an infinite ordered poll loop
  (`x/indexer/indexer.go:173-197`) → a file streaming source that
  picks up event files in order, ``maxFilesPerTrigger`` bounding each
  micro-batch.
- S5 LevelDB cursor (`x/indexer/cursor.go:5-18`) → the streaming
  checkpoint's offset log: restart resumes after the last committed
  batch, never reprocessing a committed file.
- M22 stale-replay dedup (`indexer.go:228-231`) → idempotent
  ``foreachBatch``: a batch replayed after a crash rewrites the same
  versioned state snapshot it wrote before.
- M1-M16 state materialization → per-batch latest-state MERGE into a
  versioned parquet state store (on a Delta/Iceberg cluster this
  ``foreachBatch`` body is a single ``MERGE INTO``; plain parquet has
  no atomic overwrite, so we emulate the transaction log with
  versioned snapshot dirs + a CURRENT pointer — exactly Delta's
  design, one file deep).
- S13 TTL timer → ``Trigger.AvailableNow``: drain everything pending,
  then stop; re-invoking is the daemon's next wake.

Watermarked event-time windows are an extension — the reference
processes strictly in chain order with no lateness concept
(SURVEY.md §2.6).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Sequence
from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dwh_spark.operators.latest_state import latest_state_agg
from dwh_spark.session import run_parallel


def spread_small_batch(df: DataFrame) -> DataFrame:
    """Spread a too-few-partition micro-batch across the cluster's
    cores before expensive MAP-SIDE work (the Arrow decode pass, the
    MinHash signature pipeline, the centroid cross-score).

    A file-source micro-batch under ``maxFilesPerTrigger=1`` arrives
    as ONE partition (one small file = one scan split), so everything
    upstream of the fold's first shuffle — exactly the expensive
    decode/signature work — runs single-threaded while the rest of
    the cluster idles: the classic unsplittable-input skew (guide
    §2.5), fixed by repartitioning right after the read. The
    round-robin shuffle moves only the batch's own bytes (O(batch),
    the cheapest possible exchange), and at production scale a batch
    already spans >= cores splits, making this a structural no-op —
    the partition count is read, never assumed."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def append_batches(jobs) -> None:
    """Stage several INDEPENDENT appends — ``jobs`` is a list of
    ``(store, df, batch_id)`` — with the segment writes (the Spark
    jobs) running in parallel and every manifest commit (a cheap
    atomic swap) landing afterwards, in list order.

    N sequential ``append`` calls would serialize N independent jobs
    purely because the driver calls them sequentially.
    Commit-after-all-writes keeps the same all-or-visible discipline
    the folds use (an uncommitted segment dir is invisible to every
    reader; a crashed staging loop is simply re-run): if any write
    raises, no store commits."""
    jobs = list(jobs)
    if jobs:
        run_parallel(
            jobs[0][1].sparkSession,
            [partial(store.write_segment, df, b) for store, df, b in jobs],
        )
    for store, _, batch_id in jobs:
        store.commit_segment(batch_id)


def stage_stream_input(
    spark: SparkSession, source: DataFrame, stage_dir: str, n_files: int
) -> str:
    """Write a batch table as ``n_files`` parquet files so a file
    streaming source replays it as ``n_files`` ordered micro-batches
    (with ``maxFilesPerTrigger=1``). Test/demo scaffolding — production
    input is already an append-only directory of files."""
    source.repartition(n_files).write.mode("overwrite").parquet(stage_dir)
    return stage_dir


def stream_events(
    spark: SparkSession,
    path: str,
    schema=None,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """S1 — the ordered ingest scan as a file streaming source.

    ``schema`` is a StructType or DDL string; file streams require one
    up front (no inference mid-stream). Defaults to the batch-read
    footer schema of whatever is already in ``path``.
    """
    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


SCHEMA_SIDECAR = "_schema.json"  # leading _ ⇒ invisible to parquet scans


def _write_schema_sidecar(df: DataFrame, path: str) -> None:
    """Record the schema of the parquet dir ``df`` was just written to,
    so readers can pass it to ``spark.read.schema`` instead of running
    the one-task footer-inference job. Written after the parquet write
    and before the store's commit point, so every committed dir has
    one."""
    tmp = os.path.join(path, SCHEMA_SIDECAR + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(df.schema.json())
    os.replace(tmp, os.path.join(path, SCHEMA_SIDECAR))


def _recorded_schema(dirs: Sequence[str]):
    """The StructType the ``dirs``' sidecars recorded at write time, or
    None when a dir has no sidecar (written before sidecars existed, or
    by hand) or the dirs' sidecars disagree."""
    import json

    from pyspark.sql.types import StructType

    recorded = set()
    try:
        for d in dirs:
            with open(os.path.join(d, SCHEMA_SIDECAR)) as fh:
                recorded.add(fh.read())
    except OSError:
        return None
    return StructType.fromJson(json.loads(recorded.pop())) if len(recorded) == 1 else None


def _read_store_parquet(
    spark: SparkSession, dirs: Sequence[str], files: Sequence[str] | None = None
) -> DataFrame:
    """Read ``files`` (default: the ``dirs`` themselves) with the schema
    the ``dirs``' sidecars recorded at write time — no inference job.
    Without one recorded schema this falls back to plain
    ``spark.read.parquet`` and its footer inference."""
    schema = _recorded_schema(dirs)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*(dirs if files is None else files))


def _data_files(store_dir: str) -> list[os.DirEntry]:
    """The files of ``store_dir`` a parquet scan reads, by name: Spark
    skips every name starting with ``_`` or ``.`` (the schema sidecar,
    the manifest, ``_SUCCESS``, checksum files)."""
    return sorted(
        (e for e in os.scandir(store_dir) if not e.name.startswith(("_", "."))),
        key=lambda e: e.name,
    )


def _data_bytes(store_dir: str) -> int:
    """Bytes of the files of ``store_dir`` a parquet scan reads."""
    return sum(e.stat().st_size for e in _data_files(store_dir))


def _max_partition_bytes(spark: SparkSession) -> int:
    """``spark.sql.files.maxPartitionBytes``: the most bytes one scan
    split reads."""
    return spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()


def _split_bytes(spark: SparkSession, data_bytes: int, n_files: int) -> int:
    """The split size Spark's file scan picks for ``n_files`` files of
    ``data_bytes`` bytes (``FilePartition.maxSplitBytes``): the bytes,
    each file padded by ``spark.sql.files.openCostInBytes``, spread over
    the scan's minimum partition count (``spark.sql.files.minPartitionNum``,
    else the leaf-node parallelism), at least the open cost and at most
    ``spark.sql.files.maxPartitionBytes``."""
    jspark = spark._jsparkSession
    conf = jspark.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    min_parts = conf.filesMinPartitionNum()
    parts = min_parts.get() if min_parts.isDefined() else jspark.leafNodeDefaultParallelism()
    per_core = (data_bytes + n_files * open_cost) // parts
    return min(conf.filesMaxPartitionBytes(), max(open_cost, per_core))


def _as_nullable(dt):
    """``dt`` with every field, element and value nullable — the schema
    Spark gives a parquet scan, whatever the files declare."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _check_key_value(key_type, value) -> None:
    """Raise TypeError unless ``value`` is the Python type a ``key_type``
    column holds (``createDataFrame``'s mapping, exact type: no bool for
    an integer key, no datetime for a date key), or None."""
    import datetime
    import decimal

    from pyspark.sql import types as T

    accepted = {
        T.BooleanType: (bool,),
        T.ByteType: (int,),
        T.ShortType: (int,),
        T.IntegerType: (int,),
        T.LongType: (int,),
        T.FloatType: (float,),
        T.DoubleType: (float,),
        T.DecimalType: (decimal.Decimal,),
        T.StringType: (str,),
        T.BinaryType: (bytes, bytearray),
        T.DateType: (datetime.date,),
        T.TimestampType: (datetime.datetime,),
        T.TimestampNTZType: (datetime.datetime,),
    }.get(type(key_type))
    if accepted is None:
        raise TypeError(f"lookup() does not support a {key_type.simpleString()} range key")
    if value is not None and type(value) not in accepted:
        raise TypeError(
            f"lookup() key is {key_type.simpleString()}, got "
            f"{type(value).__name__} {value!r}: pass the key's own type"
        )


def _key_match(field, arrow_type, internal):
    """A pyarrow filter for column ``field`` (stored as ``arrow_type``)
    equal to ``internal``, a value in Spark's internal form
    (``DataType.toInternal``), matching exactly the rows Spark's ``==``
    matches; None when no stored value can equal it."""
    import math

    import pyarrow as pa
    import pyarrow.compute as pc

    if pa.types.is_timestamp(arrow_type):
        # Spark reads every unit as microseconds: ns (INT96) floored,
        # ms and s scaled up
        if arrow_type.unit == "ns":
            lo = internal * 1000
            return (field >= pa.scalar(lo, arrow_type)) & (
                field < pa.scalar(lo + 1000, arrow_type)
            )
        q, r = divmod(internal, {"s": 10**6, "ms": 10**3, "us": 1}[arrow_type.unit])
        return None if r else field == pa.scalar(q, arrow_type)
    if pa.types.is_floating(arrow_type):
        # Spark compares a float column in double, and NaN equals NaN
        if math.isnan(internal):
            return pc.is_nan(field)
        return field == pa.scalar(internal, pa.float64())
    try:
        return field == pa.scalar(internal, arrow_type)
    except (pa.ArrowInvalid, OverflowError):
        return None  # out of the column type's range or scale


def _footer_key_stats(path: str, key: str) -> tuple[int, object, object]:
    """(row count, min, max of column ``key``) of one parquet file, from
    its footer alone — min/max folded over the row groups. min/max is
    None when any row group holding a non-null key lacks usable stats
    (INT96 timestamps carry none; decimal, binary and timestamp stats
    do not decode into values that compare like the key after a JSON
    round trip), which readers must treat as "may hold any key"."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    paths = [md.schema.column(i).path for i in range(md.num_columns)]
    if key not in paths:
        return md.num_rows, None, None
    col = paths.index(key)
    lo = hi = None
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        st = rg.column(col).statistics
        if rg.num_rows == 0 or (
            st is not None and st.has_null_count and st.null_count == rg.num_rows
        ):
            continue  # no non-null key here to cover
        if st is None or not st.has_min_max:
            return md.num_rows, None, None
        try:
            g_lo, g_hi = st.min, st.max
        except pa.ArrowException:
            return md.num_rows, None, None
        if type(g_lo) not in (bool, int, float, str, datetime.date):
            return md.num_rows, None, None
        lo = g_lo if lo is None else min(lo, g_lo)
        hi = g_hi if hi is None else max(hi, g_hi)
    return md.num_rows, lo, hi


class ParquetStateStore:
    """Versioned parquet snapshots + a CURRENT pointer file — the
    minimal transaction log that makes plain-parquet MERGE safe:

    - each batch writes a NEW snapshot dir (never overwrites the one
      it is reading — parquet self-overwrite corrupts);
    - the pointer flips only after the snapshot write completes, so a
      crash mid-write leaves the previous version current;
    - snapshot dirs are keyed by batch_id, so a replayed batch (crash
      between snapshot write and checkpoint commit) rewrites the same
      dir idempotently (M22 parity).

    **Partitioned snapshots** (``range_key``): a 100 TB state table
    cannot live one file deep — pass ``range_key`` (+ ``n_files``) and
    every snapshot is written as k range-partitioned files plus a
    ``_manifest.json`` recording each file's key range and row count
    (the Delta/Iceberg file-statistics shape, one level deep). The
    manifest is built from the written files' parquet footers (row
    counts and per-row-group min/max, no Spark job) and written before
    the pointer flips, so a crash mid-write can never expose a
    half-manifest snapshot; ``lookup()`` uses it to prune to the one
    file covering a key and reads that file's matching rows on the
    driver, with no Spark job, instead of scanning the snapshot. The
    foreachBatch MERGE bodies are unchanged — layout is entirely the
    store's concern. k is sized to the bytes: one file per
    ``spark.sql.files.maxPartitionBytes`` of the CURRENT snapshot's
    data files, at most ``n_files`` (exactly ``n_files`` for the first
    snapshot, which has no size to go by). Each written file costs a
    write task, and each task deserializes the whole Hadoop conf —
    tens of ms of CPU whatever the file's size — so a small state is
    one file (``coalesce(1)``: no range exchange, no sampling job)
    and the files only split once a scan would split them anyway.

    **One-task merges**: when the next snapshot is one file (a range
    store sized to one file, or ``write_partitions=1``) and CURRENT's
    data files plus the micro-batch fit one split of the size Spark's
    file scan picks for them (``_split_bytes``: about
    ``spark.sql.files.openCostInBytes``, 4 MB, on a multi-core session,
    so a state Spark would scan in parallel keeps the parallel plan;
    ``_one_task_merge``), the folds coalesce their *inputs* to one
    partition. An aggregation over a one-partition input plans no
    Exchange, so the merge is one job, one stage and one task;
    coalescing only the output would still run the aggregation's map
    and reduce stages.

    **Schema sidecar**: every snapshot dir also holds a
    ``_schema.json`` with the written frame's schema, which ``current``
    passes to ``spark.read.schema`` so no footer-inference job runs,
    and which ``lookup`` gives its driver-side frame. Commit order:
    parquet files → sidecar → manifest → pointer flip, so a committed
    snapshot always has its sidecar (and, with ``range_key``, its
    manifest).

    **Single-writer contract**: one committing writer per root (the
    streaming checkpoint already serializes folds). ``flip`` re-reads
    CURRENT immediately before the atomic swap and raises
    :class:`ConcurrentWriterError` if another writer moved it — loud
    detection of a violated deployment assumption, not a lock.
    """

    MANIFEST = "_manifest.json"  # leading _ ⇒ invisible to parquet scans

    def __init__(
        self,
        root: str,
        write_partitions: int | None = None,
        range_key: str | None = None,
        n_files: int = 8,
    ) -> None:
        """``write_partitions`` caps each snapshot's file count —
        dimension-scale states (thousands of rows) should pass 1:
        under the default 32 shuffle partitions every snapshot writes
        32 near-empty part files, and the per-file task/open overhead
        dominates the whole fold. Leave None for fact-scale states, or
        pass ``range_key`` to range-partition fact-scale snapshots
        into manifest-tracked files. ``n_files`` is a cap (and the
        first snapshot's count), not a target: every file pays a fixed
        per-task cost, so later snapshots are sized to their bytes."""
        self.root = root
        self.write_partitions = write_partitions
        self.range_key = range_key
        self.n_files = n_files
        os.makedirs(root, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "CURRENT")

    def version_dir(self, batch_id: int) -> str:
        return os.path.join(self.root, f"v{batch_id:010d}")

    def is_current(self, batch_id: int) -> bool:
        """True iff CURRENT already points at this batch's snapshot —
        i.e. the batch fully committed store-side and any re-delivery
        is a replay that must be skipped. Reading CURRENT and
        re-writing the same dir would both violate Spark's
        no-overwrite-while-reading rule and re-merge state."""
        return self.last_committed() == batch_id

    def _pointed_dir(self) -> str | None:
        """The snapshot dir CURRENT names, or None before the first
        commit. A reader that needs several facts about the current
        snapshot reads the pointer ONCE through this and derives them
        all from the one dir, so a concurrent flip cannot mix versions."""
        try:
            with open(self._pointer) as fh:
                return fh.read().strip()
        except FileNotFoundError:
            return None

    def last_committed(self) -> int | None:
        """Batch id of the snapshot CURRENT points at, or None before
        the first commit. Within one checkpoint's lifetime batch ids
        are strictly monotonic, so ``batch_id <= last_committed()`` is
        the exactly-once replay guard — it covers both the crash-window
        re-delivery of the last batch AND any stale re-delivery, which
        matters for NON-idempotent merges (sums): an is_current check
        alone would let an older batch id through and double-apply."""
        version_dir = self._pointed_dir()
        if version_dir is None:
            return None
        name = os.path.basename(version_dir)
        return int(name[1:]) if name.startswith("v") else None

    def current(
        self,
        spark: SparkSession,
        as_of_batch: int | None = None,
        since_batch: int | None = None,
    ) -> DataFrame | None:
        """The CURRENT state — or, with ``as_of_batch=N``, the
        TIME-TRAVEL read: the newest committed snapshot at or before
        batch N (each snapshot is a COMPLETE state, so "state as of
        batch N" is exactly the last snapshot a fold committed by
        then) — Delta's time travel, one file deep. History stays
        readable until :meth:`expire_versions` advances the retention
        horizon; after that, an ``N`` whose faithful snapshot was
        dropped raises (``_RETENTION.json`` records the high-water
        dropped version).

        ``since_batch=M`` (requires ``as_of_batch``) is the
        VERSION-TO-VERSION DELTA read — the CDC twin of the append
        log's incremental read: the rows of the as-of-N state that are
        NEW or CHANGED relative to the as-of-M state (row-level
        ``exceptAll``: a rollup group whose measures moved appears
        with its N-state values; an untouched group does not appear).
        Snapshots here are complete states, so the diff is computed,
        not stored — one scan of each snapshot plus a hash
        repartition on all columns, the honest cost of a full-state
        diff (a range-partitioned table format with aligned file
        boundaries could prune unchanged files; this store's
        ``repartitionByRange`` re-draws boundaries per commit, so it
        cannot). Groups DELETED between M and N are not reported —
        additive-rollup state never deletes; a caller needing the
        reverse side runs the M-frame ``exceptAll`` N-frame.

        Faithful-or-loud (the append-log contract,
        :class:`SnapshotUnreadableError`): only snapshots the pointer
        has committed count (a crash-window dir newer than CURRENT
        may be half-written and is never served), an ``N`` before
        the first committed snapshot raises instead of returning the
        wrong era, and either endpoint of a delta read resolving to an
        expired version raises instead of diffing the wrong eras."""
        if since_batch is not None:
            if as_of_batch is None:
                raise ValueError(
                    "since_batch requires as_of_batch — pin the delta's "
                    "upper bound (e.g. as_of_batch=last_committed()) so "
                    "the read stays reproducible as the store grows"
                )
            if since_batch > as_of_batch:
                raise ValueError(
                    f"since_batch={since_batch} > as_of_batch="
                    f"{as_of_batch}: the delta read runs forward "
                    f"(changed groups in (M, N])"
                )
            newer = self.current(spark, as_of_batch=as_of_batch)
            if newer is None:
                # no commits at all — same contract as every other
                # read on an empty store (a committed newer implies
                # the pointer exists, so older below never None-s:
                # it resolves or raises)
                return None
            older = self.current(spark, as_of_batch=since_batch)
            return newer.exceptAll(older)
        if as_of_batch is None:
            version_dir = self._pointed_dir()
            if version_dir is None:
                return None
            return _read_store_parquet(spark, [version_dir])
        if not os.path.exists(self._pointer):
            return None
        committed = self.last_committed()
        if committed is None:
            # CURRENT exists but is malformed (not a v-dir pointer):
            # no snapshot is provably committed, so the loud contract
            # applies — never min() against None (TypeError) or guess
            raise SnapshotUnreadableError(
                f"as_of_batch={as_of_batch} unreadable: the CURRENT "
                f"pointer is malformed (no committed snapshot can be "
                f"established) — repair the pointer or rebuild from "
                f"upstream inputs"
            )
        exp = self.expired_through()
        candidates = sorted(
            b
            for name in os.listdir(self.root)
            if name.startswith("v") and name[1:].isdigit()
            for b in [int(name[1:])]
            if b <= min(as_of_batch, committed)
            # a dir at or below the retention horizon is a lingering
            # crash-mid-GC leftover, never served (the retention
            # record is written BEFORE any dir is removed)
            and (exp is None or b > exp)
        )
        if not candidates:
            if exp is not None:
                raise SnapshotUnreadableError(
                    f"as_of_batch={as_of_batch} unreadable: retention "
                    f"has expired snapshot versions through v{exp} and "
                    f"no retained snapshot exists at or before batch "
                    f"{as_of_batch} — read the current state "
                    f"(as_of_batch=None) or rebuild from upstream inputs"
                )
            raise SnapshotUnreadableError(
                f"as_of_batch={as_of_batch} unreadable: no committed "
                f"snapshot at or before batch {as_of_batch} "
                f"(earliest committed state is newer, or the store is "
                f"empty) — read the current state (as_of_batch=None) or "
                f"rebuild from upstream inputs"
            )
        return _read_store_parquet(spark, [self.version_dir(candidates[-1])])

    def write_snapshot(self, df: DataFrame, batch_id: int) -> str:
        """Write the snapshot dir (+ schema sidecar, + manifest)
        WITHOUT flipping the pointer. Split out from :meth:`commit` so
        a fold can overlap this (the expensive Spark job) with other
        stores' commits and still flip its completion-marker pointer
        strictly last. Safe to run even if the fold later fails: the
        dir is keyed by batch_id and a replay rewrites it
        idempotently; an unflipped pointer keeps the previous version
        current."""
        version_dir = self.version_dir(batch_id)
        if self.range_key is not None:
            k = self._range_files(df.sparkSession)
            if k == 1:
                df = df.coalesce(1)  # no range exchange, no sampling job
            else:
                df = df.repartitionByRange(k, F.col(self.range_key))
        elif self.write_partitions is not None:
            df = df.coalesce(self.write_partitions)
        df.write.mode("overwrite").parquet(version_dir)
        _write_schema_sidecar(df, version_dir)
        if self.range_key is not None:
            self._write_manifest(version_dir, batch_id)
        return version_dir

    def _range_files(self, spark: SparkSession) -> int:
        """Range files for the next snapshot: one per
        ``spark.sql.files.maxPartitionBytes`` of the CURRENT snapshot's
        data files, capped at ``n_files`` (``n_files`` before the first
        commit)."""
        version_dir = self._pointed_dir()
        on_disk = None if version_dir is None else _data_bytes(version_dir)
        return self._files_after(spark, on_disk)

    def _files_after(self, spark: SparkSession, on_disk: int | None) -> int:
        """Range files for a snapshot written after one of ``on_disk``
        data bytes (None: no snapshot yet)."""
        if on_disk is None:
            return self.n_files
        return min(self.n_files, max(1, -(-on_disk // _max_partition_bytes(spark))))

    def _one_task_merge(self, batch: DataFrame) -> bool:
        """Whether merging ``batch`` into this store can run as one task:
        the next snapshot is one file (``_range_files`` gives 1, or
        ``write_partitions`` is 1) and the merge's inputs, CURRENT's data
        files plus the batch, fit one split of the size Spark's file scan
        would pick for them (``_split_bytes``). Past that size Spark
        scans them in parallel, and so does the merge. The batch's size
        is Spark's own plan estimate: the bytes of the files a
        file-source micro-batch scans (counted as one file, which can
        only shrink the split), or the largest long when Spark cannot
        size the batch, which keeps the split plan."""
        spark = batch.sparkSession
        version_dir = self._pointed_dir()
        cur = [] if version_dir is None else [e.stat().st_size for e in _data_files(version_dir)]
        on_disk = sum(cur)
        if self.range_key is not None:
            files = self._files_after(spark, None if version_dir is None else on_disk)
        else:
            files = self.write_partitions
        if files != 1:
            return False
        batch_bytes = batch._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        in_bytes = on_disk + batch_bytes
        return in_bytes <= _split_bytes(spark, in_bytes, len(cur) + 1)

    def flip(self, batch_id: int) -> None:
        """Atomically point CURRENT at ``batch_id``'s snapshot — the
        transaction-commit step; the snapshot must already be fully
        written (``write_snapshot``).

        SINGLE-WRITER CONTRACT (VERDICT r17 What's-missing #6): the
        store assumes one committing writer per root — there is no
        lease. This check turns the realistic race loud instead of
        silent: batch ids are strictly monotonic within a checkpoint,
        so CURRENT already PAST ``batch_id`` means a second writer
        committed while this one was writing (or a stale replay from
        an old checkpoint bypassed the ``last_committed`` guard).
        CURRENT already AT ``batch_id`` is NOT an error: that is the
        class contract's replay shape (crash between this flip and the
        checkpoint's offset commit re-delivers the batch; the rewrite
        and re-flip are idempotent — same dir, same pointer content),
        and raising there would wedge the restarted stream
        permanently. Re-read-then-replace is DETECTION, not mutual
        exclusion — a true CAS needs the filesystem primitive a table
        format's commit service provides; the remaining window is the
        microseconds between this read and ``os.replace``, vs the
        whole snapshot-write duration before."""
        cur = self.last_committed()
        if cur is not None and cur > batch_id:
            raise ConcurrentWriterError(
                f"flip(v{batch_id}) rejected: CURRENT already points at "
                f"the newer v{cur} — another writer committed while "
                f"this one was writing (or a stale replay from an old "
                f"checkpoint bypassed the last_committed guard); the "
                f"store assumes a single writer per root, serialize "
                f"commits"
            )
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(self.version_dir(batch_id))
        os.replace(tmp, self._pointer)  # atomic on POSIX

    def commit(self, df: DataFrame, batch_id: int) -> None:
        self.write_snapshot(df, batch_id)
        self.flip(batch_id)

    # ----------------------------------------------------- retention

    RETENTION = "_RETENTION.json"  # leading _ ⇒ invisible to scans

    def _retention_path(self) -> str:
        return os.path.join(self.root, self.RETENTION)

    def expired_through(self) -> int | None:
        """High-water batch id of GC'd snapshot versions, or None if
        retention has never run. As-of reads at or below it raise."""
        import json

        try:
            with open(self._retention_path()) as fh:
                return int(json.load(fh)["expired_through"])
        except OSError:
            return None

    def expire_versions(self, keep_from: int) -> None:
        """Retention/version GC (VERDICT r17 What's-missing #4) — the
        append log's ``expire`` discipline applied to the snapshot
        store, closing its grow-forever artifact: every rollup commit
        writes a full snapshot dir, and now that ``as_of_batch`` reads
        made versions load-bearing they need the same sliding-horizon
        bound. Drops every snapshot dir ``v{b}`` with ``b <
        keep_from``, EXCEPT:

        - the snapshot CURRENT points at (the live state is never
          retention's business — ``keep_from > last_committed()``
          degrades to keep-only-current), and
        - dirs newer than CURRENT (crash-window dirs a concurrent
          replay may be rewriting; they are not committed history).

        Crash-safe ordering: the ``_RETENTION.json`` high-water record
        is written FIRST (atomic replace), then dirs are removed — a
        crash mid-GC leaves lingering dirs that ``current(as_of_batch)``
        already refuses to serve (it filters candidates past the
        record), and a re-run finishes the removal. ``last_committed``
        is NOT lowered: the replay guard keeps rejecting already-folded
        batches after their history ages out (the append log's exact
        contract). As-of reads needing a dropped version raise
        :class:`SnapshotUnreadableError`."""
        import json
        import shutil

        committed = self.last_committed()
        if committed is None:
            return
        drop = sorted(
            b
            for name in os.listdir(self.root)
            if name.startswith("v") and name[1:].isdigit()
            for b in [int(name[1:])]
            if b < keep_from and b < committed
        )
        if not drop:
            return
        prev = self.expired_through()
        hi = max(drop)
        tmp = self._retention_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"expired_through": hi if prev is None else max(prev, hi)}, fh)
        os.replace(tmp, self._retention_path())
        for b in drop:
            shutil.rmtree(self.version_dir(b), ignore_errors=True)

    # ------------------------------------------------------ manifest

    def _write_manifest(self, version_dir: str, batch_id: int) -> None:
        """Per-file (row count, min/max of the range key) — the same
        statistics an Iceberg manifest carries — read from the parquet
        footers of the files just written, so building it launches no
        Spark job. Zero-row files are left out (they cannot hold a
        key); a file whose footer has no usable min/max for the key
        (e.g. INT96 timestamps) records None for both, which
        ``lookup()`` reads as "may hold any key". Written after the
        schema sidecar and before the pointer flip."""
        import json

        files = []
        for entry in _data_files(version_dir):
            n_rows, lo, hi = _footer_key_stats(entry.path, self.range_key)
            if n_rows:
                files.append(
                    {"file": entry.name, "n_rows": n_rows, "min_key": lo, "max_key": hi}
                )
        manifest = {
            "batch_id": batch_id,
            "range_key": self.range_key,
            "n_rows": sum(f["n_rows"] for f in files),
            "files": files,
        }
        tmp = os.path.join(version_dir, self.MANIFEST + ".tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, default=str)
        os.replace(tmp, os.path.join(version_dir, self.MANIFEST))

    def _manifest_at(self, version_dir: str | None) -> dict | None:
        import json

        if version_dir is None:
            return None
        try:
            with open(os.path.join(version_dir, self.MANIFEST)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def manifest(self) -> dict | None:
        """Manifest of the CURRENT snapshot (None for unpartitioned
        stores or before the first commit)."""
        return self._manifest_at(self._pointed_dir())

    def lookup(self, spark: SparkSession, value) -> DataFrame:
        """Point-read by range key, served on the driver: the rows of
        the CURRENT snapshot whose range key equals ``value``.

        Only the file(s) whose manifest [min_key, max_key] covers
        ``value`` are opened (a file without min/max always is) — at a
        billion state rows this touches one file, not the snapshot.
        ``pyarrow.dataset`` reads them with the key-equality filter
        pushed down, so row groups are pruned by their stats and memory
        holds only the matching rows. The result is
        ``spark.createDataFrame`` of those rows, a ``LocalRelation``:
        collecting it launches no Spark job and compiles no code. (A
        Spark scan of the same file costs a job's fixed driver CPU,
        ~0.1 s, and two codegen compiles per distinct key, as the key
        literal is inlined into the generated classes.) The schema is the
        snapshot's sidecar (Spark's inferred one without it), nullable
        as any parquet scan's, so the frame equals
        ``current().filter(F.col(key) == value)`` in rows and schema.

        Type contract: ``value`` must be the Python type of the key
        column (int for integer keys, str, ``datetime.date`` for a
        date, ``datetime.datetime`` for either timestamp type, …);
        another type raises TypeError instead of being cast. It is
        converted as a Spark literal is (``DataType.toInternal``) and
        compared with the column in Spark's internal form, so LTZ and
        NTZ timestamps (INT96 files included) and dates match what
        Spark's ``==`` matches. ``None`` matches nothing.

        The frame holds the rows current when ``lookup()`` was called:
        a later commit or ``expire_versions`` neither changes nor
        breaks it. CURRENT is read once, so the manifest, schema and
        files all come from one snapshot dir even if a commit flips the
        pointer meanwhile. Requires a ``range_key`` store with at least
        one commit."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        import pyarrow.types as pat
        from pyspark.sql.pandas.types import to_arrow_schema

        version_dir = self._pointed_dir()
        man = self._manifest_at(version_dir)
        if man is None:
            raise ValueError("lookup() needs a range_key store with a commit")
        schema = _as_nullable(
            _recorded_schema([version_dir]) or spark.read.parquet(version_dir).schema
        )
        key = man["range_key"]
        key_type = schema[key].dataType
        _check_key_value(key_type, value)

        def covers(lo, hi) -> bool:
            if lo is None or hi is None or value != value:
                return True  # no footer stats (or NaN): the file may hold the key
            try:
                return lo <= value <= hi  # native order (ints stay ints in JSON)
            except TypeError:
                return str(lo) <= str(value) <= str(hi)  # dates are ISO strings in JSON

        paths = [
            os.path.join(version_dir, f["file"])
            for f in man["files"]
            if value is not None and covers(f["min_key"], f["max_key"])
        ]
        target = to_arrow_schema(schema)
        table = target.empty_table()
        if paths:
            dataset = ds.dataset(paths, format="parquet")
            match = _key_match(
                pc.field(key),
                dataset.schema.field(key).type,
                key_type.toInternal(value),
            )
            if match is not None:
                table = dataset.to_table(columns=schema.names, filter=match)
        # INT96 timestamps read as naive ns: floor them to Spark's µs, and
        # the cast to Spark's Arrow types takes them as UTC, where
        # createDataFrame would localize a naive one to the session zone
        columns = [
            pc.floor_temporal(c, unit="microsecond")
            if pat.is_timestamp(c.type) and c.type.unit == "ns"
            else c
            for c in table.columns
        ]
        table = pa.Table.from_arrays(columns, names=schema.names).cast(target)
        # one batch: Spark's local Arrow reader stops at a zero-row batch,
        # dropping the rows of every file scanned after one that had none
        return spark.createDataFrame(table.combine_chunks(), schema)


class ConcurrentWriterError(RuntimeError):
    """A second writer moved the store's commit point (the CURRENT
    pointer or the append log's MANIFEST) while this writer's
    transaction was in flight. Both stores assume a SINGLE writer per
    root (the streaming checkpoint already serializes folds); this is
    the loud detection of a deployment that violated it — re-read the
    commit point immediately before the atomic swap and refuse to
    clobber. Detection, not mutual exclusion: the unguarded window
    shrinks from the whole write duration to the read-to-replace
    microseconds; a true CAS needs a commit service (the Delta/Iceberg
    answer) and is out of scope for a filesystem-only store."""


class SnapshotUnreadableError(ValueError):
    """An ``as_of_batch`` read cannot be served faithfully: a
    compaction has rewritten history across the requested boundary,
    or retention has expired batches the snapshot would need. Raised
    loudly (the house loud-contract discipline) instead of returning
    a silently wrong frame — the caller chooses between reading the
    full retained state (``as_of_batch=None``) or reproducing the
    snapshot from upstream inputs."""


class ParquetAppendLog:
    """Append-only log of per-batch parquet segments behind an atomic
    MANIFEST — the scale-correct store for monotonically GROWING state
    (a band index, a document archive): each batch writes O(batch)
    rows into its own segment dir and NOTHING rewrites history, unlike
    :class:`ParquetStateStore`, whose snapshot commit rewrites the
    whole merged state per batch (right for compacting MERGE state,
    quadratic-in-corpus for append-only state).

    The transaction log is a ``_MANIFEST.json`` listing the active
    segment dirs plus the high-water batch id, rewritten atomically
    (tmp + os.replace) AFTER each segment write — exactly Delta's
    design, one level deep, matching the snapshot store's pointer
    file. Crash semantics: a segment written without its manifest
    update is invisible (replay rewrites the same dir idempotently);
    ``last_committed`` serves the same high-water replay guard as the
    snapshot store. Every segment dir (appended, compacted or
    rewritten) also gets the snapshot store's ``_schema.json`` sidecar
    before the manifest swap, and ``current()`` reads with it.

    ``compact()`` is the offline OPTIMIZE: merge all active segments
    into one, swap the manifest atomically, then garbage-collect the
    unreferenced dirs — readers see either the old segment set or the
    merged one, never duplicates, never a partial state. At 100 TB
    this is a partitioned table under any table format; here it is the
    same mechanism one file deep.

    **Single-writer contract**: one mutating writer per root. Every
    mutation records the manifest txn counter it was based on and the
    swap re-reads the manifest immediately first, raising
    :class:`ConcurrentWriterError` if it moved — a second writer's
    segments would otherwise silently vanish from the segment list.
    Detection, not mutual exclusion (see the exception's docstring).
    """

    MANIFEST = "_MANIFEST.json"

    def __init__(self, root: str, write_partitions: int | None = None) -> None:
        self.root = root
        self.write_partitions = write_partitions
        os.makedirs(root, exist_ok=True)

    def _manifest_path(self) -> str:
        return os.path.join(self.root, self.MANIFEST)

    def _read_manifest(self) -> dict | None:
        import json

        try:
            with open(self._manifest_path()) as fh:
                return json.load(fh)
        except OSError:
            return None

    @staticmethod
    def _txn(man: dict | None) -> int:
        """Manifest transaction counter: -1 for no manifest at all,
        0 for a legacy manifest written before counters existed."""
        return -1 if man is None else int(man.get("txn", 0))

    def _write_manifest(
        self, manifest: dict, expected_txn: int | None = None
    ) -> None:
        """Atomic manifest swap, guarded by the SINGLE-WRITER CONTRACT
        (VERDICT r17 What's-missing #6): every mutator passes the txn
        counter of the manifest its transaction was BASED on, and the
        swap re-reads the on-disk manifest immediately first — a
        counter that moved means a second writer committed during this
        writer's (potentially long) Spark job, and proceeding would
        silently drop that writer's segments from the segment list.
        Detection, not mutual exclusion (see
        :class:`ConcurrentWriterError`)."""
        import json

        if expected_txn is not None:
            disk_txn = self._txn(self._read_manifest())
            if disk_txn != expected_txn:
                raise ConcurrentWriterError(
                    f"manifest swap rejected at {self._manifest_path()}: "
                    f"transaction based on txn {expected_txn} but disk "
                    f"is at txn {disk_txn} — another writer committed "
                    f"while this one was running; the log assumes a "
                    f"single writer per root, serialize mutations"
                )
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, self._manifest_path())  # atomic on POSIX

    def segment_dir(self, batch_id: int) -> str:
        return os.path.join(self.root, f"seg{batch_id:010d}")

    def last_committed(self) -> int | None:
        man = self._read_manifest()
        return man["last_committed"] if man else None

    def _write_segment(self, df: DataFrame, dirname: str) -> None:
        """Write one segment dir and its schema sidecar; the caller's
        manifest swap (the commit point) comes after both."""
        if self.write_partitions is not None:
            df = df.coalesce(self.write_partitions)
        path = os.path.join(self.root, dirname)
        df.write.mode("overwrite").parquet(path)
        _write_schema_sidecar(df, path)

    def append(self, df: DataFrame, batch_id: int) -> None:
        self.write_segment(df, batch_id)
        self.commit_segment(batch_id)

    def write_segment(self, df: DataFrame, batch_id: int) -> None:
        """Write batch ``batch_id``'s segment dir WITHOUT the manifest
        commit — the append-log half of the snapshot store's
        ``write_snapshot``/``flip`` transaction split, so a fold can
        overlap this (the expensive Spark job) with its other writes
        and still land the manifest swap — the commit point and the
        fold's completion marker — strictly last. Safe to run eagerly:
        a segment dir without its manifest update is invisible to every
        reader and a replay rewrites the same dir idempotently."""
        self._write_segment(df, f"seg{batch_id:010d}")

    def commit_segment(self, batch_id: int) -> None:
        """Publish an already-written segment: the atomic manifest swap
        half of :meth:`append` (single-writer guarded)."""
        name = f"seg{batch_id:010d}"
        base = self._read_manifest()
        base_txn = self._txn(base)  # before mutating: man aliases base
        man = base or {"segments": [], "last_committed": None}
        if name not in man["segments"]:
            man["segments"].append(name)
        man.setdefault("ranges", {})[name] = [batch_id, batch_id]
        prev = man["last_committed"]
        man["last_committed"] = batch_id if prev is None else max(prev, batch_id)
        man["txn"] = base_txn + 1
        self._write_manifest(man, expected_txn=base_txn)

    def _range(self, man: dict, name: str) -> tuple[int, int]:
        """[min_batch, max_batch] a segment covers. Manifests written
        before ranges existed fall back to the parseable ``seg<id>``
        name; a range-less ``cmp*`` conservatively covers everything
        (never expired) — exactly the old behavior."""
        r = man.get("ranges", {}).get(name)
        if r is not None:
            return (r[0], r[1])
        if name.startswith("seg"):
            i = int(name[3:])
            return (i, i)
        # legacy range-less cmp: never expires (the old behavior)
        return (0, sys.maxsize)

    def current(
        self,
        spark: SparkSession,
        as_of_batch: int | None = None,
        since_batch: int | None = None,
    ) -> DataFrame | None:
        """The active state — or, with ``as_of_batch=N``, the TIME-TRAVEL
        read: exactly the rows appended by batches <= N, served from the
        manifest's per-segment [min,max] batch ranges with zero data
        movement (segment selection, not filtering). The LLM-pipeline
        use is the reproducible training snapshot: "train on the corpus
        as of batch N" re-reads the same frame months later while the
        log keeps growing.

        ``since_batch=M`` additionally EXCLUDES batches <= M — the
        incremental-snapshot read ("exactly what arrived since the last
        training checkpoint"): rows appended by batches in (M, N].
        Same faithful-or-loud contract; a compacted segment straddling
        EITHER boundary raises. ``since_batch`` requires ``as_of_batch``
        (an open-ended delta would silently change as the log grows —
        pass ``as_of_batch=last_committed()`` to pin it).

        The contract is FAITHFUL-OR-LOUD (VERDICT r15 What's-missing
        #5): compaction and retention deliberately make history lossy,
        so a snapshot that can no longer be served exactly raises
        :class:`SnapshotUnreadableError` instead of approximating —

        - a compacted segment covering [lo, hi] with lo <= N < hi has
          merged batches from both sides of the boundary into one
          rewrite; the pre-compaction split no longer exists on disk;
        - any ``expire()`` that dropped segments removed the OLDEST
          batches, which every as-of frame needs, so an expired log
          serves no historical snapshot at all (``expired_through`` in
          the manifest records the high-water dropped batch).

        One stated asymmetry: a ``compact(transform=...)`` whose range
        sits entirely at or below N serves the POST-transform rows.
        That is the right-to-be-forgotten interaction, and it is the
        correct one — an erasure must be durable in every snapshot, so
        as-of reproducibility is "modulo subsequent erasure", never a
        resurrection channel (operators/forget.py's durability step
        relies on exactly this)."""
        man = self._read_manifest()
        if not man or not man["segments"]:
            return None
        if since_batch is not None and as_of_batch is None:
            raise ValueError(
                "since_batch requires as_of_batch — pin the delta's upper "
                "bound (e.g. as_of_batch=last_committed()) so the read "
                "stays reproducible as the log grows"
            )
        names = man["segments"]
        if as_of_batch is not None:
            exp = man.get("expired_through")
            if exp is not None and (since_batch is None or since_batch < exp):
                raise SnapshotUnreadableError(
                    f"as_of_batch={as_of_batch} unreadable: retention has "
                    f"expired batches through {exp}, which the requested "
                    f"frame needs — read the retained state "
                    f"(as_of_batch=None), raise since_batch past "
                    f"{exp}, or rebuild from upstream inputs"
                )
            names = []
            for s in man["segments"]:
                lo, hi = self._range(man, s)
                if since_batch is not None and hi <= since_batch:
                    continue
                if since_batch is not None and lo <= since_batch:
                    raise SnapshotUnreadableError(
                        f"since_batch={since_batch} unreadable: segment "
                        f"{s} covers batches [{lo}, {hi}] — a compaction "
                        f"has rewritten history across the lower boundary; "
                        f"snapshot-read BEFORE compacting past it, or "
                        f"rebuild from upstream inputs"
                    )
                if hi <= as_of_batch:
                    names.append(s)
                elif lo <= as_of_batch:
                    raise SnapshotUnreadableError(
                        f"as_of_batch={as_of_batch} unreadable: segment "
                        f"{s} covers batches [{lo}, {hi}] — a compaction "
                        f"has rewritten history across the requested "
                        f"boundary and the pre-compaction split no longer "
                        f"exists; snapshot-read BEFORE compacting past it, "
                        f"or rebuild from upstream inputs"
                    )
            if not names:
                return None
        return _read_store_parquet(
            spark, [os.path.join(self.root, s) for s in names]
        )

    def compact(self, spark: SparkSession, transform=None) -> None:
        """Offline OPTIMIZE: merge all active segments into one.
        Readers are correct at every instant — the merged segment
        becomes visible only via the atomic manifest swap, and the
        merged-away dirs are GC'd afterwards (a crash between swap and
        GC leaves harmless unreferenced dirs, removed on the next
        compact).

        ``transform`` (DataFrame -> DataFrame) makes compaction the
        HISTORY-REWRITE point the append-only contract otherwise
        forbids: the merged segment is written as ``transform(state)``
        — e.g. a forgotten-id anti-join (operators/forget.py, the
        right-to-be-forgotten durability step) or a hot-value cap
        (drop over-cap words once their accumulated df crosses the
        threshold; streaming/phash_ingest.py's cap composition).
        Atomicity is unchanged: readers see the pre- or post-transform
        state, never a mix. With a transform, even a single segment is
        rewritten (the rewrite IS the point); without one, a single
        segment is already compact."""
        import shutil

        man = self._read_manifest()
        if not man or not man["segments"] or (
            len(man["segments"]) < 2 and transform is None
        ):
            self._gc()
            return
        ranges = [self._range(man, s) for s in man["segments"]]
        lo = min(r[0] for r in ranges)
        hi = max(r[1] for r in ranges)
        # the generation counter keeps every rewrite's dir name fresh:
        # a transform-compact of a single already-compacted segment
        # would otherwise derive ITS OWN name and lazily read the dir
        # it is overwriting
        gen = man.get("gen", 0) + 1
        merged = f"cmp{lo:010d}_{hi:010d}g{gen}"
        state = self.current(spark)
        if transform is not None:
            state = transform(state)
        self._write_segment(state, merged)
        new_man = {
            "segments": [merged],
            "ranges": {merged: [lo, hi]},
            "last_committed": man["last_committed"],
            "gen": gen,
            "txn": self._txn(man) + 1,
        }
        if man.get("expired_through") is not None:
            # retention history survives the rewrite: as-of reads must
            # keep failing loudly after a compact of an expired log
            new_man["expired_through"] = man["expired_through"]
        self._write_manifest(new_man, expected_txn=self._txn(man))
        self._gc()

    def rewrite_each(self, spark: SparkSession, transform) -> None:
        """Per-segment history rewrite that PRESERVES segment
        boundaries and batch ranges — the scoped twin of
        ``compact(transform=...)``: every active segment is rewritten
        as ``transform(segment)`` into a fresh generation dir, the
        manifest swaps atomically ONCE (readers see the whole old
        state or the whole new state, never a mix), and the old dirs
        are GC'd.

        This is the 100 TB-faithful forget shape: a partitioned index
        rewrites only the partitions the erasure touches and RETENTION
        KEEPS WORKING afterwards — because ranges survive, a
        subsequent ``expire()`` still drops fully-aged segments
        instead of hitting the straddle over-approximation a
        whole-log ``compact(transform=...)`` would have manufactured.
        The maintenance-window runner (streaming/maintenance.py)
        relies on exactly this to order forget-durability BEFORE the
        retention horizon. Each segment's rewrite is materialized
        before the swap, so the transform never lazily re-reads a dir
        the GC is about to remove (the stated compact hazard)."""
        man = self._read_manifest()
        if not man or not man["segments"]:
            return
        gen = man.get("gen", 0) + 1

        # the per-segment rewrites are independent jobs into disjoint
        # fresh-generation dirs, so they run in parallel; the manifest
        # still swaps atomically ONCE after every write has landed, so
        # readers and crash semantics are exactly the sequential
        # form's — a crash mid-rewrite leaves only unreferenced new-gen
        # dirs for _gc
        def _rewrite_one(i: int, s: str) -> tuple[str, list[int]]:
            lo, hi = self._range(man, s)
            name = f"rw{lo:010d}_{hi:010d}g{gen}i{i}"
            df = transform(
                _read_store_parquet(spark, [os.path.join(self.root, s)])
            )
            self._write_segment(df, name)
            return name, [lo, hi]

        done = run_parallel(
            spark,
            [partial(_rewrite_one, i, s) for i, s in enumerate(man["segments"])],
        )
        new_segments = [name for name, _ in done]
        new_ranges = {name: rng for name, rng in done}
        new_man = {
            "segments": new_segments,
            "ranges": new_ranges,
            "last_committed": man["last_committed"],
            "gen": gen,
            "txn": self._txn(man) + 1,
        }
        if man.get("expired_through") is not None:
            new_man["expired_through"] = man["expired_through"]
        self._write_manifest(new_man, expected_txn=self._txn(man))
        self._gc()

    def _expiring(self, man: dict, keep_from: int) -> list[str]:
        """The ONE copy of the horizon predicate, over an in-hand
        manifest — ``expire`` applies it to the same manifest snapshot
        it rewrites, so the kept/dropped split is provably derived
        from one read (not re-read from a disk state that could have
        moved in between)."""
        return [
            s
            for s in man["segments"]
            if self._range(man, s)[1] < keep_from
        ]

    def expiring_segments(self, keep_from: int) -> list[str]:
        """The segments ``expire(keep_from)`` would drop. The window
        runners pre-read these dirs (to shrink stats / count expired
        rows) before calling ``expire``; sharing ``_expiring`` means
        their pre-counts can never diverge from what expire actually
        drops."""
        man = self._read_manifest()
        if not man:
            return []
        return self._expiring(man, keep_from)

    def expire(self, keep_from: int) -> None:
        """Retention: atomically drop every segment whose covered
        batch range ends before ``keep_from`` — the sliding-horizon
        bound for grow-forever state (e.g. "near-dup only against the
        last N ingest days"). ``last_committed`` is NOT lowered: the
        replay guard must keep rejecting already-folded batches even
        after their data ages out.

        Composes with ``compact()``: the manifest records each
        segment's [min,max] batch range, so a compacted segment ages
        out once its WHOLE range falls below the horizon. A compacted
        segment straddling the horizon is kept whole (retention is
        then a bounded over-approximation until it ages out) — under
        "expire every batch, compact every K" steady state each
        compacted range spans ≤ K+horizon batches, so state stays
        bounded at horizon + K batches of rows, never grow-forever."""
        man = self._read_manifest()
        if not man:
            return
        base_txn = self._txn(man)
        dropping = set(self._expiring(man, keep_from))
        kept, dropped_hi = [], None
        for s in man["segments"]:
            if s not in dropping:
                kept.append(s)
            else:
                hi = self._range(man, s)[1]
                dropped_hi = hi if dropped_hi is None else max(dropped_hi, hi)
        man["segments"] = kept
        if dropped_hi is not None:
            # high-water mark of expired history: as-of snapshot reads
            # (current(as_of_batch=...)) consult it to fail loudly —
            # every historical frame needs the oldest batches, which
            # are exactly what retention removed
            prev = man.get("expired_through")
            man["expired_through"] = (
                dropped_hi if prev is None else max(prev, dropped_hi)
            )
        if "ranges" in man:
            man["ranges"] = {
                k: v for k, v in man["ranges"].items() if k in set(man["segments"])
            }
        man["txn"] = base_txn + 1
        self._write_manifest(man, expected_txn=base_txn)
        self._gc()

    def _gc(self) -> None:
        """Remove dirs no manifest references: merged-away segments and
        half-appended segments whose manifest update never landed (a
        replay rewrites those from scratch anyway)."""
        import shutil

        man = self._read_manifest()
        active = set(man["segments"]) if man else set()
        for name in os.listdir(self.root):
            path = os.path.join(self.root, name)
            if os.path.isdir(path) and name not in active:
                shutil.rmtree(path, ignore_errors=True)


def run_incremental_compaction(
    events: DataFrame,
    store: ParquetStateStore,
    checkpoint_dir: str,
    keys: Sequence[str],
    seq: Column,
) -> None:
    """The ingest loop: per micro-batch, MERGE the batch's latest rows
    per key into the state store (new batch rows win only when their
    seq is higher — replay order across batches cannot change the
    outcome, because per-key max(seq) is associative).

    Each merge is one aggregation over CURRENT ∪ batch. When the store
    writes one file and those inputs fit one split of the size Spark's
    file scan picks for them (``ParquetStateStore._one_task_merge``),
    the union is coalesced to one partition first: no Exchange, so the
    merge runs as one job, one stage and one task. Otherwise the plan is
    the aggregation's shuffle and the store's range or coalesced write.

    Runs with ``Trigger.AvailableNow`` and blocks until the backlog is
    drained. Re-invoking with the same checkpoint resumes at the
    cursor (S5): already-committed files are never reprocessed.
    """

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # Replay guard (M22): if the crash landed BETWEEN
        # store.commit() and the checkpoint's offset commit, this batch
        # is re-delivered with CURRENT already pointing at its own
        # snapshot. Merging again would read v{batch_id} and overwrite
        # it in place — Spark refuses ("Cannot overwrite a path that is
        # also being read from") and the stream wedges on every
        # restart. The snapshot is already the post-merge state, so the
        # correct replay action is: nothing. The high-water form
        # (<=, not ==) also drops any stale re-delivery.
        lc = store.last_committed()
        if lc is not None and batch_id <= lc:
            return
        # one aggregation over state ∪ batch: max_by is associative, so
        # pre-aggregating the batch only adds an exchange and a job
        one_task = store._one_task_merge(batch_df)
        cur = store.current(spark)
        rows = batch_df if cur is None else cur.unionByName(batch_df)
        if one_task:
            rows = rows.coalesce(1)  # one partition in: no Exchange
        store.commit(latest_state_agg(rows, keys, seq), batch_id)

    q = (
        events.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_incremental_rollup(
    events: DataFrame,
    store: ParquetStateStore,
    checkpoint_dir: str,
    keys: Sequence[str],
    measures: dict[str, Column],
) -> None:
    """Continuous aggregate (the hypertable/materialized-rollup form):
    per micro-batch, aggregate the batch's DELTAS per key and
    additively MERGE them into the store. A complete-mode sink
    re-emits the ENTIRE aggregate every batch — O(result size) per
    trigger, a non-starter once the rollup has millions of groups;
    this touches only the keys the batch contains.

    ``measures`` must be additive aggregates over exact types (counts,
    decimal/long sums — never float): additivity makes batch splits
    invisible, exactness makes merge order invisible, and the batch-id
    high-water guard makes replays exactly-once.

    When the store writes one file and CURRENT plus the batch fit one
    split of the size Spark's file scan picks for them
    (``ParquetStateStore._one_task_merge``), the batch and then
    CURRENT ∪ deltas are coalesced to one partition before each
    aggregation: neither plans an Exchange, so the merge runs as one
    job, one stage and one task. Otherwise each aggregation shuffles.
    """

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        lc = store.last_committed()
        if lc is not None and batch_id <= lc:
            return
        one_task = store._one_task_merge(batch_df)
        if one_task:
            batch_df = batch_df.coalesce(1)  # one partition in: no Exchange
        delta = batch_df.groupBy(*keys).agg(
            *[v.alias(name) for name, v in measures.items()]
        )
        cur = store.current(spark)
        if cur is None:
            merged = delta
        else:
            rows = cur.unionByName(delta)
            if one_task:
                rows = rows.coalesce(1)
            merged = rows.groupBy(*keys).agg(*[F.sum(name).alias(name) for name in measures])
        store.commit(merged, batch_id)

    q = (
        events.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_windowed_rollup(
    events: DataFrame,
    checkpoint_dir: str,
    query_name: str,
    watermark_delay: str = "1 day",
    window_size: str = "1 day",
) -> DataFrame:
    """Watermarked tumbling-window rollup (the §2.6 extension): count +
    sum per (event-time day, event_type). Complete-mode memory sink so
    the drained result is queryable; in append mode only windows below
    the final watermark would have been emitted (late-arrival handling
    is asserted in tests/test_streaming.py).

    The DECIMAL(18,2)-before-SUM cast keeps the aggregate exact and
    batch/stream/oracle-identical (registry.py determinism rules).
    """
    agg = (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_size).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = events.sparkSession
    return spark.table(query_name).select(
        F.to_date(F.col("win.start")).alias("day"),
        "event_type", "n", "sum_value",
    )
