"""The parquet stores answer from what they wrote down, not from Spark:
reads pass the schema sidecar to ``spark.read.schema`` (no inference
job) and the range-store manifest comes from the parquet footers (no
re-scan of the snapshot). Each operation runs under its own job group
and its jobs are counted through the status tracker."""

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.readwriter import DataStreamWriter
from pyspark.sql.types import StructType

from dwh_spark.operators.latest_state import latest_state_agg
from dwh_spark.sources.catalog import load_table
from dwh_spark.streaming.ingest import (
    SCHEMA_SIDECAR,
    ParquetAppendLog,
    ParquetStateStore,
    _data_bytes,
    _read_store_parquet,
    run_incremental_compaction,
    run_incremental_rollup,
    stream_events,
)
from dwh_spark.streaming.phash_ingest import WordDfCapMaintenance

from tests.conftest import n_jobs, n_tasks, under_group


@pytest.fixture
def stream_groups(monkeypatch):
    """A streaming query runs its foreachBatch jobs under its own job
    group, the query's run id; record the run id of every query started."""
    run_ids = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        q = start(self, *args, **kwargs)
        run_ids.append(str(q.runId))
        return q

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    return run_ids


def test_store_reads_and_commits_launch_no_bookkeeping_jobs(
    spark, sf_dir, tmp_path, stream_groups
):
    events = load_table(spark, sf_dir, "events")
    inbox = str(tmp_path / "inbox")
    events.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(inbox)
    state = ParquetStateStore(str(tmp_path / "state"), range_key="user_id", n_files=4)
    rollup = ParquetStateStore(str(tmp_path / "rollup"), write_partitions=1)
    log = ParquetAppendLog(str(tmp_path / "log"), write_partitions=1)

    def fold():
        run_incremental_compaction(
            stream_events(spark, inbox, events.schema), state,
            str(tmp_path / "ckpt_fold"), ["user_id"], F.struct("ts", "event_id"),
        )

    def roll():
        deltas = stream_events(spark, inbox, events.schema).select(
            "event_type", F.col("value").cast("decimal(18,2)").alias("v")
        )
        run_incremental_rollup(
            deltas, rollup, str(tmp_path / "ckpt_rollup"), ["event_type"],
            {"n": F.count("*"), "sum_dec": F.sum("v")},
        )

    fold()  # first batch: both stores start empty
    roll()
    events.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(inbox)
    fold()  # second batch merges into committed state
    roll()
    # both merges write one file and their inputs (the 4-file first
    # snapshot or the one-file rollup, plus the batch file) fit one
    # maxPartitionBytes split, so each reads its inputs as one partition
    # and aggregates and writes in that one task: a store read's
    # inference job, the manifest's re-scan, an Exchange (its map stage
    # and reduce stage) or a range write's sampling job would add to these
    for group in stream_groups[2:]:
        assert (n_jobs(spark, group), n_tasks(spark, group)) == (1, 1)

    log.append(events, 0)
    key = state.manifest()["files"][0]["min_key"]
    n_users = events.select("user_id").distinct().count()
    for name, build, n_rows in [
        ("state.current", lambda: state.current(spark), n_users),
        ("state.as_of", lambda: state.current(spark, as_of_batch=0), None),
        ("state.delta", lambda: state.current(spark, as_of_batch=1, since_batch=0), None),
        ("state.lookup", lambda: state.lookup(spark, key), 1),
        ("rollup.current", lambda: rollup.current(spark), None),
        ("log.current", lambda: log.current(spark), events.count()),
    ]:
        frame, jobs = under_group(spark, f"build {name}", build)
        assert jobs == 0, f"{name}: {jobs} jobs before any action"
        got = frame.count()
        assert n_rows is None or got == n_rows, (name, got, n_rows)

    # a range-store commit costs exactly the jobs of its parquet write:
    # the state is a few KB, far below maxPartitionBytes, so the write
    # is one coalesced file
    merged = state.current(spark).cache()
    merged.count()
    _, write_jobs = under_group(
        spark, "plain write",
        lambda: merged.coalesce(1).write.parquet(str(tmp_path / "plain")),
    )
    _, commit_jobs = under_group(spark, "commit", lambda: state.commit(merged, 9))
    merged.unpersist()
    assert len(state.manifest()["files"]) == 1
    assert commit_jobs == write_jobs


def test_sidecar_less_dirs_still_read(spark, tmp_path):
    """Dirs written before sidecars existed (or by hand) fall back to
    footer inference and read the same rows."""
    state = ParquetStateStore(str(tmp_path / "state"), range_key="k", n_files=2)
    log = ParquetAppendLog(str(tmp_path / "log"))
    df = spark.range(50).select(F.col("id").alias("k"), F.col("id").cast("string").alias("s"))
    state.commit(df, 0)
    log.append(df, 0)
    want = sorted(df.collect())
    for d in (state.version_dir(0), log.segment_dir(0)):
        os.remove(os.path.join(d, SCHEMA_SIDECAR))
    assert sorted(state.current(spark).collect()) == want
    assert sorted(log.current(spark).collect()) == want
    found = state.lookup(spark, 7)
    assert [tuple(r) for r in found.collect()] == [(7, "7")]
    assert found.schema == state.current(spark).schema
    assert state.lookup(spark, 1000).collect() == []
    with pytest.raises(TypeError):
        state.lookup(spark, "7")


def test_lookup_launches_no_job_and_compiles_nothing(spark, tmp_path):
    """A point read is served on the driver: over distinct keys, building
    and collecting ``lookup()`` launches no Spark job and compiles no
    code (a Spark scan inlines the key literal into its generated
    classes: two compiles per new key)."""
    state = ParquetStateStore(str(tmp_path / "state"), range_key="k", n_files=4)
    state.commit(
        spark.range(200).select(F.col("id").alias("k"), F.col("id").cast("string").alias("s")), 0
    )
    state.lookup(spark, 0).collect()  # the schema's one-time row projection
    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    before = compiles.METRIC_COMPILATION_TIME().getCount()
    keys = [3, 57, 101, 150, 199]
    rows, jobs = under_group(
        spark, "lookups",
        lambda: [tuple(r) for k in keys for r in state.lookup(spark, k).collect()],
    )
    assert rows == [(k, str(k)) for k in keys]
    assert jobs == 0
    assert compiles.METRIC_COMPILATION_TIME().getCount() - before == 0


def test_staged_stream_builds_without_jobs(spark, sf_dir):
    """``_staged_events`` opens the file stream with the schema of the
    events frame it staged, so once the stage is written, building the
    stream launches no footer-inference job."""
    from dwh_spark.plans.streaming import _staged_events

    _staged_events(spark, sf_dir)  # writes the session's one stage
    (stream, _), jobs = under_group(spark, "staged stream", lambda: _staged_events(spark, sf_dir))
    assert jobs == 0
    assert stream.isStreaming
    assert stream.schema == load_table(spark, sf_dir, "events").schema


def test_every_committed_dir_has_its_schema_sidecar(spark, tmp_path):
    """Snapshots, appended segments and the dirs compact() and
    rewrite_each() write all carry the sidecar with the written schema."""
    state = ParquetStateStore(str(tmp_path / "state"), range_key="x", n_files=2)
    log = ParquetAppendLog(str(tmp_path / "log"))
    for b in range(3):
        df = spark.range(b * 10, b * 10 + 10).withColumnRenamed("id", "x")
        state.commit(df, b)
        log.append(df, b)

    def has_sidecar(d):
        """The sidecar exists and gives the schema footer inference does."""
        with open(os.path.join(d, SCHEMA_SIDECAR)) as fh:
            recorded = StructType.fromJson(json.load(fh))
        return (
            spark.read.schema(recorded).parquet(d).schema
            == spark.read.parquet(d).schema
        )

    assert all(has_sidecar(state.version_dir(b)) for b in range(3))
    log.compact(spark)
    assert has_sidecar(os.path.join(log.root, log._read_manifest()["segments"][0]))
    log.rewrite_each(spark, lambda seg: seg.filter(F.col("x") % 2 == 0))
    segments = log._read_manifest()["segments"]
    assert segments and all(has_sidecar(os.path.join(log.root, s)) for s in segments)
    assert sorted(r["x"] for r in log.current(spark).collect()) == list(range(0, 30, 2))


def test_df_cap_record_reads_its_segment_without_jobs(spark, tmp_path):
    """``WordDfCapMaintenance.record`` reads the just-appended index
    segment through its sidecar, so it launches only the jobs of its
    stats append — the same as appending the same counts to a fresh log."""
    index = ParquetAppendLog(str(tmp_path / "index"), write_partitions=1)
    stats = ParquetAppendLog(str(tmp_path / "stats"), write_partitions=1)
    maint = WordDfCapMaintenance(spark, index, stats, max_word_freq=10)
    index.append(
        spark.range(200).select((F.col("id") % 17).alias("sub32"), F.col("id").alias("pos")), 0
    )
    seg, read_jobs = under_group(
        spark, "segment read", lambda: _read_store_parquet(spark, [index.segment_dir(0)])
    )
    assert read_jobs == 0
    counts = seg.groupBy("sub32").agg(F.count("*").alias("df"))
    plain = ParquetAppendLog(str(tmp_path / "plain"), write_partitions=1)
    _, append_jobs = under_group(spark, "plain append", lambda: plain.append(counts, 0))
    _, record_jobs = under_group(spark, "record", lambda: maint.record(0))
    assert record_jobs == append_jobs
    assert sorted(stats.current(spark).collect()) == sorted(counts.collect())


def test_range_snapshot_files_follow_snapshot_bytes(spark, sf_dir, tmp_path):
    """The first snapshot has ``n_files`` range files; each later one has
    one per ``spark.sql.files.maxPartitionBytes`` of the snapshot before
    it, at most ``n_files``, and lookups still prune and read exact rows."""
    events = load_table(spark, sf_dir, "events")
    state = ParquetStateStore(str(tmp_path / "state"), range_key="event_id", n_files=4)
    want = {r["event_id"]: tuple(r) for r in events.collect()}
    probes = sorted(want)[:2] + sorted(want)[-2:]

    def check(n_files):
        man = state.manifest()
        assert len(man["files"]) == n_files, man["files"]
        spans = sorted((f["min_key"], f["max_key"]) for f in man["files"])
        assert all(hi < lo for (_, hi), (lo, _) in zip(spans, spans[1:])), spans
        for key in probes:
            assert [tuple(r) for r in state.lookup(spark, key).collect()] == [want[key]]
            covering = [f for f in man["files"] if f["min_key"] <= key <= f["max_key"]]
            assert len(covering) == 1 and (n_files == 1 or len(covering) < n_files)

    state.commit(events, 0)  # no snapshot to size by yet
    check(4)
    state.commit(events, 1)  # a few KB, far below maxPartitionBytes
    check(1)

    conf = "spark.sql.files.maxPartitionBytes"
    size = _data_bytes(state.version_dir(1))
    prev = spark.conf.get(conf)
    try:
        for batch_id, parts in [(2, 3), (3, 8)]:  # under n_files, then over it
            cap = size // parts + 1
            spark.conf.set(conf, str(cap))
            state.commit(events, batch_id)
            spark.conf.set(conf, prev)
            check(min(4, -(-size // cap)))
            size = _data_bytes(state.version_dir(batch_id))
    finally:
        spark.conf.set(conf, prev)
    assert spark.conf.get(conf) == prev


@pytest.mark.parametrize("path", ["one_task", "split"])
def test_merges_equal_replay_on_both_paths(spark, sf_dir, tmp_path, stream_groups, path):
    """Folding and rolling up three micro-batches gives the one-shot
    replay over all of them, whether each merge reads its inputs as one
    partition (they fit one scan split) or keeps the split plan
    (``maxPartitionBytes`` lowered below the inputs' bytes). Both stores
    write one file, so the split size alone picks the path."""
    events = load_table(spark, sf_dir, "events")
    inbox = str(tmp_path / "in box")
    for i in range(3):
        events.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(inbox)
    state = ParquetStateStore(str(tmp_path / "state"), range_key="user_id", n_files=1)
    rollup = ParquetStateStore(str(tmp_path / "rollup"), write_partitions=1)
    seq = F.struct("ts", "event_id")
    value = F.col("value").cast("decimal(18,2)")
    conf = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(conf)
    try:
        if path == "split":
            spark.conf.set(conf, "1k")
        run_incremental_compaction(
            stream_events(spark, inbox, events.schema), state,
            str(tmp_path / "ckpt_fold"), ["user_id"], seq,
        )
        run_incremental_rollup(
            stream_events(spark, inbox, events.schema).select("event_type", value.alias("v")),
            rollup, str(tmp_path / "ckpt_rollup"), ["event_type"],
            {"n": F.count("*"), "sum_dec": F.sum("v")},
        )
    finally:
        spark.conf.set(conf, prev)
    assert spark.conf.get(conf) == prev

    replay = latest_state_agg(events, ["user_id"], seq)
    assert [(f.name, f.dataType) for f in replay.schema] == [
        (f.name, f.dataType) for f in events.schema
    ]
    assert state.last_committed() == rollup.last_committed() == 2
    assert sorted(state.current(spark).collect()) == sorted(replay.collect())
    assert sorted(rollup.current(spark).collect()) == sorted(
        events.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum(value).alias("sum_dec"))
        .collect()
    )
    # one job and one task per batch on the one-task path; the split
    # plan's Exchange runs every batch as an AQE map-stage job and a
    # reduce job, over more than one task
    for group in stream_groups:
        jobs, tasks = n_jobs(spark, group), n_tasks(spark, group)
        if path == "one_task":
            assert (jobs, tasks) == (3, 3)
        else:
            assert jobs >= 6 and tasks > 6, (jobs, tasks)


def test_one_task_merge_needs_a_sized_batch_and_one_file(spark, tmp_path):
    """A merge takes the one-task plan only when its snapshot is one file,
    Spark can size the batch and the inputs fit the split Spark's scan
    would pick: a file scan is sized by its files' bytes (a path with a
    space included), a frame over an RDD is not sized at all and keeps
    the split plan, and so do inputs past ``openCostInBytes`` that Spark
    would scan over several partitions."""
    inbox = str(tmp_path / "in box")
    spark.range(100).write.parquet(inbox)
    files = spark.read.parquet(inbox)
    one_file = ParquetStateStore(str(tmp_path / "one"), write_partitions=1)
    assert one_file._one_task_merge(files)
    assert not one_file._one_task_merge(spark.createDataFrame(files.rdd, files.schema))
    assert not ParquetStateStore(str(tmp_path / "any"))._one_task_merge(files)
    ranged = ParquetStateStore(str(tmp_path / "ranged"), range_key="id", n_files=2)
    assert not ranged._one_task_merge(files)  # the first snapshot has n_files files
    ranged.commit(files, 0)
    assert ranged._one_task_merge(files)

    size = files._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    confs = {
        "spark.sql.files.openCostInBytes": str(size // 2),
        "spark.sql.files.minPartitionNum": "4",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # over 4 partitions the split is the open cost, half the batch
        assert not one_file._one_task_merge(files)
        # over one partition the split is all the bytes (under maxPartitionBytes)
        spark.conf.set("spark.sql.files.minPartitionNum", "1")
        assert one_file._one_task_merge(files)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
