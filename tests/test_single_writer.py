"""Single-writer contract on the manifest swap (VERDICT r17
What's-missing #6): both stores assume one writer per root; a second
concurrent mutator must fail LOUDLY at the commit point instead of
silently racing the manifest rewrite. Re-read-then-replace is
detection, not a lock — these tests pin that the realistic race (a
second writer landing during this writer's long Spark job) is caught.
"""

import os

import pytest
from pyspark.sql import functions as F

from dwh_spark.streaming.ingest import (
    ConcurrentWriterError,
    ParquetAppendLog,
    ParquetStateStore,
    append_batches,
)


def _frame(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "x")


def test_append_log_compact_detects_concurrent_writer(spark, tmp_path):
    """A second writer appending DURING a compact's Spark job moves
    the manifest txn; the compact's swap must refuse — proceeding
    would drop the intruder's segment from the segment list."""
    root = str(tmp_path / "log")
    log = ParquetAppendLog(root, write_partitions=1)
    log.append(_frame(spark, 0, 10), 0)
    log.append(_frame(spark, 10, 20), 1)
    intruder = ParquetAppendLog(root, write_partitions=1)

    def transform(df):
        # runs between compact's manifest read and its swap — exactly
        # the long-Spark-job window a real concurrent writer would hit
        intruder.append(_frame(spark, 90, 95), 9)
        return df

    with pytest.raises(ConcurrentWriterError):
        log.compact(spark, transform=transform)
    # the intruder's commit stands; the compact never swapped
    man = log._read_manifest()
    assert "seg0000000009" in man["segments"]
    assert log.last_committed() == 9
    assert {r["x"] for r in log.current(spark).collect()} == (
        set(range(20)) | set(range(90, 95))
    )


def test_append_log_rewrite_each_detects_concurrent_writer(spark, tmp_path):
    """Same detection for the scoped rewrite (the forget path): the
    whole old state must survive — erasure must never half-land UNDER
    a lost-update race (the atomic swap is all-or-nothing and here it
    is refused outright)."""
    root = str(tmp_path / "log")
    log = ParquetAppendLog(root, write_partitions=1)
    log.append(_frame(spark, 0, 10), 0)
    intruder = ParquetAppendLog(root, write_partitions=1)
    hit = []

    def transform(df):
        if not hit:
            hit.append(1)
            intruder.append(_frame(spark, 50, 55), 7)
        return df.filter(F.col("x") != 3)

    with pytest.raises(ConcurrentWriterError):
        log.rewrite_each(spark, transform)
    # nothing rewritten: the pre-race state AND the intruder's segment
    assert {r["x"] for r in log.current(spark).collect()} == (
        set(range(10)) | set(range(50, 55))
    )


def test_append_log_normal_single_writer_never_raises(spark, tmp_path):
    """The full mutator sequence under one writer: append, compact,
    rewrite_each, expire — txn threads through every shape."""
    log = ParquetAppendLog(str(tmp_path / "log"), write_partitions=1)
    for b in range(3):
        log.append(_frame(spark, b * 10, b * 10 + 10), b)
    log.rewrite_each(spark, lambda df: df.filter(F.col("x") % 10 != 5))
    log.expire(keep_from=1)
    log.compact(spark)
    log.append(_frame(spark, 100, 110), 3)
    assert log.current(spark).count() == 18 + 10
    # one bump per mutation, starting at 0 for the first append
    assert log._txn(log._read_manifest()) == 6


def test_append_batches_commits_no_store_when_one_write_fails(spark, tmp_path):
    """The segment writes run in parallel and every manifest commit
    comes after all of them: one failed write raises only once the
    other writes have landed, and no store's manifest moves."""
    logs = [
        ParquetAppendLog(str(tmp_path / f"log{i}"), write_partitions=1)
        for i in range(3)
    ]
    for log in logs:
        log.append(_frame(spark, 0, 5), 0)

    def fail(df, batch_id):
        raise OSError("segment write failed")

    logs[-1].write_segment = fail  # fails at once, while the others write
    with pytest.raises(OSError, match="segment write failed"):
        append_batches(
            [(log, _frame(spark, 10 * i, 10 * i + 7), 1) for i, log in enumerate(logs)]
        )
    assert [log.last_committed() for log in logs] == [0, 0, 0]
    assert not os.path.exists(logs[-1].segment_dir(1))
    for log in logs[:-1]:
        assert os.path.exists(os.path.join(log.segment_dir(1), "_SUCCESS"))
        assert spark.read.parquet(log.segment_dir(1)).count() == 7
        assert {r["x"] for r in log.current(spark).collect()} == set(range(5))


def test_state_store_flip_detects_second_writer(spark, tmp_path):
    """Writer A is mid-commit (snapshot written, pointer not yet
    flipped) when writer B commits a newer batch: A's flip must
    refuse to move CURRENT backwards over B's commit."""
    root = str(tmp_path / "state")
    a = ParquetStateStore(root, write_partitions=1)
    b = ParquetStateStore(root, write_partitions=1)
    a.write_snapshot(_frame(spark, 0, 5), 2)
    b.commit(_frame(spark, 0, 9), 3)
    with pytest.raises(ConcurrentWriterError):
        a.flip(2)
    assert a.last_committed() == 3  # B's commit stands
    assert a.current(spark).count() == 9


def test_state_store_monotone_commits_unaffected(spark, tmp_path):
    """Normal monotone commits (incl. the crash-replay shape where
    write_snapshot reruns for an unflipped batch) keep working."""
    store = ParquetStateStore(str(tmp_path / "state"), write_partitions=1)
    store.commit(_frame(spark, 0, 5), 1)
    store.write_snapshot(_frame(spark, 0, 7), 2)  # crash before flip...
    store.write_snapshot(_frame(spark, 0, 7), 2)  # ...replay rewrites
    store.flip(2)
    assert store.last_committed() == 2
    assert store.current(spark).count() == 7


def test_state_store_same_batch_replay_reflips_idempotently(spark, tmp_path):
    """The class contract's OTHER crash window (review r18): crash
    AFTER flip(N) but BEFORE the checkpoint's offset commit re-delivers
    batch N to a fold without a last_committed pre-check; commit(df, N)
    with CURRENT already at N is the documented idempotent replay
    (same dir, same pointer content), NOT a second writer — raising
    there would wedge the restarted stream permanently. Only CURRENT
    already PAST the batch proves a writer raced."""
    store = ParquetStateStore(str(tmp_path / "state"), write_partitions=1)
    store.commit(_frame(spark, 0, 5), 1)
    store.commit(_frame(spark, 0, 7), 2)
    store.commit(_frame(spark, 0, 7), 2)  # replay after flipped commit
    assert store.last_committed() == 2
    assert store.current(spark).count() == 7
    with pytest.raises(ConcurrentWriterError):  # older stays loud
        store.flip(1)
