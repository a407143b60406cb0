"""Streaming-specific semantics the oracle queries can't express:
checkpoint resume (S5 cursor parity) and watermark lateness handling
(§2.6 extension)."""

import datetime
import os
import shutil

import pytest
from pyspark.sql import functions as F

from dwh_spark.operators.latest_state import latest_state_agg
from dwh_spark.sources.catalog import load_table
from dwh_spark.streaming.ingest import (
    ParquetStateStore,
    run_incremental_compaction,
    stream_events,
)

SF = "/root/testdata/sf0.001"


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """Stop-and-resume: files committed before the restart are never
    reprocessed (the LevelDB cursor, x/indexer/cursor.go:5-18), and the
    resumed stream converges to the same state as a full batch replay."""
    events = load_table(spark, SF, "events")
    first, second = (
        events.filter(F.col("event_id") % 2 == 0),
        events.filter(F.col("event_id") % 2 == 1),
    )
    input_dir = str(tmp_path / "input")
    first.coalesce(1).write.parquet(input_dir)

    store = ParquetStateStore(str(tmp_path / "state"))
    ckpt = str(tmp_path / "ckpt")
    keys, seq = ["user_id"], F.struct("ts", "event_id")
    schema = events.schema

    run_incremental_compaction(stream_events(spark, input_dir, schema), store, ckpt, keys, seq)
    versions_after_first = set(os.listdir(store.root))

    # "the chain grows": new file lands, daemon wakes again (S13)
    second.coalesce(1).write.mode("append").parquet(input_dir)
    run_incremental_compaction(stream_events(spark, input_dir, schema), store, ckpt, keys, seq)

    new_versions = set(os.listdir(store.root)) - versions_after_first
    # resume processed ONLY the new file: exactly one new snapshot
    assert len([v for v in new_versions if v.startswith("v")]) == 1

    got = {r["user_id"]: r["event_id"] for r in store.current(spark).collect()}
    want = {
        r["user_id"]: r["event_id"]
        for r in latest_state_agg(events, ["user_id"], F.struct("ts", "event_id")).collect()
    }
    assert got == want


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """M22: re-running a drained stream with the same checkpoint is a
    no-op — no new snapshots, same state."""
    events = load_table(spark, SF, "events").limit(100)
    input_dir = str(tmp_path / "input")
    events.coalesce(1).write.parquet(input_dir)
    store = ParquetStateStore(str(tmp_path / "state"))
    ckpt = str(tmp_path / "ckpt")
    schema = events.schema

    run_incremental_compaction(
        stream_events(spark, input_dir, schema), store, ckpt, ["user_id"], F.struct("ts", "event_id")
    )
    before = sorted(os.listdir(store.root))
    n_before = store.current(spark).count()
    run_incremental_compaction(
        stream_events(spark, input_dir, schema), store, ckpt, ["user_id"], F.struct("ts", "event_id")
    )
    assert sorted(os.listdir(store.root)) == before
    assert store.current(spark).count() == n_before


def test_crash_window_replay_skips_committed_snapshot(spark, tmp_path):
    """M22, the OTHER replay window: crash lands between store.commit()
    (CURRENT now points at v{batch_id}) and the checkpoint's offset
    commit. On restart the same batch_id is re-delivered; merging again
    would read v{batch_id} while overwriting it (Spark refuses) — the
    store must detect the already-committed snapshot and skip."""
    events = load_table(spark, SF, "events").limit(100)
    input_dir = str(tmp_path / "input")
    events.coalesce(1).write.parquet(input_dir)
    store = ParquetStateStore(str(tmp_path / "state"))
    schema = events.schema
    keys, seq = ["user_id"], F.struct("ts", "event_id")

    run_incremental_compaction(
        stream_events(spark, input_dir, schema), store, str(tmp_path / "ckpt1"), keys, seq
    )
    before = sorted(os.listdir(store.root))
    state_before = {r["user_id"]: r["event_id"] for r in store.current(spark).collect()}

    # Lost checkpoint == the offset commit never happened: the SAME
    # batch_id 0 is re-delivered while CURRENT already points at v0.
    run_incremental_compaction(
        stream_events(spark, input_dir, schema), store, str(tmp_path / "ckpt2"), keys, seq
    )
    assert sorted(os.listdir(store.root)) == before
    state_after = {r["user_id"]: r["event_id"] for r in store.current(spark).collect()}
    assert state_after == state_before


def test_watermark_closes_windows_in_append_mode(spark, tmp_path):
    """Append mode emits a window only once the watermark passes its
    end: after batch 2 (day 10) arrives with a 1-day delay, day-1
    windows are final and emitted; day-10 windows are still open."""
    rows1 = [(i, f"2024-01-01 0{i}:00:00", 1, "click", 1.0) for i in range(3)]
    rows2 = [(9, "2024-01-10 00:00:00", 2, "click", 1.0)]
    input_dir = str(tmp_path / "input")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def write(rows):
        spark.createDataFrame(
            [(i, __import__("datetime").datetime.fromisoformat(t), u, e, v) for i, t, u, e, v in rows],
            schema,
        ).coalesce(1).write.mode("append").parquet(input_dir)

    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        q = (
            stream_events(spark, input_dir, schema)
            .withWatermark("ts", "1 day")
            .groupBy(F.window("ts", "1 day").alias("win"))
            .agg(F.count("*").alias("n"))
            .select(F.to_date("win.start").alias("day"), "n")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write(rows1)
    drain()
    write(rows2)
    drain()
    emitted = {(str(r["day"]), r["n"]) for r in spark.read.parquet(out_dir).collect()}
    # day 1 closed (watermark = Jan 10 - 1 day > Jan 2); day 10 still open
    assert emitted == {("2024-01-01", 3)}


def test_marketplace_stream_cross_batch_accept_resolution(spark, tmp_path):
    """M14 across batches: an AcceptOffer whose MakeOffer arrived in an
    EARLIER micro-batch must still resolve the buyer — through the
    carried makes state, not the batch's own events. The split is
    placed immediately before the accept so the pair always straddles.
    Final state must equal the full batch replay, column for column."""
    import pandas as pd

    from dwh_spark.operators.transitions import (
        finalize_bids,
        finalize_ft_state,
        finalize_nfts,
        finalize_offers,
        materialize_auction_bids,
        materialize_nfts,
        materialize_offers,
    )
    from dwh_spark.sources.marketplace_fixture import marketplace_events
    from dwh_spark.streaming.ingest import ParquetStateStore
    from dwh_spark.streaming.marketplace import run_marketplace_stream

    events = marketplace_events(spark)
    pdf = events.toPandas().sort_values(["height", "tx_index", "msg_id"]).reset_index(drop=True)
    accept_ix = pdf.index[pdf["msg_type"] == "MsgAcceptOffer"][0]
    make_ix = pdf.index[pdf["msg_type"] == "MsgMakeOffer"][0]
    assert make_ix < accept_ix
    input_dir = str(tmp_path / "input")
    os.makedirs(input_dir)
    for i, chunk in enumerate([pdf.iloc[:accept_ix], pdf.iloc[accept_ix:]]):
        chunk_df = spark.createDataFrame(
            pd.DataFrame({c: chunk[c].astype(object).where(chunk[c].notna(), None)
                          for c in chunk.columns}),
            events.schema,
        )
        tmp = str(tmp_path / f"tmp{i}")
        chunk_df.coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(input_dir, f"b{i}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    stores = {
        n: ParquetStateStore(str(tmp_path / n))
        for n in ("nfts", "makes", "offers", "bids", "fts")
    }
    run_marketplace_stream(
        stream_events(spark, input_dir, events.schema, max_files_per_trigger=1),
        stores["nfts"], stores["makes"], str(tmp_path / "ckpt"),
        offers_store=stores["offers"], bids_store=stores["bids"],
        fts_store=stores["fts"],
    )
    got = sorted(map(tuple, finalize_nfts(stores["nfts"].current(spark)).collect()))
    want = sorted(map(tuple, materialize_nfts(events).collect()))
    assert got == want
    # the same straddling split must leave offers/bids/fts stream==batch
    got_o = sorted(map(tuple, finalize_offers(stores["offers"].current(spark)).collect()))
    want_o = sorted(map(tuple, materialize_offers(events).collect()))
    assert got_o == want_o
    got_b = sorted(map(tuple, finalize_bids(stores["bids"].current(spark)).collect()))
    want_b = sorted(map(tuple, materialize_auction_bids(events).collect()))
    assert got_b == want_b
    assert finalize_ft_state(stores["fts"].current(spark)).count() == 3


def test_users_sum_exactly_once_under_lost_checkpoint(spark, tmp_path):
    """The users sequence_number is a SUM — not idempotent. A full
    re-drive with a lost checkpoint re-delivers every batch id from 0;
    the high-water guard (batch_id <= last_committed) must drop them
    all, keeping the sums exactly-once."""
    from dwh_spark.operators.transitions import finalize_users, materialize_users
    from dwh_spark.sources.marketplace_fixture import marketplace_events
    from dwh_spark.streaming.ingest import ParquetStateStore
    from dwh_spark.streaming.marketplace import run_marketplace_stream

    events = marketplace_events(spark)
    input_dir = str(tmp_path / "input")
    events.coalesce(2).write.parquet(input_dir)
    nft_store = ParquetStateStore(str(tmp_path / "nfts"))
    makes_store = ParquetStateStore(str(tmp_path / "makes"))
    users_store = ParquetStateStore(str(tmp_path / "users"))

    def drive(ckpt):
        run_marketplace_stream(
            stream_events(spark, input_dir, events.schema, max_files_per_trigger=1),
            nft_store, makes_store, str(tmp_path / ckpt), users_store=users_store,
        )

    drive("ckpt1")
    drive("ckpt2")  # lost checkpoint: batch ids restart at 0
    got = {
        r["address"]: r["sequence_number"]
        for r in finalize_users(users_store.current(spark)).collect()
    }
    want = {
        r["address"]: r["sequence_number"]
        for r in materialize_users(events).collect()
    }
    assert got == want


def test_incremental_rollup_sums_exactly_once(spark, tmp_path):
    """The continuous-aggregate counts/sums are additive, NOT
    idempotent — a lost-checkpoint full re-drive re-delivers batch ids
    from 0 and the high-water guard must drop every one of them."""
    from dwh_spark.streaming.ingest import run_incremental_rollup

    events = load_table(spark, SF, "events")
    input_dir = str(tmp_path / "input")
    events.repartition(3).write.parquet(input_dir)
    store = ParquetStateStore(str(tmp_path / "state"))

    def drive(ckpt):
        prepared = stream_events(spark, input_dir, events.schema, max_files_per_trigger=1).select(
            F.to_date("ts").alias("day"), "event_type",
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
        run_incremental_rollup(
            prepared, store, str(tmp_path / ckpt),
            keys=["day", "event_type"],
            measures={"n": F.count("*"), "sum_dec": F.sum("v")},
        )

    drive("ckpt1")
    drive("ckpt2")  # lost checkpoint: batch ids restart at 0
    got = {
        (str(r["day"]), r["event_type"]): (r["n"], str(r["sum_dec"]))
        for r in store.current(spark).collect()
    }
    want = {
        (str(r["day"]), r["event_type"]): (r["n"], str(r["s"]))
        for r in events.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)")).alias("s"))
        .collect()
    }
    assert got == want


def test_session_window_stream_resumes_and_merges_across_restart(spark, tmp_path):
    """Kill-and-resume for the native session-window aggregation: half
    the event files drain under one stream, the process "dies", and a
    NEW stream on the same checkpoint drains the rest. Sessions that
    straddle the restart must merge in the state store exactly as if
    one stream saw everything — final result equals the batch gap
    sessionization (the streaming_session_windows oracle claim, plus
    durability)."""
    events = load_table(spark, SF, "events")
    input_dir = str(tmp_path / "input")
    os.makedirs(input_dir)
    # two chain-ordered halves as separate files
    ordered = events.orderBy("ts", "event_id")
    n = events.count()
    half_ts = ordered.limit(n // 2).agg(F.max("ts")).collect()[0][0]
    for i, part in enumerate(
        (events.filter(F.col("ts") <= half_ts), events.filter(F.col("ts") > half_ts))
    ):
        tmp = str(tmp_path / f"tmp{i}")
        part.coalesce(1).write.parquet(tmp)
        src = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(input_dir, f"batch{i}.parquet")
        shutil.move(os.path.join(tmp, src), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    ckpt = str(tmp_path / "ckpt")
    schema = events.schema

    def drain(name):
        agg = (
            stream_events(spark, input_dir, schema, max_files_per_trigger=1)
            .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
            .agg(F.count("*").alias("n_events"))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name)

    # first drain sees only file 0 (file 1 not yet "arrived")
    os.rename(os.path.join(input_dir, "batch1.parquet"), str(tmp_path / "held"))
    drain("sw_run1")
    os.rename(str(tmp_path / "held"), os.path.join(input_dir, "batch1.parquet"))
    resumed = drain("sw_run2")  # new stream, same checkpoint

    # batch truth: gap sessionization over the full table
    w = F.window  # noqa: F841  (readability only)
    from pyspark.sql.window import Window as W

    ww = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(ww)
    is_new = F.when(gap.isNull() | (gap >= F.expr("INTERVAL '30' MINUTE")), 1).otherwise(0)
    run = ww.rowsBetween(W.unboundedPreceding, W.currentRow)
    batch = (
        events.withColumn("sid", F.sum(is_new).over(run))
        .groupBy("user_id", "sid")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("start"),
            (F.max("ts") + F.expr("INTERVAL '30' MINUTE")).alias("end"),
        )
    )
    got = sorted(
        (r["user_id"], r["sw"]["start"], r["sw"]["end"], r["n_events"])
        for r in resumed.collect()
    )
    want = sorted(
        (r["user_id"], r["start"], r["end"], r["n_events"]) for r in batch.collect()
    )
    assert got == want


def test_partitioned_store_manifest_and_restart(spark, tmp_path):
    """range_key mode: every snapshot is N key-range files + a
    manifest whose per-file stats sum to the store; restart resumes
    and re-manifests correctly; the MERGE body is untouched."""
    events = load_table(spark, SF, "events")
    first, second = (
        events.filter(F.col("event_id") % 2 == 0),
        events.filter(F.col("event_id") % 2 == 1),
    )
    input_dir = str(tmp_path / "input")
    first.coalesce(1).write.parquet(input_dir)

    store = ParquetStateStore(str(tmp_path / "state"), range_key="user_id", n_files=4)
    ckpt = str(tmp_path / "ckpt")
    keys, seq = ["user_id"], F.struct("ts", "event_id")
    schema = events.schema

    run_incremental_compaction(stream_events(spark, input_dir, schema), store, ckpt, keys, seq)
    man1 = store.manifest()
    assert man1 is not None and len(man1["files"]) <= 4

    second.coalesce(1).write.mode("append").parquet(input_dir)
    run_incremental_compaction(stream_events(spark, input_dir, schema), store, ckpt, keys, seq)

    man2 = store.manifest()
    assert man2["batch_id"] > man1["batch_id"]
    # the footer-built manifest equals the per-file stats a Spark scan
    # of the same snapshot computes
    ref = (
        spark.read.parquet(store.version_dir(man2["batch_id"]))
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.count(F.lit(1)).alias("n"), F.min("user_id").alias("lo"),
             F.max("user_id").alias("hi"))
        .collect()
    )
    assert sorted(
        (os.path.basename(r["file"]), r["n"], r["lo"], r["hi"]) for r in ref
    ) == [(f["file"], f["n_rows"], f["min_key"], f["max_key"]) for f in man2["files"]]
    state = store.current(spark)
    # manifest row counts must reconcile exactly with the snapshot
    assert man2["n_rows"] == state.count()
    assert sum(f["n_rows"] for f in man2["files"]) == man2["n_rows"]
    # key ranges are disjoint and ordered (range partitioning)
    spans = sorted(
        (f["min_key"], f["max_key"]) for f in man2["files"] if f["min_key"] is not None
    )
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2
    # final state still equals the batch replay (layout is invisible)
    got = {r["user_id"]: r["event_id"] for r in state.collect()}
    want = {
        r["user_id"]: r["event_id"]
        for r in latest_state_agg(events, keys, F.struct("ts", "event_id")).collect()
    }
    assert got == want


def test_partitioned_store_lookup_prunes_files(spark, tmp_path):
    """lookup() must read only the manifest-covered file(s) for a key
    and return exactly the state row for that key."""
    events = load_table(spark, SF, "events")
    input_dir = str(tmp_path / "input")
    events.coalesce(1).write.parquet(input_dir)
    store = ParquetStateStore(str(tmp_path / "state"), range_key="user_id", n_files=4)
    run_incremental_compaction(
        stream_events(spark, input_dir, events.schema), store,
        str(tmp_path / "ckpt"), ["user_id"], F.struct("ts", "event_id"),
    )
    state = {r["user_id"]: r["event_id"] for r in store.current(spark).collect()}
    some_keys = sorted(state)[:3] + sorted(state)[-3:]
    man = store.manifest()
    for k in some_keys:
        df = store.lookup(spark, k)
        rows = df.collect()
        assert len(rows) == 1 and rows[0]["event_id"] == state[k]
        # pruning: the lookup plan reads fewer files than the snapshot
        n_covering = sum(
            1 for f in man["files"]
            if f["min_key"] is not None and f["min_key"] <= k <= f["max_key"]
        )
        assert n_covering < len(man["files"])
    # a key outside every range returns empty, not an error
    assert store.lookup(spark, max(state) + 10**9).count() == 0


def test_partitioned_store_key_without_footer_stats(spark, tmp_path):
    """A range key whose parquet footers carry no min/max (INT96
    timestamps) records None in the manifest, and lookup() reads
    those files instead of pruning them: a scan, never a wrong answer."""
    events = load_table(spark, SF, "events")
    store = ParquetStateStore(str(tmp_path / "state"), range_key="ts", n_files=4)
    store.commit(events, 0)
    man = store.manifest()
    assert len(man["files"]) > 1
    assert all(f["min_key"] is None and f["max_key"] is None for f in man["files"])
    assert sum(f["n_rows"] for f in man["files"]) == events.count()
    current = store.current(spark)
    for row in events.orderBy("event_id").limit(3).collect():
        got = sorted(r["event_id"] for r in store.lookup(spark, row["ts"]).collect())
        want = sorted(
            r["event_id"] for r in events.filter(F.col("ts") == row["ts"]).collect()
        )
        assert row["event_id"] in got and got == want
        # one microsecond off the stored instant matches nothing
        absent = row["ts"] + datetime.timedelta(microseconds=1)
        assert_lookup_exact(store, current, "ts", absent, 0)
    before = events.agg(F.min("ts")).first()[0] - datetime.timedelta(days=1)
    assert_lookup_exact(store, current, "ts", before, 0)
    with pytest.raises(TypeError):
        store.lookup(spark, before.date())


def assert_lookup_exact(store, current, key, value, n_rows):
    """``lookup(value)`` has the rows and the schema of the same filter
    over the whole current snapshot, and ``n_rows`` of them."""
    spark = current.sparkSession
    got, want = store.lookup(spark, value), current.filter(F.col(key) == value)
    assert got.schema == want.schema
    rows = sorted(got.collect())
    assert rows == sorted(want.collect()) and len(rows) == n_rows, (value, rows)


_KEYS = {
    # name: (SQL of the key from id, id -> key value); ids are even, so
    # an odd id is absent but inside a file's key range
    "int": ("id", lambda i: i),
    "string": ("format_string('k%04d', id)", lambda i: f"k{i:04d}"),
    "date": (
        "date_add(DATE'2020-01-01', CAST(id AS INT))",
        lambda i: datetime.date(2020, 1, 1) + datetime.timedelta(days=i),
    ),
    "timestamp": (
        "timestamp_seconds(id * 3600 + 7)",
        lambda i: datetime.datetime(1970, 1, 1) + datetime.timedelta(hours=i, seconds=7),
    ),
    "timestamp_ntz": (
        "to_timestamp_ntz(from_unixtime(id * 3600 + 7))",
        lambda i: datetime.datetime(1970, 1, 1) + datetime.timedelta(hours=i, seconds=7),
    ),
}
_WRONG_TYPE = {
    "int": "2",
    "string": 2,
    "date": datetime.datetime(2020, 1, 3),
    "timestamp": datetime.date(1970, 1, 1),
    "timestamp_ntz": 7,
}


@pytest.mark.parametrize(
    "kind, ts_type",
    [(kind, "INT96") for kind in sorted(_KEYS)] + [("timestamp", "TIMESTAMP_MICROS")],
)
def test_lookup_equals_current_filter(spark, tmp_path, kind, ts_type):
    """lookup(v) gives the rows and schema of current().filter(key == v)
    for int, string, date and both timestamp keys (LTZ written as INT96
    and as INT64 micros): a present key, an absent key inside a file's
    range, a key outside every range; a value of another type raises
    TypeError."""
    sql, value_of = _KEYS[kind]
    conf = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, ts_type)
    try:
        store = ParquetStateStore(str(tmp_path / "state"), range_key="k", n_files=3)
        store.commit(
            spark.range(0, 60, 2).select(F.expr(sql).alias("k"), F.col("id").alias("v")), 0
        )
    finally:
        spark.conf.set(conf, prev)
    current = store.current(spark)
    assert len(store.manifest()["files"]) == 3
    for i, n_rows in [(0, 1), (30, 1), (58, 1), (31, 0), (1000, 0)]:
        assert_lookup_exact(store, current, "k", value_of(i), n_rows)
    with pytest.raises(TypeError):
        store.lookup(spark, _WRONG_TYPE[kind])


def test_lookup_frame_keeps_its_snapshot(spark, tmp_path):
    """A lookup frame holds the rows current when lookup() was called: a
    later commit and the expiry of its snapshot's dir change nothing."""
    store = ParquetStateStore(str(tmp_path / "state"), range_key="k", n_files=2)

    def frame(v):
        return spark.range(100).select(F.col("id").alias("k"), F.lit(v).alias("v"))

    store.commit(frame(1), 1)
    at_v1 = store.lookup(spark, 42)
    store.commit(frame(2), 2)
    store.expire_versions(keep_from=2)
    assert not os.path.exists(store.version_dir(1))
    assert [tuple(r) for r in at_v1.collect()] == [(42, 1)]
    assert [tuple(r) for r in store.lookup(spark, 42).collect()] == [(42, 2)]


def test_lookup_reads_current_once(spark, tmp_path, monkeypatch):
    """A commit landing while lookup() is resolving the snapshot must not
    join one version's manifest file names to another version's dir:
    lookup() serves the version CURRENT named when it started."""
    store = ParquetStateStore(str(tmp_path / "state"), range_key="k", n_files=2)

    def frame(v):
        return spark.range(100).select(F.col("id").alias("k"), F.lit(v).alias("v"))

    store.commit(frame(1), 1)
    store.write_snapshot(frame(2), 2)

    load = store._manifest_at  # every manifest read, manifest() included

    def load_then_commit(version_dir):
        out = load(version_dir)
        store.flip(2)  # the concurrent commit
        return out

    monkeypatch.setattr(store, "_manifest_at", load_then_commit)
    assert [tuple(r) for r in store.lookup(spark, 42).collect()] == [(42, 1)]
    monkeypatch.undo()
    assert store.last_committed() == 2
    assert [tuple(r) for r in store.lookup(spark, 42).collect()] == [(42, 2)]


def test_minhash_ingest_exactly_once_under_lost_checkpoint(spark, tmp_path):
    """M22 for the streaming LSH ingest: a full re-drive with a lost
    checkpoint re-delivers every batch id from 0 — the high-water
    guard must skip them all, so the band/doc stores don't double-
    append and the versioned per-batch output dirs are not rewritten
    with duplicated flags. Result must equal the batch earlier-
    partners computation."""
    from pyspark.sql import functions as F

    from dwh_spark.operators.dedup import lsh_candidate_pairs, shingles
    from dwh_spark.streaming.docs_ingest import read_ingest_results, run_minhash_ingest
    from dwh_spark.streaming.ingest import ParquetAppendLog

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    input_dir = str(tmp_path / "input")
    # 2 id-ordered files
    import os

    from pyspark.sql.window import Window

    sliced = docs.withColumn("__slice", F.ntile(2).over(Window.orderBy("doc_id")))
    staged = str(tmp_path / "staged")
    sliced.repartition(1).write.partitionBy("__slice").parquet(staged)
    os.makedirs(input_dir)
    import shutil

    for i in range(1, 3):
        sdir = os.path.join(staged, f"__slice={i}")
        part = next(f for f in os.listdir(sdir) if f.endswith(".parquet"))
        dst = os.path.join(input_dir, f"batch{i}.parquet")
        shutil.move(os.path.join(sdir, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    bands_store = ParquetAppendLog(str(tmp_path / "bands"), write_partitions=1)
    docs_store = ParquetAppendLog(str(tmp_path / "docs"), write_partitions=1)
    out_dir = str(tmp_path / "out")

    def drive(ckpt):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(input_dir)
        )
        run_minhash_ingest(stream, bands_store, docs_store, out_dir, str(tmp_path / ckpt))

    drive("ckpt1")
    drive("ckpt2")  # lost checkpoint: batch ids restart at 0

    got = {
        (r["doc_id"], r["n_earlier_dups"])
        for r in read_ingest_results(spark, out_dir).collect()
    }
    # batch reference: candidate pairs a<b, verified at jaccard>=0.7
    pairs = lsh_candidate_pairs(docs)
    sh = docs.select("doc_id", shingles(F.col("text"), 3).alias("sh"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    union_n = F.size("sh_a") + F.size("sh_b") - n_common
    verified = (
        pairs.join(sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .filter(F.round(n_common.cast("double") / union_n.cast("double"), 6) >= 0.7)
        .groupBy("id_b")
        .agg(F.count("*").alias("n"))
    )
    want = {(r["id_b"], r["n"]) for r in verified.collect()}
    assert got == want
    # stores accumulated each doc exactly once
    assert docs_store.current(spark).count() == docs.count()


def test_append_log_half_written_segment_invisible(spark, tmp_path):
    """ParquetAppendLog crash window: a segment dir written WITHOUT
    its manifest update (crash mid-append) must be invisible to
    readers and to last_committed; the replayed append rewrites the
    same dir idempotently and only then becomes visible."""
    from dwh_spark.streaming.ingest import ParquetAppendLog

    log = ParquetAppendLog(str(tmp_path / "log"))
    df = spark.range(5).withColumnRenamed("id", "x")
    log.append(df, 0)
    # simulate the crash: segment 1's parquet lands, manifest does not
    df.write.mode("overwrite").parquet(log.segment_dir(1))
    assert log.last_committed() == 0
    assert log.current(spark).count() == 5
    log.append(df, 1)  # replay completes the segment
    assert log.last_committed() == 1
    assert log.current(spark).count() == 10


def test_append_log_compact_preserves_state(spark, tmp_path):
    """compact() (offline OPTIMIZE) merges every active segment into
    one via the atomic manifest swap: same rows, same last_committed,
    merged-away dirs GC'd, and appends keep working afterwards."""
    import os

    from dwh_spark.streaming.ingest import ParquetAppendLog

    log = ParquetAppendLog(str(tmp_path / "log"), write_partitions=1)
    for b in range(3):
        log.append(spark.range(b * 10, b * 10 + 10).withColumnRenamed("id", "x"), b)
    before = sorted(r["x"] for r in log.current(spark).collect())
    log.compact(spark)
    assert sorted(r["x"] for r in log.current(spark).collect()) == before
    assert log.last_committed() == 2
    # one active dir remains on disk (plus the manifest)
    dirs = [n for n in os.listdir(log.root) if os.path.isdir(os.path.join(log.root, n))]
    assert len(dirs) == 1
    # appends continue against the compacted log
    log.append(spark.range(100, 105).withColumnRenamed("id", "x"), 3)
    assert log.current(spark).count() == 35
    assert log.last_committed() == 3


def test_minhash_ingest_resumes_over_compacted_log(spark, tmp_path):
    """Offline OPTIMIZE mid-stream: drain two batches, compact() both
    stores, then resume the SAME checkpoint with a third batch — the
    resumed fold probes the compacted segments and total output still
    equals the batch earlier-partners computation."""
    import os
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from dwh_spark.operators.dedup import lsh_candidate_pairs, shingles
    from dwh_spark.streaming.docs_ingest import read_ingest_results, run_minhash_ingest
    from dwh_spark.streaming.ingest import ParquetAppendLog

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    sliced = docs.withColumn("__slice", F.ntile(3).over(Window.orderBy("doc_id")))
    staged = str(tmp_path / "staged")
    sliced.repartition(1).write.partitionBy("__slice").parquet(staged)
    input_dir = str(tmp_path / "input")
    os.makedirs(input_dir)

    def stage(i):
        sdir = os.path.join(staged, f"__slice={i}")
        part = next(f for f in os.listdir(sdir) if f.endswith(".parquet"))
        dst = os.path.join(input_dir, f"batch{i}.parquet")
        shutil.move(os.path.join(sdir, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    bands_store = ParquetAppendLog(str(tmp_path / "bands"), write_partitions=1)
    docs_store = ParquetAppendLog(str(tmp_path / "docs"), write_partitions=1)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drive():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(input_dir)
        )
        run_minhash_ingest(stream, bands_store, docs_store, out_dir, ckpt)

    stage(1)
    stage(2)
    drive()
    bands_store.compact(spark)
    docs_store.compact(spark)
    assert docs_store.last_committed() == 1  # unchanged by compaction
    stage(3)
    drive()  # same checkpoint: only the new file replays

    got = {
        (r["doc_id"], r["n_earlier_dups"])
        for r in read_ingest_results(spark, out_dir).collect()
    }
    pairs = lsh_candidate_pairs(docs)
    sh = docs.select("doc_id", shingles(F.col("text"), 3).alias("sh"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    union_n = F.size("sh_a") + F.size("sh_b") - n_common
    verified = (
        pairs.join(sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .filter(F.round(n_common.cast("double") / union_n.cast("double"), 6) >= 0.7)
        .groupBy("id_b")
        .agg(F.count("*").alias("n"))
    )
    want = {(r["id_b"], r["n"]) for r in verified.collect()}
    assert got == want


def test_minhash_ingest_sliding_horizon_via_expire(spark, tmp_path):
    """Retention composes with the ingest: expiring the oldest batch's
    band/doc segments between drains bounds the probe horizon — a
    later batch's flags count only partners still in the stores (plus
    its own within-batch mates), and current() never resurrects the
    aged-out corpus. The replay guard survives expiry
    (last_committed unchanged)."""
    import os
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from dwh_spark.operators.dedup import lsh_candidate_pairs, shingles
    from dwh_spark.streaming.docs_ingest import read_ingest_results, run_minhash_ingest
    from dwh_spark.streaming.ingest import ParquetAppendLog

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    sliced = docs.withColumn("__slice", F.ntile(3).over(Window.orderBy("doc_id"))).persist()
    staged = str(tmp_path / "staged")
    sliced.repartition(1).write.partitionBy("__slice").parquet(staged)
    input_dir = str(tmp_path / "input")
    os.makedirs(input_dir)

    def stage(i):
        sdir = os.path.join(staged, f"__slice={i}")
        part = next(f for f in os.listdir(sdir) if f.endswith(".parquet"))
        dst = os.path.join(input_dir, f"batch{i}.parquet")
        shutil.move(os.path.join(sdir, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    bands_store = ParquetAppendLog(str(tmp_path / "bands"), write_partitions=1)
    docs_store = ParquetAppendLog(str(tmp_path / "docs"), write_partitions=1)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drive():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(input_dir)
        )
        run_minhash_ingest(stream, bands_store, docs_store, out_dir, ckpt)

    stage(1)
    stage(2)
    drive()  # batches 0 and 1
    # age out batch 0 (the oldest third of doc ids)
    bands_store.expire(keep_from=1)
    docs_store.expire(keep_from=1)
    assert docs_store.last_committed() == 1  # replay guard intact
    stage(3)
    drive()  # batch 2 probes only batch 1's corpus

    got = {
        (r["doc_id"], r["n_earlier_dups"])
        for r in read_ingest_results(spark, out_dir).collect()
    }
    # reference: batches 0/1 flagged against the FULL earlier corpus
    # (emitted before expiry); batch-2 docs only against slices 2..3
    slice_of = {r["doc_id"]: r["__slice"] for r in sliced.collect()}
    pairs = lsh_candidate_pairs(docs)
    sh = docs.select("doc_id", shingles(F.col("text"), 3).alias("sh"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    union_n = F.size("sh_a") + F.size("sh_b") - n_common
    verified = (
        pairs.join(sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .filter(F.round(n_common.cast("double") / union_n.cast("double"), 6) >= 0.7)
        .select("id_a", "id_b")
        .collect()
    )
    from collections import Counter

    want = Counter()
    for r in verified:
        a, b = r["id_a"], r["id_b"]
        if slice_of[b] <= 2 or slice_of[a] >= 2:  # horizon for the flagged doc
            want[b] += 1
    assert got == {(k, v) for k, v in want.items()}
    sliced.unpersist()


def test_semantic_ingest_exactly_once_under_lost_checkpoint(spark, tmp_path):
    """M22 for the streaming SEMANTIC ingest: a full re-drive with a
    lost checkpoint re-delivers every batch id from 0 — the
    high-water guard must skip them all, so the cell-index store
    doesn't double-append and the versioned per-batch output dirs
    keep their original flags. Result must equal the batch
    within-cell earlier-partners computation."""
    import os
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from dwh_spark.operators.similarity import assign_cells, cell_probe
    from dwh_spark.streaming.emb_ingest import (
        read_semantic_ingest_results,
        run_semantic_ingest,
    )
    from dwh_spark.streaming.ingest import ParquetAppendLog

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    input_dir = str(tmp_path / "input")
    sliced = emb.withColumn("__slice", F.ntile(2).over(Window.orderBy("vec_id")))
    staged = str(tmp_path / "staged")
    sliced.repartition(1).write.partitionBy("__slice").parquet(staged)
    os.makedirs(input_dir)
    for i in range(1, 3):
        sdir = os.path.join(staged, f"__slice={i}")
        part = next(f for f in os.listdir(sdir) if f.endswith(".parquet"))
        dst = os.path.join(input_dir, f"batch{i}.parquet")
        shutil.move(os.path.join(sdir, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    seeds = (
        spark.read.parquet(os.path.join(input_dir, "batch1.parquet"))
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(8)
    )
    index_store = ParquetAppendLog(str(tmp_path / "index"), write_partitions=1)
    out_dir = str(tmp_path / "out")

    def drive(ckpt):
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(input_dir)
        )
        run_semantic_ingest(
            stream, seeds, index_store, out_dir, str(tmp_path / ckpt)
        )

    drive("ckpt1")
    drive("ckpt2")  # lost checkpoint: batch ids restart at 0

    got = {
        (r["vec_id"], r["n_earlier_sem_dups"])
        for r in read_semantic_ingest_results(spark, out_dir).collect()
    }
    cells = assign_cells(emb, seeds)
    ref = (
        cell_probe(cells, cells, 0.1)
        .filter(F.col("corpus_id") < F.col("new_id"))
        .groupBy("new_id")
        .agg(F.count("*").alias("n"))
    )
    want = {(r["new_id"], r["n"]) for r in ref.collect()}
    assert got == want and got
    # index accumulated each vector exactly once
    assert index_store.current(spark).count() == emb.count()


def test_append_log_compacted_segment_ages_out(spark, tmp_path):
    """compact() + expire() compose: the manifest records each
    segment's [min,max] batch range, so a compacted segment is
    dropped once its WHOLE range falls below the horizon, kept whole
    while it straddles it — bounded over-approximation, never
    grow-forever state."""
    from dwh_spark.streaming.ingest import ParquetAppendLog

    log = ParquetAppendLog(str(tmp_path / "log"), write_partitions=1)
    for b in range(4):
        log.append(spark.range(b * 10, b * 10 + 10).withColumnRenamed("id", "x"), b)
    log.compact(spark)  # cmp covering [0,3]
    man = log._read_manifest()
    assert man["segments"] == ["cmp0000000000_0000000003g1"]
    assert man["ranges"][man["segments"][0]] == [0, 3]
    for b in range(4, 6):
        log.append(spark.range(b * 10, b * 10 + 10).withColumnRenamed("id", "x"), b)

    # horizon inside the cmp range: kept whole (over-approximation)
    log.expire(keep_from=2)
    names = log._read_manifest()["segments"]
    assert any(n.startswith("cmp") for n in names)
    assert log.current(spark).count() == 60  # nothing dropped yet
    # horizon past the cmp range: the compacted history ages out
    log.expire(keep_from=4)
    man = log._read_manifest()
    assert man["segments"] == ["seg0000000004", "seg0000000005"]
    assert log.current(spark).count() == 20
    assert log.last_committed() == 5  # replay guard never lowered

    # legacy manifest without ranges: cmp conservatively never expires
    import json as _json

    man.setdefault("ranges", None)
    del man["ranges"]
    man["segments"] = ["cmp0000000003n4", "seg0000000005"]
    with open(log._manifest_path(), "w") as fh:
        _json.dump(man, fh)
    (tmp_path / "log" / "cmp0000000003n4").mkdir()
    log.expire(keep_from=100)
    assert log._read_manifest()["segments"] == ["cmp0000000003n4"]


def test_semantic_ingest_maintenance_compaction_invariant(spark, tmp_path):
    """Compaction scheduled through the maintenance seam after every
    batch must not change the drained output — the index store ends
    as ONE compacted segment covering the whole range."""
    import os
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from dwh_spark.streaming.emb_ingest import (
        read_semantic_ingest_results,
        run_semantic_ingest,
    )
    from dwh_spark.streaming.ingest import ParquetAppendLog

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    input_dir = str(tmp_path / "input")
    sliced = emb.withColumn("__slice", F.ntile(3).over(Window.orderBy("vec_id")))
    staged = str(tmp_path / "staged")
    sliced.repartition(1).write.partitionBy("__slice").parquet(staged)
    os.makedirs(input_dir)
    for i in range(1, 4):
        sdir = os.path.join(staged, f"__slice={i}")
        part = next(f for f in os.listdir(sdir) if f.endswith(".parquet"))
        dst = os.path.join(input_dir, f"batch{i}.parquet")
        shutil.move(os.path.join(sdir, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    seeds = (
        spark.read.parquet(os.path.join(input_dir, "batch1.parquet"))
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(8)
    )

    def drive(tag, compact_each_batch):
        store = ParquetAppendLog(str(tmp_path / f"{tag}_index"), write_partitions=1)
        out = str(tmp_path / f"{tag}_out")
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(input_dir)
        )
        maintenance = (lambda b: store.compact(spark)) if compact_each_batch else None
        run_semantic_ingest(
            stream, seeds, store, out, str(tmp_path / f"{tag}_ckpt"),
            maintenance=maintenance,
        )
        rows = {
            (r["vec_id"], r["n_earlier_sem_dups"])
            for r in read_semantic_ingest_results(spark, out).collect()
        }
        return rows, store

    plain, _ = drive("plain", False)
    compacted, store = drive("cmp", True)
    assert compacted == plain and plain
    man = store._read_manifest()
    assert len(man["segments"]) == 1 and man["segments"][0].startswith("cmp")
    assert man["ranges"][man["segments"][0]] == [0, 2]


def test_semantic_index_cell_prune_reaches_scan(spark, tmp_path):
    """The streaming fold's cell-pruned probe must push the literal
    IN(cell, ...) predicate into the stored-index parquet scan
    (PushedFilters), and the pruned incremental probe must equal the
    unpruned one."""
    from pyspark.sql import functions as F

    from dwh_spark.operators.similarity import (
        assign_cells,
        semantic_incremental_near_dups,
    )
    from dwh_spark.streaming.ingest import ParquetAppendLog

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.filter(F.col("vec_id") % 10 != 3)
    batch = emb.filter(F.col("vec_id") % 10 == 3)
    seeds = (
        corpus.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id").limit(8)
    )
    store = ParquetAppendLog(str(tmp_path / "idx"), write_partitions=1)
    store.append(assign_cells(corpus, seeds), 0)
    prior = store.current(spark)

    pruned = semantic_incremental_near_dups(
        prior, batch, seeds, threshold=0.1, prune_cells=True
    )
    plain = semantic_incremental_near_dups(prior, batch, seeds, threshold=0.1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(cell" in plan, plan
    got = sorted(map(tuple, pruned.collect()))
    assert got == sorted(map(tuple, plain.collect())) and got


def test_phash_ingest_exactly_once_under_lost_checkpoint(spark, tmp_path):
    """M22 for the streaming PERCEPTUAL ingest: a re-drive with a lost
    checkpoint re-delivers every batch id from 0 — the high-water
    guard must skip them all, so the fingerprint store doesn't
    double-append. Drained result must equal the batch brute-force
    earlier-partners computation over the same fingerprints."""
    import os
    import shutil

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from dwh_spark.multimodal import codecs
    from dwh_spark.multimodal.perceptual import dhash_frame
    from dwh_spark.streaming.ingest import ParquetAppendLog
    from dwh_spark.streaming.phash_ingest import (
        read_phash_ingest_results,
        run_phash_ingest,
    )

    import numpy as np
    import pandas as pd

    def pattern(seed):
        rng = np.random.default_rng(seed)
        g = rng.integers(0, 2, (8, 8), np.uint8)
        rgb = np.where(g[:, :, None] == 1, 200, 50).astype(np.uint8)
        return np.repeat(rgb, 3, axis=2)

    rows = [(i, "png", codecs.png_encode(pattern(i))) for i in range(8)]
    # ids 100/101: re-encodes of 3 and 5 — cross-batch perceptual dups
    rows.append((100, "bmp", codecs.bmp_encode(pattern(3).repeat(2, 0).repeat(2, 1))))
    rows.append((101, "gif", codecs.gif_encode(pattern(5))))
    images = spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "format", "content"])
    )

    input_dir = str(tmp_path / "input")
    staged = str(tmp_path / "staged")
    sliced = images.withColumn(
        "__slice", F.ntile(2).over(Window.orderBy("image_id"))
    )
    sliced.repartition(1).write.partitionBy("__slice").parquet(staged)
    os.makedirs(input_dir)
    for i in range(1, 3):
        sdir = os.path.join(staged, f"__slice={i}")
        part = next(f for f in os.listdir(sdir) if f.endswith(".parquet"))
        dst = os.path.join(input_dir, f"batch{i}.parquet")
        shutil.move(os.path.join(sdir, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    index_store = ParquetAppendLog(str(tmp_path / "index"), write_partitions=1)
    out_dir = str(tmp_path / "out")

    def drive(ckpt):
        stream = (
            spark.readStream.schema(images.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(input_dir)
        )
        run_phash_ingest(stream, index_store, out_dir, str(tmp_path / ckpt))

    drive("ckpt1")
    drive("ckpt2")  # lost checkpoint: batch ids restart at 0

    got = {
        (r["image_id"], r["n_earlier_pdups"])
        for r in read_phash_ingest_results(spark, out_dir).collect()
    }
    h = {r["image_id"]: r["dhash"] for r in dhash_frame(images).collect()}
    want = {}
    for b, hb in h.items():
        n = sum(
            1 for a, ha in h.items() if a < b and bin(ha ^ hb).count("1") <= 3
        )
        if n:
            want[b] = n
    assert got == set(want.items()) and (100, 1) in got and (101, 1) in got
    # fingerprint store accumulated each image exactly once
    assert index_store.current(spark).count() == images.count()


def test_append_log_asof_reads_exact_history(spark, tmp_path):
    """current(as_of_batch=N) returns exactly the rows batches <= N
    appended — the reproducible-training-snapshot contract (VERDICT
    r15 What's-missing #5) — and later appends never perturb an
    already-served snapshot."""
    from dwh_spark.streaming.ingest import ParquetAppendLog

    log = ParquetAppendLog(str(tmp_path / "log"), write_partitions=1)
    for b in range(3):
        log.append(spark.range(b * 10, b * 10 + 10).withColumnRenamed("id", "x"), b)
    asof1 = sorted(r["x"] for r in log.current(spark, as_of_batch=1).collect())
    assert asof1 == list(range(20))
    # batch-3 append leaves the batch-1 snapshot identical
    log.append(spark.range(30, 40).withColumnRenamed("id", "x"), 3)
    assert sorted(
        r["x"] for r in log.current(spark, as_of_batch=1).collect()
    ) == asof1
    assert log.current(spark, as_of_batch=0).count() == 10
    # as-of beyond the newest batch is just the full state
    assert log.current(spark, as_of_batch=99).count() == 40
    # as-of before the first batch: nothing to serve
    assert log.current(spark, as_of_batch=-1) is None


def test_append_log_asof_raises_after_straddling_compact(spark, tmp_path):
    """A compaction whose merged range straddles the requested
    boundary has rewritten history past it: the as-of read raises
    SnapshotUnreadableError loudly. Whole-range-covered snapshots
    (boundary at or past the merged range) keep reading, and a
    transform-compact's erasure is durable in them."""
    import pytest
    from pyspark.sql import functions as F

    from dwh_spark.streaming.ingest import (
        ParquetAppendLog,
        SnapshotUnreadableError,
    )

    log = ParquetAppendLog(str(tmp_path / "log"), write_partitions=1)
    for b in range(3):
        log.append(spark.range(b * 10, b * 10 + 10).withColumnRenamed("id", "x"), b)
    # forget x=5 at the compaction seam; merged segment covers [0, 2]
    log.compact(spark, transform=lambda df: df.filter(F.col("x") != 5))
    with pytest.raises(SnapshotUnreadableError, match="rewritten history"):
        log.current(spark, as_of_batch=1)
    # boundary >= the merged range's max still reads — post-transform:
    # the forgotten row must NOT resurrect in any snapshot
    asof2 = sorted(r["x"] for r in log.current(spark, as_of_batch=2).collect())
    assert len(asof2) == 29 and 5 not in asof2
    log.append(spark.range(30, 40).withColumnRenamed("id", "x"), 3)
    assert log.current(spark, as_of_batch=2).count() == 29
    assert log.current(spark, as_of_batch=3).count() == 39


def test_append_log_asof_raises_after_expire(spark, tmp_path):
    """Retention removes the OLDEST batches — exactly what every
    historical frame needs — so after any expire() the log serves no
    as-of snapshot at all, loudly; expired_through survives a later
    compact's manifest rewrite."""
    import pytest

    from dwh_spark.streaming.ingest import (
        ParquetAppendLog,
        SnapshotUnreadableError,
    )

    log = ParquetAppendLog(str(tmp_path / "log"), write_partitions=1)
    for b in range(3):
        log.append(spark.range(b * 10, b * 10 + 10).withColumnRenamed("id", "x"), b)
    log.expire(keep_from=1)
    with pytest.raises(SnapshotUnreadableError, match="expired batches through 0"):
        log.current(spark, as_of_batch=2)
    # the retained view stays readable by design
    assert log.current(spark).count() == 20
    log.compact(spark)
    with pytest.raises(SnapshotUnreadableError, match="expired"):
        log.current(spark, as_of_batch=2)


def test_state_store_asof_reads_committed_history(spark, tmp_path):
    """ParquetStateStore time travel: each snapshot is a complete
    state, so as_of_batch=N serves the newest committed snapshot <= N
    (history stays readable until expire_versions drops it);
    uncommitted (unflipped) dirs are never served; N before the first
    commit raises loudly."""
    import pytest

    from dwh_spark.streaming.ingest import (
        ParquetStateStore,
        SnapshotUnreadableError,
    )

    store = ParquetStateStore(str(tmp_path / "state"), write_partitions=1)
    store.commit(spark.range(10).withColumnRenamed("id", "x"), 1)
    store.commit(spark.range(20).withColumnRenamed("id", "x"), 3)
    assert store.current(spark, as_of_batch=1).count() == 10
    assert store.current(spark, as_of_batch=2).count() == 10  # newest <= 2
    assert store.current(spark, as_of_batch=3).count() == 20
    # crash window: batch 5's snapshot written but never flipped —
    # must not be served even for as_of 5
    store.write_snapshot(spark.range(99).withColumnRenamed("id", "x"), 5)
    assert store.current(spark, as_of_batch=5).count() == 20
    assert store.current(spark).count() == 20
    with pytest.raises(SnapshotUnreadableError, match="no committed"):
        store.current(spark, as_of_batch=0)


def test_append_log_incremental_snapshot_reads(spark, tmp_path):
    """current(as_of_batch=N, since_batch=M) serves exactly the rows
    batches (M, N] appended — the incremental training-checkpoint
    read — with the same faithful-or-loud contract on both
    boundaries, and composes with retention: a delta strictly above
    the expired horizon stays readable."""
    import pytest

    from dwh_spark.streaming.ingest import (
        ParquetAppendLog,
        SnapshotUnreadableError,
    )

    log = ParquetAppendLog(str(tmp_path / "log"), write_partitions=1)
    for b in range(4):
        log.append(spark.range(b * 10, b * 10 + 10).withColumnRenamed("id", "x"), b)
    delta = sorted(
        r["x"] for r in log.current(spark, as_of_batch=3, since_batch=1).collect()
    )
    assert delta == list(range(20, 40))
    # empty delta window -> nothing to serve
    assert log.current(spark, as_of_batch=1, since_batch=1) is None
    # an unpinned delta is ambiguous by construction
    with pytest.raises(ValueError, match="since_batch requires"):
        log.current(spark, since_batch=1)
    # retention composes: batches (0, 3] never need the expired batch 0
    log.expire(keep_from=1)
    assert sorted(
        r["x"] for r in log.current(spark, as_of_batch=3, since_batch=0).collect()
    ) == list(range(10, 40))
    # ...but a delta reaching below the horizon is loud
    with pytest.raises(SnapshotUnreadableError, match="expired"):
        log.current(spark, as_of_batch=3, since_batch=-1)
    # a compaction straddling the LOWER boundary is loud too
    log2 = ParquetAppendLog(str(tmp_path / "log2"), write_partitions=1)
    for b in range(3):
        log2.append(spark.range(b * 10, b * 10 + 10).withColumnRenamed("id", "x"), b)
    log2.compact(spark)
    with pytest.raises(SnapshotUnreadableError, match="lower boundary"):
        log2.current(spark, as_of_batch=2, since_batch=0)


def test_state_store_asof_malformed_pointer_fails_loudly(spark, tmp_path):
    """ADVICE r16: a CURRENT pointer that exists but names a non-v dir
    proves no snapshot committed — an as-of read must raise the
    contract's SnapshotUnreadableError, not TypeError from
    min(N, None)."""
    import pytest

    from dwh_spark.streaming.ingest import (
        ParquetStateStore,
        SnapshotUnreadableError,
    )

    store = ParquetStateStore(str(tmp_path / "state"), write_partitions=1)
    store.commit(spark.range(10).withColumnRenamed("id", "x"), 1)
    with open(store._pointer, "w") as fh:
        fh.write(str(tmp_path / "state" / "garbage"))
    with pytest.raises(SnapshotUnreadableError, match="malformed"):
        store.current(spark, as_of_batch=1)


def test_state_store_expire_versions(spark, tmp_path):
    """Version GC (VERDICT r17 What's-missing #4): snapshots below the
    horizon drop; CURRENT and retained history survive; as-of reads
    needing a dropped version raise the retention-flavored loud path;
    the replay guard (last_committed) is untouched."""
    import os

    import pytest

    from dwh_spark.streaming.ingest import (
        ParquetStateStore,
        SnapshotUnreadableError,
    )

    store = ParquetStateStore(str(tmp_path / "st"), write_partitions=1)
    for b, n in [(0, 3), (1, 5), (2, 7)]:
        store.commit(spark.range(n).withColumnRenamed("id", "x"), b)
    store.expire_versions(keep_from=1)
    dirs = sorted(d for d in os.listdir(str(tmp_path / "st")) if d.startswith("v"))
    assert dirs == ["v0000000001", "v0000000002"]
    assert store.expired_through() == 0
    assert store.last_committed() == 2  # replay guard untouched
    assert store.current(spark).count() == 7
    assert store.current(spark, as_of_batch=1).count() == 5  # retained
    with pytest.raises(SnapshotUnreadableError, match="retention"):
        store.current(spark, as_of_batch=0)
    # idempotent / monotonic: re-running with a lower horizon no-ops
    store.expire_versions(keep_from=0)
    assert store.expired_through() == 0
    # keep_from past CURRENT degrades to keep-only-current
    store.expire_versions(keep_from=99)
    dirs = sorted(d for d in os.listdir(str(tmp_path / "st")) if d.startswith("v"))
    assert dirs == ["v0000000002"]
    assert store.expired_through() == 1
    assert store.current(spark).count() == 7


def test_state_store_crash_mid_gc_never_serves_lingering_dir(spark, tmp_path):
    """The retention record is written BEFORE any dir is removed, so a
    crash mid-GC leaves lingering dirs that reads must already refuse
    to serve. Simulated by writing the record without removing."""
    import json

    import pytest

    from dwh_spark.streaming.ingest import (
        ParquetStateStore,
        SnapshotUnreadableError,
    )

    store = ParquetStateStore(str(tmp_path / "st"), write_partitions=1)
    store.commit(spark.range(3).withColumnRenamed("id", "x"), 0)
    store.commit(spark.range(5).withColumnRenamed("id", "x"), 1)
    with open(store._retention_path(), "w") as fh:
        json.dump({"expired_through": 0}, fh)  # crash before rmtree
    with pytest.raises(SnapshotUnreadableError, match="retention"):
        store.current(spark, as_of_batch=0)  # v0 dir still exists
    assert store.current(spark, as_of_batch=1).count() == 5
    # a re-run finishes the removal
    store.expire_versions(keep_from=1)
    import os

    assert "v0000000000" not in os.listdir(str(tmp_path / "st"))


def test_state_store_version_delta_read(spark, tmp_path):
    """current(as_of_batch=N, since_batch=M) — the CDC twin of the
    append log's incremental read: exactly the NEW or CHANGED rows of
    the as-of-N state vs the as-of-M state; untouched rows absent;
    M == N empty; M > N and missing as_of raise ValueError; an expired
    endpoint raises SnapshotUnreadableError."""
    import pytest

    from dwh_spark.streaming.ingest import (
        ParquetStateStore,
        SnapshotUnreadableError,
    )

    store = ParquetStateStore(str(tmp_path / "st"), write_partitions=1)
    s0 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, n long")
    s1 = spark.createDataFrame(
        [("a", 1), ("b", 5), ("c", 9)], "k string, n long"
    )
    store.commit(s0, 0)
    store.commit(s1, 1)
    delta = store.current(spark, as_of_batch=1, since_batch=0)
    assert sorted((r["k"], r["n"]) for r in delta.collect()) == [
        ("b", 5),  # changed: N-state values
        ("c", 9),  # new
    ]  # ("a", 1) untouched -> absent
    assert store.current(spark, as_of_batch=1, since_batch=1).count() == 0
    with pytest.raises(ValueError, match="requires as_of_batch"):
        store.current(spark, since_batch=0)
    with pytest.raises(ValueError, match="forward"):
        store.current(spark, as_of_batch=0, since_batch=1)
    store.expire_versions(keep_from=1)
    with pytest.raises(SnapshotUnreadableError, match="retention"):
        store.current(spark, as_of_batch=1, since_batch=0)


def test_version_delta_oracle_nonvacuous():
    """The version-delta gate must be load-bearing BOTH ways at
    sf0.001: at least one group is suppressed (untouched by batches
    2-3 — a delta that leaked the full state would include it) and at
    least one surfaced group already existed at the since-boundary
    with different measures (CHANGED, not merely new — a delta that
    only ever saw new keys would never test the measure comparison)."""
    import glob

    import duckdb

    import dwh_spark.plans.all  # noqa: F401
    from dwh_spark.plans.registry import ORACLES

    con = duckdb.connect()
    for p in glob.glob(os.path.join(SF, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    delta_sql = ORACLES["streaming_rollup_version_delta"]
    n_delta = con.execute(f"SELECT count(*) FROM ({delta_sql})").fetchone()[0]
    n_full = con.execute(
        """SELECT count(*) FROM (
             SELECT CAST(date_trunc('day', ts) AS DATE), event_type
             FROM events GROUP BY 1, 2)"""
    ).fetchone()[0]
    assert 0 < n_delta < n_full, "delta suppressed no untouched group"
    n_changed = con.execute(
        f"""WITH st AS (
              SELECT *, ntile(3) OVER (ORDER BY event_id) AS b FROM events
            ),
            old_state AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type
              FROM st WHERE b <= 1 GROUP BY 1, 2
            )
            SELECT count(*) FROM ({delta_sql}) d
            JOIN old_state o USING (day, event_type)"""
    ).fetchone()[0]
    assert n_changed > 0, "no CHANGED group in the delta (all merely new)"
