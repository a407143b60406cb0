"""``load_table`` pays Spark's parquet schema inference (one job) once
per distinct footer: later loads of the same file read with the memoized
schema and launch no job, a file rewritten with another encoding is
inferred again, and paths that are not a parquet file are read as before.
Jobs are counted per job group through the status tracker."""

from __future__ import annotations

import os
import sys
import uuid
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from dwh_spark.plans.registry import QUERIES
from dwh_spark.sources import catalog
from dwh_spark.sources.catalog import load_table
from perfbench.workloads import SqlMix

from tests.conftest import SF_SMALL, under_group


def test_second_load_of_a_file_launches_no_job(spark, tmp_path):
    table = pq.read_table(os.path.join(SF_SMALL, "orders.parquet"))
    # a footer no other test writes, so the first load cannot be a hit
    table = table.replace_schema_metadata({"test": uuid.uuid4().hex})
    pq.write_table(table, tmp_path / "orders.parquet")

    first, first_jobs = under_group(
        spark, "first load", lambda: load_table(spark, str(tmp_path), "orders")
    )
    second, second_jobs = under_group(
        spark, "second load", lambda: load_table(spark, str(tmp_path), "orders")
    )
    assert first_jobs == 1  # the inference job
    assert second_jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_ts_encodings_rewritten_in_place(spark, tmp_path):
    """The three ``events.ts`` encodings ``load_table`` normalizes,
    written in turn to one path: each loads as TIMESTAMP with DuckDB's
    ``epoch_us`` values, and its second load is a memo hit."""
    events = pq.read_table(os.path.join(SF_SMALL, "events.parquet"))
    us = events.column("ts").cast(pa.timestamp("us")).cast(pa.int64())
    # sub-microsecond nanos, so the ns encoding tests the truncation
    ns = pc.add(pc.multiply(us, 1000), 789)
    encodings = {
        "ns": ns.cast(pa.timestamp("ns")),
        "us_ntz": us.cast(pa.timestamp("us")),
        "us_utc": us.cast(pa.timestamp("us", tz="UTC")),
    }
    path = tmp_path / "events.parquet"
    for enc, ts in encodings.items():
        pq.write_table(
            events.set_column(events.schema.get_field_index("ts"), "ts", ts), path
        )
        want = duckdb.sql(
            f"SELECT event_id, epoch_us(ts) FROM read_parquet('{path}')"
        ).fetchall()
        for r in range(2):
            df, jobs = under_group(
                spark, f"{enc} load {r}", lambda: load_table(spark, str(tmp_path), "events")
            )
            assert r == 0 or jobs == 0, (enc, r, jobs)
            assert isinstance(df.schema["ts"].dataType, TimestampType), (enc, df.schema)
            got = df.select("event_id", F.unix_micros("ts")).collect()
            assert sorted(map(tuple, got)) == sorted(want), enc


def test_spark_written_directory_still_loads(spark, tmp_path):
    df = spark.range(20).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    df.write.parquet(str(tmp_path / "pairs.parquet"))
    for _ in range(2):
        got = load_table(spark, str(tmp_path), "pairs")
        assert sorted(got.collect()) == sorted(df.collect())


def test_sql_mix_queries_build_without_jobs(spark):
    """With the input tables loaded once, building each benchmark
    ``sql_mix`` registry query launches no Spark job: the plans' table
    reads find their schemas memoized."""
    import dwh_spark.plans.all  # noqa: F401 - fills the registry

    for table in SqlMix.reads:
        load_table(spark, SF_SMALL, table)
    built = {}
    for name in SqlMix.ops:
        _, built[name] = under_group(
            spark, f"build {name}", lambda: QUERIES[name](spark, SF_SMALL)
        )
    assert built == dict.fromkeys(SqlMix.ops, 0)


def test_memo_follows_the_parquet_confs(spark, tmp_path):
    """The same footer read under another parquet conf is inferred again."""
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), tmp_path / "blobs.parquet")
    assert load_table(spark, str(tmp_path), "blobs").schema["b"].dataType.simpleString() == "binary"
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        df = load_table(spark, str(tmp_path), "blobs")
        assert df.schema["b"].dataType.simpleString() == "string"
        assert sorted(r.b for r in df.collect()) == ["x", "y"]
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")


def test_memo_under_concurrent_loads(spark, tmp_path, monkeypatch):
    """Threads loading more distinct files than the memo holds (hits and
    evictions interleaved) each get their own file's schema."""
    monkeypatch.setattr(catalog, "_SCHEMA_MEMO_SIZE", 2)
    want = {}
    for i in range(4):
        name = f"t{i}"
        pq.write_table(pa.table({f"c{i}": pa.array([i], pa.int64())}), tmp_path / f"{name}.parquet")
        want[name] = [f"c{i}"]

    def worker(k):
        return [
            (name, load_table(spark, str(tmp_path), name).columns)
            for name in [f"t{(k + j) % 4}" for j in range(8)]
        ]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=6) as pool:
            futures = [pool.submit(worker, k) for k in range(6)]
            results = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert all(cols == want[name] for res in results for name, cols in res)
    assert len(catalog._schema_memo) <= 2
