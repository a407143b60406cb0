"""Parquet catalog over the driver testdata directories.

The reference's "sources" are Tendermint RPC polls + Postgres/Mongo sinks
(SURVEY.md §2.1 S1-S13). Our batch-first engine reads append-only parquet
tables; the streaming path (dwh_spark.streaming) reads the same files with
``readStream`` so the two share schemas.

Scale notes: reads go through the vectorized parquet reader with
predicate pushdown and column pruning (verify via
``df.explain()`` → ``PushedFilters``/``ReadSchema``). At 100 TB each
table would be a partitioned directory (e.g. orders by month); the API
here is path-based so that layout change is transparent to callers.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Session confs that steer how a parquet footer maps to Catalyst types:
# the same footer infers a different schema when one of them changes.
_PARQUET_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
_SCHEMA_MEMO_SIZE = 64
_schema_memo: OrderedDict[tuple, str] = OrderedDict()
_schema_memo_lock = threading.Lock()


def _footer_digest(path: str) -> str | None:
    """SHA-1 of the footer of the parquet file at ``path`` — the bytes
    that hold its schema — or None when ``path`` is not a regular
    parquet file (a directory, a missing path, a truncated file)."""
    try:
        with open(path, "rb") as fh:
            fh.seek(-8, os.SEEK_END)
            tail = fh.read(8)
            if tail[4:] != b"PAR1":
                return None
            n = int.from_bytes(tail[:4], "little")
            fh.seek(-8 - n, os.SEEK_END)
            return hashlib.sha1(fh.read(n)).hexdigest()
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    """``spark.read.parquet(path)`` and its schema, paying Spark's
    schema-inference job once per distinct footer and parquet confs."""
    digest = _footer_digest(path)
    if digest is None:
        df = spark.read.parquet(path)
        return df, df.schema
    key = (digest,) + tuple(spark.conf.get(k, None) for k in _PARQUET_SCHEMA_CONFS)
    with _schema_memo_lock:
        known = _schema_memo.get(key)
        if known is not None:
            _schema_memo.move_to_end(key)
    if known is not None:
        schema = StructType.fromJson(json.loads(known))
        return spark.read.schema(schema).parquet(path), schema
    df = spark.read.parquet(path)
    schema = df.schema
    with _schema_memo_lock:
        _schema_memo[key] = schema.json()
        while len(_schema_memo) > _SCHEMA_MEMO_SIZE:
            _schema_memo.popitem(last=False)
    return df, schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Spark's schema inference (one job) is
    paid once per distinct parquet footer: the inferred schema is
    memoized under the footer's SHA-1 and the parquet confs above, and
    later reads pass it to ``spark.read.schema``, which launches no
    job. A file rewritten with a new schema has a new footer, so it
    never reads with a stale one. A path that is not a regular parquet
    file (e.g. a Spark-written directory) is inferred on every call.

    ``events.ts`` has shipped in three fixture encodings, all normalized
    here to session-timezone TIMESTAMP so every downstream operator
    (``unix_micros``, watermarks, decimal casts) sees one type:

    - parquet ``timestamp[ns]`` (round-1 fixtures): Spark's reader
      rejects nanos, so we read nanos-as-long
      (``spark.sql.legacy.parquet.nanosAsLong``) and truncate to
      microseconds with integer division — bit-identical to DuckDB's
      ns→us handling (float division loses precision at 1e18 ns).
    - parquet ``timestamp[us]`` without UTC adjustment (round-2+
      fixtures): Spark infers TIMESTAMP_NTZ, which watermarks and
      epoch functions reject. The session timezone is pinned UTC
      (session.py), so ``cast("timestamp")`` is value-exact and
      matches DuckDB's naive-UTC reading of the same file.
    - parquet ``timestamp[us, tz=UTC]``: already TIMESTAMP.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df, schema = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    for field in schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.dataType.simpleString() == "timestamp_ntz":
            # o_orderdate / l_shipdate / ts — normalize every temporal
            # column to one type engine-wide
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view for spark.sql use."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
