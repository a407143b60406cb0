"""Latest-state compaction — the replay form of per-key upsert.

The reference mutates rows in place as messages arrive
(`x/indexer/handlers/marketplace.go:114-423`). The Spark-native batch
equivalent replays the ordered event log and keeps, per key, the most
recent row: ``row_number() OVER (PARTITION BY key ORDER BY seq DESC) = 1``.

Scale notes: this is a single shuffle on the key. For repeated
compactions over the same table, pre-bucketing the event log by the
key makes it shuffle-free. AQE handles skewed keys (one hot entity)
by splitting oversized partitions; if a single key's history itself
is huge, the `max_by` form below avoids materializing the sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def latest_state(df: DataFrame, keys: Sequence[str], order: Sequence[Column]) -> DataFrame:
    """Keep the latest row per key, ordering by ``order`` (descending
    ranks first). Ties must be broken by a unique column so the result
    is deterministic."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_state_agg(df: DataFrame, keys: Sequence[str], seq: Column) -> DataFrame:
    """Aggregation form: ``max_by(struct(*), seq)`` per key, unpacked
    back to ``df``'s columns in ``df``'s order. One partial-aggregable
    pass — cheaper than a window when each key has many rows, because
    map-side combine collapses history before the shuffle."""
    return (
        df.groupBy(*keys)
        .agg(F.max_by(F.struct(*df.columns), seq).alias("__row"))
        .select("__row.*")
    )
