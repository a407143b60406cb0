"""Deterministic sampling / splitting for training-data pipelines.

A training corpus needs reproducible membership decisions: the same
document must land in the same split on every run, on any cluster, in
any engine — so membership is a pure function of a stable key, not of
``rand()`` or partition layout.

The decision hash is md5 of the stringified key (content-independent,
engine-portable — DuckDB reproduces it bit-for-bit, so split queries
stay oracle-gated). Spark's ``sample()``/``randomSplit()`` are
seed-stable only for a fixed partitioning and are NOT portable across
engines; they have no place in a reproducible corpus pipeline.

Scale: both operators are pure column algebra on a projection — no
shuffle, no UDF; the hash + threshold compute inside whole-stage
codegen and the filter pushes into the scan's row-group pruning where
the key is a scan column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_bucket(key: Column, buckets: int = 100) -> Column:
    """Deterministic bucket in [0, buckets): first 8 hex digits of
    md5(key-as-string), mod buckets. 8 digits = 32 bits — granular
    enough for per-mille sampling, small enough for exact BIGINT
    arithmetic in every engine."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long")
        % buckets
    )


def hash_bucket_sql(key_sql: str, buckets: int = 100) -> str:
    """The DuckDB-equivalent expression, kept in lock-step with
    :func:`hash_bucket` for oracle parity."""
    return (
        f"(('0x' || substr(md5(CAST({key_sql} AS VARCHAR)), 1, 8))::BIGINT"
        f" % {buckets})"
    )


def train_test_split(df: DataFrame, key: str, test_pct: int = 10) -> DataFrame:
    """Append a ``split`` column: 'test' for the ``test_pct``% of rows
    whose key-hash bucket falls below the threshold, else 'train'.
    Membership depends only on the key value."""
    return df.withColumn(
        "split",
        F.when(hash_bucket(F.col(key)) < test_pct, F.lit("test")).otherwise(
            F.lit("train")
        ),
    )


def weighted_sample(df: DataFrame, key: str, weight: Column) -> DataFrame:
    """Deterministic Bernoulli sample with a PER-ROW keep probability:
    keep a row iff its md5-uniform draw (hash_bucket over 1e6 buckets,
    so per-micro granularity) falls below ``weight`` ∈ [0, 1] — the
    quality-weighted downsampling pass of a DCLM/FineWeb-style corpus
    build, where high-quality documents survive preferentially instead
    of the all-or-nothing threshold cut.

    Membership depends only on (key value, weight value): reproducible
    on any engine and any partitioning, re-runnable incrementally (a
    re-ingested doc makes the same draw). Pure map-side filter — zero
    shuffles, composes before any rollup. The weight column must be
    deterministic row arithmetic for oracle parity (e.g.
    ``functions.text.quality_score``)."""
    draw = hash_bucket(F.col(key), 1_000_000)
    return df.filter(draw < F.round(weight * 1_000_000, 0).cast("long"))


def per_group_cap(
    df: DataFrame, group: str, key: str, cap: int
) -> DataFrame:
    """Deterministic per-group quota cap — the domain-balancing pass
    of a web-scale corpus (RefinedWeb/Gopher-style per-domain caps):
    keep at most ``cap`` rows per ``group``, chosen as the rows with
    the smallest ``md5(key)`` (reproducible on any engine / any
    partitioning, same discipline as the split above — NOT "first N
    seen", which depends on scan order).

    Scale: one hash-shuffle on ``group`` + a per-group window. Group
    cardinality is domain-count (millions), per-group rows are
    bounded by the crawl — no global sort, and a skewed mega-domain
    is a window over one partition's rows, the ordinary AQE-skew
    shape. Returns the kept rows directly — the frame comes back
    pre-filtered to the ``cap`` smallest-md5 rows per group, with the
    internal ``__rank`` column dropped.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(group).orderBy(
        F.md5(F.col(key).cast("string")), F.col(key)
    )
    return (
        df.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= cap)
        .drop("__rank")
    )


def waterfill_allocation(
    totals: DataFrame,
    budget_fraction: float,
    key: str = "source",
    avail: str = "available_tokens",
    weight: str = "w",
) -> DataFrame:
    """Weighted WATER-FILLING token-budget allocation — the mixture
    planner of an LLM data pipeline ("sample source s proportional to
    weight w_s inside a total token budget B; a source without enough
    data is taken whole and its unused share re-flows to the rest,
    still by weight"). The exact closed form, not an iterative loop:
    sort sources by demand ratio a_s/w_s ascending; walking the
    prefix, the candidate water level after fully taking the first k
    sources is t_k = (B - sum_{i<=k} a_i) / (W - sum_{i<=k} w_i); the
    FIRST source whose ratio exceeds the level before it fixes the
    final level, and every allocation is min(a_s, w_s * level)
    (sources with ratio <= level are the saturated ones). No
    crossing ⇔ B >= total available ⇔ everyone is taken whole.

    ``totals`` is the per-source frame (key, avail, weight) — source
    cardinality, not corpus cardinality, so the single-partition
    windows used for the cumulative walk are over a bounded frame
    (even a web-scale crawl has countable sources); the corpus-sized
    work is the one groupBy that BUILT the totals. ``B = floor(
    budget_fraction * sum(avail))`` is derived inside the frame, so
    the same call scales with the corpus. All level arithmetic is
    single-division double over exact BIGINT sums — bit-reproducible
    by a DuckDB oracle (docs_token_budget_waterfill).

    Returns (key, weight, avail, allocated_tokens, sampling_rate,
    saturated) — feed ``sampling_rate`` to a hash-uniform row/token
    sampler per source (``weighted_sample``'s discipline) to realize
    the plan."""
    from pyspark.sql.window import Window

    ratio = (F.col(avail).cast("double") / F.col(weight)).alias("__ratio")
    scored = totals.select(key, weight, avail, ratio)
    all_w = Window.partitionBy()
    walk = Window.partitionBy().orderBy("__ratio", key)
    excl = walk.rowsBetween(Window.unboundedPreceding, -1)
    scored = (
        scored.withColumn(
            "__B",
            F.floor(F.lit(budget_fraction) * F.sum(avail).over(all_w)).cast(
                "long"
            ),
        )
        .withColumn("__W", F.sum(weight).over(all_w))
        .withColumn("__rn", F.row_number().over(walk))
        .withColumn("__cum_a", F.coalesce(F.sum(avail).over(excl), F.lit(0)))
        .withColumn("__cum_w", F.coalesce(F.sum(weight).over(excl), F.lit(0)))
        .withColumn(
            "__t_prev",
            (F.col("__B") - F.col("__cum_a")).cast("double")
            / (F.col("__W") - F.col("__cum_w")),
        )
        .withColumn("__crossing", F.col("__ratio") > F.col("__t_prev"))
        .withColumn(
            "__level",
            F.min(
                F.when(
                    F.col("__crossing"), F.struct("__rn", "__t_prev")
                )
            )
            .over(all_w)
            .getField("__t_prev"),
        )
    )
    allocated = F.when(
        F.col("__level").isNull() | (F.col("__ratio") <= F.col("__level")),
        F.col(avail).cast("double"),
    ).otherwise(F.col(weight) * F.col("__level"))
    return scored.select(
        key,
        weight,
        avail,
        F.round(allocated, 6).alias("allocated_tokens"),
        F.round(allocated / F.col(avail), 6).alias("sampling_rate"),
        (
            F.col("__level").isNull()
            | (F.col("__ratio") <= F.col("__level"))
        )
        .cast("long")
        .alias("saturated"),
    )
