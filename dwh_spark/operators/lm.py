"""Corpus n-gram language-model scoring (training-data quality family).

A 100 TB pretraining pipeline scores documents by how predictable
their text is under a corpus-level n-gram model (boilerplate and
spam-generated text score near 1; noisy or mis-extracted text scores
near 0). This module trains a bigram model over the ``documents``
table and scores each document by its mean bigram probability — the
probability-domain twin of cross-entropy, chosen because ratios of
corpus counts are exact rationals both engines round identically,
while ``log`` is libm-dependent and would drift between Spark's JVM
and the DuckDB oracle.

Scale design: counting is two map-side-combinable aggregations (one
shuffle on (w1, w2), then a much smaller re-aggregation by w1); the
scoring join shuffles instances on (w1, w2) where AQE's skew-join
split handles hot bigrams ("of the"); the per-document mean is one
further shuffle on doc_id. Nothing is quadratic and no state lives on
the driver. Reference tie-in: the quality gates the reference applies
to metadata documents (x/tokenMetadataService/service.go:168-175) are
schema checks; this is the statistical analogue a content pipeline
adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bigram_instances(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One row per bigram OCCURRENCE (not distinct): doc columns +
    (w1, w2). Whitespace tokenization; documents with fewer than two
    tokens contribute no rows. Pure codegen — transform-with-index
    over the token array, then a single explode."""
    s = F.split(F.col(text_col), " ")
    pairs = F.transform(
        F.slice(s, 1, F.greatest(F.size(s) - 1, F.lit(0))),
        lambda w, i: F.struct(w.alias("w1"), F.element_at(s, i + 2).alias("w2")),
    )
    return (
        docs.withColumn("bg", F.explode(pairs))
        .withColumn("w1", F.col("bg.w1"))
        .withColumn("w2", F.col("bg.w2"))
        .drop("bg", text_col)
    )


def doc_predictability(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Mean bigram probability per document, self-trained on the input
    corpus: score = avg over bigram occurrences of c(w1,w2) / c(w1, ·).

    Each per-occurrence probability is a correctly-rounded IEEE double
    (integer/integer), rounded to 6 places and accumulated as an exact
    DECIMAL so partition order cannot change the result (registry.py
    determinism rules). Output: one row per document with ≥1 bigram:
    (doc columns..., n_bigrams, pred_score).
    """
    inst = bigram_instances(docs, text_col)
    keys = [c for c in inst.columns if c not in ("w1", "w2")]
    # Pre-aggregate to per-document bigram TYPE counts: the scoring
    # join then moves one row per (doc, w1, w2) instead of one per
    # occurrence, and the corpus model derives from the same counts
    # (k·round(p, 6) in exact DECIMAL equals summing k occurrence
    # copies, so the result is unchanged).
    doc_bg = inst.groupBy(*keys, "w1", "w2").agg(F.count("*").alias("k"))
    c12 = doc_bg.groupBy("w1", "w2").agg(F.sum("k").alias("c12"))
    model = c12.join(c12.groupBy("w1").agg(F.sum("c12").alias("c1")), "w1")
    p = F.round(F.col("c12") / F.col("c1"), 6).cast("decimal(12,6)")
    return (
        doc_bg.join(model, ["w1", "w2"])
        .groupBy(*keys)
        .agg(
            F.sum("k").alias("n_bigrams"),
            F.round(
                F.sum(p * F.col("k")).cast("double") / F.sum("k"), 6
            ).alias("pred_score"),
        )
    )
