"""Repeated registry queries pay no per-query driver overhead that one
pass could pay once (``dwh_spark/session.py:get_spark``): a repeat pass
over the ``sql_mix`` queries compiles no generated class, building a
query does not capture call sites over py4j, and errors keep their
class without that capture."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

import dwh_spark.plans.all  # noqa: F401
from dwh_spark.plans.registry import QUERIES
from dwh_spark.sources.catalog import load_table
from perfbench.workloads import SqlMix

from tests.conftest import SF_SMALL


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeat_sql_mix_pass_compiles_no_class(spark):
    """The table warm-up and the 9 ops need about 100 generated classes;
    Spark's default cache of 100 evicted about a third of them before
    their next use."""
    for table in SqlMix.reads:
        load_table(spark, SF_SMALL, table).count()
    passes = []
    for _ in range(2):
        before = _compiles(spark)
        for name in SqlMix.ops:
            QUERIES[name](spark, SF_SMALL).write.format("noop").mode("overwrite").save()
        passes.append(_compiles(spark) - before)
    assert passes[1] == 0, passes


def test_building_a_query_makes_few_py4j_calls(spark, monkeypatch):
    """With call-site capture on, every Column call made 4 py4j round
    trips: about 480 to build filters_combinators, against about 110."""
    build = lambda: QUERIES["filters_combinators"](spark, SF_SMALL)  # noqa: E731
    build()  # memos warm, as in every repeat of the query
    client = spark.sparkContext._gateway._gateway_client
    calls = []
    send = client.send_command

    def counting(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    build()
    monkeypatch.undo()
    assert 0 < len(calls) <= 240, len(calls)


def test_bad_column_reference_keeps_its_error_class(spark):
    orders = load_table(spark, SF_SMALL, "orders")
    with pytest.raises(AnalysisException) as err:
        orders.select(F.col("no_such_column"))
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN")
    assert "no_such_column" in str(err.value)
