"""The batch workload's ``noop`` write runs each job's full plan.

``.count()`` lets Catalyst prune every column the count does not need,
so a job forced that way can skip most of its work. These tests read
the physical plan Spark actually executed for the ``noop`` write and
for ``.count()`` from the SQL status store, and pin the difference.

    python3 -m pytest perfbench/test_materialization.py -q
"""

from __future__ import annotations

import pytest

from perfbench import datagen


@pytest.fixture(scope="module")
def spark():
    from quack_reduce_spark.session import get_spark

    return get_spark()


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("perfbench-data"))
    datagen.generate(out, seed=7, scale=0.001)
    return out


def _last_executed_plan(spark) -> str:
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    last = None
    while it.hasNext():
        e = it.next()
        if last is None or e.executionId() > last.executionId():
            last = e
    return last.physicalPlanDescription()


def _plans(spark, df) -> tuple[str, str]:
    """(plan executed by the noop write, plan executed by count())."""
    df.write.format("noop").mode("overwrite").save()
    noop = _last_executed_plan(spark)
    df.count()
    return noop, _last_executed_plan(spark)


def _job(name):
    from quack_reduce_spark.inventory import all_queries

    return all_queries()[name]


def test_text_quality_noop_plan_computes_the_scores(spark, data_dir):
    df = _job("text_quality")(spark, data_dir)
    noop, count = _plans(spark, df)
    for column in ("n_stopwords", "stopword_ratio", "quality"):
        assert f"AS {column}" in noop, column
        assert f"AS {column}" not in count, column


def test_graph_pagerank_noop_plan_is_larger_than_count_plan(spark, data_dir):
    df = _job("graph_pagerank")(spark, data_dir)
    noop, count = _plans(spark, df)
    assert len(noop.splitlines()) > len(count.splitlines())


def test_tracker_reports_optimization_only_after_executed_plan(spark, data_dir):
    """A write plans a QueryExecution of its own: the frame's tracker
    must be read after forcing the frame's own ``executedPlan``."""
    from perfbench.tracing import tracker_phases_ms

    df = _job("text_quality")(spark, data_dir)
    df.write.format("noop").mode("overwrite").save()
    tracker = df._jdf.queryExecution().tracker()
    assert not tracker.phases().contains("optimization")
    tracker_phases_ms(df)
    assert tracker.phases().contains("optimization")
    assert tracker.phases().contains("planning")
