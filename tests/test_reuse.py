"""``reuse_persist`` (operators/reuse.py): the persist-based reuse of a
frame that feeds several branches of one query. The contract has two
halves — (a) within one invocation the frame is materialized once and
feeds every downstream branch (InMemoryTableScan in the plan, lineage
kept so a lost block recomputes), and (b) a LATER invocation of the
same site unpersists the previous entry, so reruns (bench reps, oracle
passes) recompute from the parquet inputs instead of replaying the
CacheManager's canonical-plan match."""

from __future__ import annotations

import pyspark.sql.functions as F

from quack_reduce_spark.operators.reuse import _LIVE, reuse_persist


def test_reuse_persist_unpersists_previous_entry(spark):
    # NOTE: DataFrame.storageLevel is a CacheManager lookup by
    # canonicalized plan, so the two invocations here use DIFFERENT
    # plans to make the entries distinguishable; for identical plans
    # the uncache-then-cache sequence empties and rebuilds the entry
    # the same way (unpersist removes the data either way).
    a = spark.range(10).withColumn("x", F.col("id") * 2)
    pa = reuse_persist(a, "__test_site")
    pa.count()  # materialize
    assert pa.storageLevel.useMemory
    b = spark.range(20).withColumn("x", F.col("id") * 3)
    pb = reuse_persist(b, "__test_site")
    # the previous invocation's entry is GONE (reruns recompute from
    # source — no unbounded cache growth across invocations) …
    assert not pa.storageLevel.useMemory
    # … and the new one is live
    pb.count()
    assert pb.storageLevel.useMemory
    assert _LIVE["__test_site"] is pb
    pb.unpersist()
    del _LIVE["__test_site"]


def test_reuse_persist_keeps_lineage_in_plan(spark):
    # persist (unlike localCheckpoint) keeps the full lineage: the
    # analyzed plan still reaches the range source, while the executed
    # plan reads the cache — both halves of the trade-off
    df = reuse_persist(
        spark.range(100).withColumn("y", F.col("id") + 1), "__test_lineage"
    )
    df.count()
    executed = df._jdf.queryExecution().executedPlan().toString()
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "InMemoryTableScan" in executed
    assert "Range" in analyzed  # lineage intact → recompute-on-loss works
    df.unpersist()
    del _LIVE["__test_lineage"]
