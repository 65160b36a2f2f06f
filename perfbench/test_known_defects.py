"""A defect in the engine that keeps a workload out of the benchmark.

``Engine.sql`` caches the result of a ``COUNT(*)`` that the zone-map
manifest answers without reading a file. That plan reads no table, so
the cached entry has an empty freshness scope and no append invalidates
it: the count is served stale. A workload that appends and then reads
through ``Engine.sql`` would report wrong answers, so the benchmark has
none yet. The test is a strict expected failure: once the engine is
fixed it passes, the marker has to go, and such a workload can be added.

    python3 -m pytest perfbench/test_known_defects.py -q
"""

from __future__ import annotations

import os

import pytest

from perfbench import datagen


@pytest.fixture(scope="module")
def spark():
    from quack_reduce_spark.session import get_spark

    return get_spark()


@pytest.mark.xfail(
    strict=True,
    raises=AssertionError,
    reason="Engine.sql serves a manifest-answered COUNT(*) from the result cache after an append",
)
def test_count_after_append_is_fresh(spark, tmp_path):
    from quack_reduce_spark import Engine
    from quack_reduce_spark.operators import zonemaps

    data = str(tmp_path / "data")
    n = datagen.generate(data, seed=3, scale=0.001, tables=["lineitem"])["lineitem"]
    src = os.path.join(data, "lineitem.parquet")
    table = str(tmp_path / "lineitem_c")
    eng = Engine(spark=spark)
    eng.write_clustered(spark.read.parquet(src), table, ["l_shipdate"], n_files=4)
    eng.register("lineitem_c", table)
    query = "SELECT COUNT(*) AS n FROM lineitem_c"
    assert eng.sql(query, limit=None).records == [{"n": n}]

    eng.write(spark.read.parquet(src), table, mode="append")
    zonemaps.append_zonemap(spark, table, ["l_shipdate"])
    eng.register("lineitem_c", table)

    assert spark.read.parquet(table).count() == 2 * n
    assert eng.sql(query, limit=None).records == [{"n": 2 * n}]
