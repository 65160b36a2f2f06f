"""Source/sink format coverage (SURVEY §2 Tier B scans/sinks): the
reference dialect reads parquet/csv/json (via app.py:51 passthrough);
here every format round-trips through the engine with schema fidelity.
Also pins the TIMESTAMP(NANOS) normalization (sources module)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from quack_reduce_spark.inventory._util import load
from quack_reduce_spark.sources import read_parquet_table, read_table


@pytest.fixture(scope="module")
def sample(spark, sf_dir):
    return load(spark, sf_dir, "orders").limit(200)


def test_csv_round_trip(spark, sample, tmp_path):
    p = str(tmp_path / "orders_csv")
    sample.write.option("header", "true").mode("overwrite").csv(p)
    back = read_table(spark, p, fmt="csv")
    assert back.count() == 200
    assert set(back.columns) == set(sample.columns)
    got = back.agg(F.sum("o_orderkey").alias("s")).collect()[0]["s"]
    want = sample.agg(F.sum("o_orderkey").alias("s")).collect()[0]["s"]
    assert got == want


def test_json_round_trip(spark, sample, tmp_path):
    p = str(tmp_path / "orders_json")
    sample.write.mode("overwrite").json(p)
    back = read_table(spark, p, fmt="json")
    assert back.count() == 200
    got = back.agg(F.sum("o_totalprice").alias("s")).collect()[0]["s"]
    want = sample.agg(F.sum("o_totalprice").alias("s")).collect()[0]["s"]
    assert abs(got - want) < 1e-6


def test_orc_round_trip(spark, sample, tmp_path):
    p = str(tmp_path / "orders_orc")
    sample.write.mode("overwrite").orc(p)
    back = read_table(spark, p, fmt="orc")
    assert back.count() == 200
    assert back.schema == sample.schema


def test_fixture_timestamp_matches_duckdb(spark, sf_dir):
    # whatever precision the fixture was written at (nanos in early
    # rounds, µs/NTZ now), the reader must deliver a timestamp column
    # whose instants match DuckDB reading the same file
    import duckdb

    events = read_parquet_table(spark, f"{sf_dir}/events.parquet")
    assert events.schema["ts"].dataType.typeName() in ("timestamp", "timestamp_ntz")
    got = events.agg(F.min("ts").alias("m")).collect()[0]["m"]
    want = duckdb.sql(
        f"SELECT MIN(ts) FROM '{sf_dir}/events.parquet'"
    ).fetchone()[0]
    assert got.replace(tzinfo=None) == want.replace(tzinfo=None)


def test_nanos_timestamp_normalization(spark, tmp_path):
    # parquet written with TIMESTAMP(NANOS) (pandas/pyarrow default in
    # older stacks) is rejected by Spark's vectorized reader; the
    # source layer must absorb it as µs TimestampType with
    # DuckDB-identical truncation. The fixture is now µs, so pin the
    # nanos wart with a synthesized file.
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "nanos.parquet")
    ts = pd.to_datetime(
        ["2024-01-01 00:00:00.123456789", "2024-06-30 23:59:59.999999999"]
    )
    pq.write_table(
        pa.table({"id": [1, 2], "ts": pa.array(ts, type=pa.timestamp("ns"))}),
        p,
        coerce_timestamps=None,
    )
    df = read_parquet_table(spark, p)
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    got = sorted(r["ts"] for r in df.collect())
    want = sorted(r[0] for r in duckdb.sql(f"SELECT ts FROM '{p}'").fetchall())
    assert [g.replace(tzinfo=None) for g in got] == [
        w.replace(tzinfo=None) for w in want
    ]


def test_partitioned_dir_scan_exposes_partition_column(spark, sample, tmp_path):
    # reference A2: HIVE_PARTITIONING=1 glob scan -> partition discovery
    p = str(tmp_path / "orders_part")
    sample.withColumn("yr", F.year("o_orderdate")).write.partitionBy("yr").mode(
        "overwrite"
    ).parquet(p)
    back = read_table(spark, p)
    assert "yr" in back.columns
    assert back.select("yr").distinct().count() >= 2


def test_hash_sample_is_partitioning_independent(spark, sf_dir):
    # seeded-hash sampling must pick the SAME rows regardless of split
    # layout (unlike df.sample, whose per-partition RNG ties results to
    # the physical partitioning).
    import pyspark.sql.functions as F

    from quack_reduce_spark.inventory._util import load

    li = load(spark, sf_dir, "lineitem")
    key = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    bucket = F.pmod(key * F.lit(2654435761), F.lit(100))
    a = {tuple(r) for r in li.filter(bucket < 5).select("l_orderkey", "l_linenumber").collect()}
    b = {
        tuple(r)
        for r in li.repartition(13)
        .filter(bucket < 5)
        .select("l_orderkey", "l_linenumber")
        .collect()
    }
    assert a == b
    frac = len(a) / li.count()
    assert 0.02 < frac < 0.09  # ~5% with slack for small fixtures


def test_merge_schema_reads_drifted_files(spark, tmp_path):
    # schema evolution: two parquet files with drifting columns read as
    # the union schema under merge_schema=True
    import pyspark.sql.functions as F

    from quack_reduce_spark.sources import read_parquet_table

    d = str(tmp_path / "drift")
    spark.createDataFrame([(1, "x")], "id long, a string").write.parquet(d + "/f1")
    spark.createDataFrame([(2, 3.5)], "id long, b double").write.parquet(d + "/f2")
    # move files into one dir
    import glob
    import shutil

    for i, f in enumerate(glob.glob(d + "/f*/part-*.parquet")):
        shutil.copy(f, f"{d}/part-{i}.parquet")
    merged = read_parquet_table(spark, d + "/part-*.parquet", merge_schema=True)
    assert {"id", "a", "b"} <= set(merged.columns)
    assert merged.count() == 2


def test_nanos_conf_not_left_session_sticky(spark, sf_dir):
    # ADVICE r1: read_parquet_table must restore the nanosAsLong conf
    # so OTHER plain spark.read paths keep real timestamp decoding
    prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    df = read_parquet_table(spark, f"{sf_dir}/events.parquet")
    after = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    assert after == prior
    # the returned df still decodes (conf captured at creation time)
    assert df.schema["ts"].dataType.typeName() in ("timestamp", "timestamp_ntz")
    assert df.limit(1).count() == 1


def test_configure_s3a_builder_options():
    # the object-store path can't run in this container (no S3), but
    # the committer/fadvise confs must at least be APPLIED by
    # configure_s3a so the cluster deployment path can't bit-rot
    from pyspark.sql import SparkSession

    from quack_reduce_spark.session import configure_s3a

    b = configure_s3a(SparkSession.builder)
    opts = b._options
    assert opts["spark.hadoop.fs.s3a.committer.magic.enabled"] == "true"
    assert opts["spark.sql.sources.commitProtocolClass"].endswith(
        "PathOutputCommitProtocol"
    )
    assert opts["spark.hadoop.fs.s3a.experimental.input.fadvise"] == "random"
    assert "DefaultAWSCredentialsProviderChain" in opts[
        "spark.hadoop.fs.s3a.aws.credentials.provider"
    ]


def test_schema_memo_sees_rewrite_inside_nested_partition(spark, tmp_path):
    # a file rewritten inside a=1/b=2/ changes neither the table root's
    # mtime nor its first-level entries; the memoized schema must still
    # be re-inferred, so the next read shows the added column
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "nested"
    leaf = root / "a=1" / "b=2"
    leaf.mkdir(parents=True)
    part = str(leaf / "part-0.parquet")
    pq.write_table(pa.table({"x": [1, 2]}), part)
    before = read_parquet_table(spark, str(root))
    assert set(before.columns) == {"x", "a", "b"}
    root_mtime = os.stat(root).st_mtime_ns
    pq.write_table(pa.table({"x": [3, 4], "y": ["p", "q"]}), part)
    assert os.stat(root).st_mtime_ns == root_mtime
    after = read_parquet_table(spark, str(root))
    assert set(after.columns) == {"x", "y", "a", "b"}
    assert sorted(r["y"] for r in after.collect()) == ["p", "q"]
